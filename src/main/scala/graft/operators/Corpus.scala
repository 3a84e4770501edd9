package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft._

/** Memoized tokenized-corpus frames shared across the text heavies.
  *
  * The n-gram/BPE/vocabulary family (q34, q94, q98, q108, q112,
  * q190, q207, …) each start by splitting `documents.text` on
  * whitespace and exploding some n-gram view of it — the same
  * corpus scan + tokenize repeated per query. On a cluster the
  * tokenized corpus is the canonical shared intermediate of a
  * training-data pipeline (tokenize once, fan out to dedup /
  * collocation / vocab / tokenizer-training consumers); here it is
  * one checkpointed frame per (session, dataset), memoized
  * through [[graft.FrameCache]] (bypassed inside plan audits so
  * sweeps still see full lineage — same contract as the graph edge
  * lists and the lang-id confusion frame).
  */
object Corpus {

  /** (doc_id, lang, source, tk ARRAY<STRING>): the whitespace-
    * tokenized corpus, repartitioned off the single-file scan so
    * every downstream explode uses all cores. */
  def tokenized(s: SparkSession, dir: String): DataFrame =
    FrameCache.getOrBuild(s, s"corpusTokenized:$dir") {
      Tables.documents(s, dir)
        .repartition(col("doc_id")) // single-file scan -> use every core
        .select(col("doc_id"), col("lang"), col("source"),
          split(col("text"), " ").as("tk"))
        .ckpt() // shared corpus tokenize: one scan+split for the family
    }
}
