import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Engine-wide checkpoint seam: every `localCheckpoint()` in the
  * query surface goes through `.ckpt()` so plan audits can see the
  * subtrees a checkpoint would otherwise hide.
  *
  * Why: `localCheckpoint()` replaces the plan below it with a
  * LogicalRDD, which hides that subtree from any mechanized plan sweep
  * (the r6 verdict's q245 blind spot — its calendar-bounded day-axis
  * windows sat below an eager checkpoint and were adjudicated only in
  * a comment). Simply DISABLING checkpoints for the audit does not
  * work: iterative queries (PageRank, power iteration, Borůvka, BPE)
  * rely on the lineage cut to keep the logical plan linear — without
  * it the plan doubles per iteration and `optimizedPlan` alone runs
  * for hours (measured: >15 min on one query before abort). So audit
  * mode RECORDS instead: inside `Ckpt.withAudit { ... }` each
  * `.ckpt()` appends the segment's own optimized plan to a buffer and
  * then checkpoints as usual. Every lineage segment stays small, the
  * query builds exactly as in production, and the sweep audits the
  * final plan PLUS every recorded segment — full coverage, no blowup.
  *
  * The buffer is a ThreadLocal because sbt runs suites concurrently in
  * one forked JVM — a global would leak audit segments across
  * whichever specs are interleaved with the sweep.
  */
package object graft {

  object Ckpt {
    private val rec: ThreadLocal[Option[collection.mutable.ArrayBuffer[LogicalPlan]]] =
      ThreadLocal.withInitial(() => None)
    // checkpoint RDD id -> the segment plan the checkpoint replaced.
    // Survives withAudit's return (the sweep resolves LogicalRDD
    // leaves at join sites AFTER the audited build completes); keyed
    // by RDD id because a self-join dedup re-instances the LogicalRDD
    // with fresh exprIds but keeps the same underlying RDD.
    private val segs: ThreadLocal[collection.mutable.Map[Int, LogicalPlan]] =
      ThreadLocal.withInitial(() => collection.mutable.Map.empty[Int, LogicalPlan])

    private[graft] def record(p: => LogicalPlan): Unit =
      rec.get().foreach(_ += p)

    private[graft] def recordSeg(rddId: Int, p: LogicalPlan): Unit =
      if (auditing) segs.get().update(rddId, p)

    /** The optimized segment plan a checkpoint with this RDD id hides
      * — valid on the auditing thread until the next [[withAudit]]. */
    def segmentFor(rddId: Int): Option[LogicalPlan] = segs.get().get(rddId)

    /** True while THIS thread is inside [[withAudit]] — memoizers use
      * it to bypass their cache so every query's full build (and its
      * checkpointed segments) is actually swept, not served from a
      * frame some earlier query recorded. */
    def auditing: Boolean = rec.get().isDefined

    /** Run `f` in plan-audit mode on THIS thread: returns (result,
      * optimized plan of every checkpointed segment built inside `f`,
      * in build order). Always restores, including on exceptions. */
    def withAudit[A](f: => A): (A, Seq[LogicalPlan]) = {
      val buf = collection.mutable.ArrayBuffer.empty[LogicalPlan]
      rec.set(Some(buf))
      segs.get().clear()
      try { val a = f; (a, buf.toSeq) } finally rec.set(None)
    }
  }

  implicit class CkptOps[T](private val ds: Dataset[T]) extends AnyVal {
    /** Lazy local checkpoint: the lineage cut happens here, at plan
      * construction (the subtree is swapped for a LogicalRDD at once);
      * the segment materializes — persisted once computed — inside
      * the first action that consumes it, not as a job of its own. In
      * plan-audit mode, additionally records this segment's optimized
      * plan so the sweep sees what the checkpoint hides — both as a
      * flat segment list and keyed by the checkpoint RDD's id so join
      * sites over LogicalRDD leaves can be classified.
      *
      * Lazy since r13: with AQE the segment's shuffle stages still run
      * at build time, but the final result-stage pass (one full job per
      * checkpoint — iterative queries carry 5-15 of them) folds into
      * the first consuming action, and every multi-consumer site still
      * reads the materialized blocks. Measured r13: -0.5..-1.4 s on the
      * checkpoint-heavy heavies at sf0.1, value-identical results
      * (447/447 oracle-green). */
    def ckpt(): Dataset[T] =
      if (Ckpt.auditing) {
        val seg = ds.queryExecution.optimizedPlan
        Ckpt.record(seg)
        val out = ds.localCheckpoint(eager = false)
        out.queryExecution.analyzed match {
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            Ckpt.recordSeg(l.rdd.id, seg)
          case _ => ()
        }
        out
      } else ds.localCheckpoint(eager = false)
  }
}
