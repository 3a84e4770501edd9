import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Engine-wide checkpoint seam: every `localCheckpoint()` in the
  * query surface goes through `.ckpt()` so plan audits can see the
  * subtrees a checkpoint would otherwise hide.
  *
  * Why: `localCheckpoint()` replaces the plan below it with a
  * LogicalRDD, which hides that subtree from any mechanized plan sweep
  * (the r6 verdict's q245 blind spot — its calendar-bounded day-axis
  * windows sat below a checkpoint and were adjudicated only in a
  * comment). Simply DISABLING checkpoints for the audit does not
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
  * The buffer is a ThreadLocal so that audit mode is scoped to the
  * thread that entered [[Ckpt.withAudit]]: code running on any other
  * thread (a streaming query's micro-batch thread, say) keeps
  * production behaviour — FrameCache hits, nothing recorded — while
  * an audit is open. It is not there for concurrent suites: build.sbt
  * forks one test JVM without `testForkedParallel`, so suites run one
  * after another.
  */
package object graft {

  object Ckpt {
    private val rec: ThreadLocal[Option[collection.mutable.ArrayBuffer[(Int, LogicalPlan)]]] =
      ThreadLocal.withInitial(() => None)

    private[graft] def record(rddId: Int, p: LogicalPlan): Unit =
      rec.get().foreach(_ += (rddId -> p))

    /** True while THIS thread is inside [[withAudit]] — memoizers use
      * it to bypass their cache so every query's full build (and its
      * checkpointed segments) is actually swept, not served from a
      * frame some earlier query recorded. */
    def auditing: Boolean = rec.get().isDefined

    /** Run `f` in plan-audit mode on THIS thread: returns the result
      * and every checkpointed segment built inside `f`, in build order,
      * as (checkpoint RDD id, optimized plan the checkpoint replaced).
      * Keyed by RDD id rather than by LogicalRDD because a self-join
      * dedup re-instances the LogicalRDD with fresh exprIds but keeps
      * the same underlying RDD. The pairs are plain values: they stay
      * valid after later audits. Always restores, including on
      * exceptions. */
    def withAudit[A](f: => A): (A, Seq[(Int, LogicalPlan)]) = {
      val buf = collection.mutable.ArrayBuffer.empty[(Int, LogicalPlan)]
      rec.set(Some(buf))
      try { val a = f; (a, buf.toSeq) } finally rec.set(None)
    }
  }

  implicit class CkptOps[T](private val ds: Dataset[T]) extends AnyVal {
    /** Lazy local checkpoint: the lineage cut happens here, at plan
      * construction (the subtree is swapped for a LogicalRDD at once);
      * the segment materializes — persisted once computed — inside
      * the first action that consumes it, not as a job of its own. In
      * plan-audit mode, additionally records this segment's optimized
      * plan under the checkpoint RDD's id, so the sweep sees what the
      * checkpoint hides and can classify join sites over LogicalRDD
      * leaves.
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
        val out = ds.localCheckpoint(eager = false)
        // a checkpointed Dataset's plan is one LogicalRDD over its RDD
        val leaf = out.queryExecution.analyzed
          .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
        Ckpt.record(leaf.rdd.id, seg)
        out
      } else ds.localCheckpoint(eager = false)
  }
}
