package graft.queries

import graft.TestSpark
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import scala.util.Try

/** One query's plan audit: its final optimized plan and, in build
  * order, the optimized plan behind each checkpoint its build made,
  * keyed by checkpoint RDD id. */
final case class QueryAudit(
    name: String,
    finalPlan: LogicalPlan,
    segments: Seq[(Int, LogicalPlan)]) {
  /** The final plan followed by every checkpointed segment. */
  def plans: Seq[LogicalPlan] = finalPlan +: segments.map(_._2)

  /** The segment a LogicalRDD leaf over this RDD id stands for. */
  lazy val segmentFor: Map[Int, LogicalPlan] = segments.toMap
}

object QueryAudit {
  /** Build `q` under `Ckpt.withAudit` (FrameCache bypassed, every
    * checkpoint recorded). */
  def of(q: graft.QueryDef, dir: String): QueryAudit = {
    val (finalPlan, segments) = graft.Ckpt.withAudit {
      q.build(TestSpark.spark, dir).queryExecution.optimizedPlan
    }
    QueryAudit(q.name, finalPlan, segments)
  }
}

/** The plan sweeps' findings over the whole registered surface, from
  * ONE audited build per query: PlanSweepSpec, DivisorSweepSpec and
  * OrderSweepSpec each read their part of [[findings]], so the 447
  * builds happen once per test JVM instead of once per sweep.
  *
  * Only the finding strings are kept. Each query's audit is dropped
  * before the next query builds: holding every plan of the surface at
  * once costs gigabytes of heap. A failed build is memoized as the
  * failure, so each of the three suites reports it without rebuilding.
  */
object SurfaceAudit {
  private val dir = "/root/testdata/sf0.001"

  /** plan: (query, allowlist pattern, offence); divisor / order: the
    * ratchet lines of those sweeps. */
  final case class Findings(
      plan: Seq[(String, String, String)],
      divisor: Seq[String],
      order: Seq[String])

  lazy val findings: Try[Findings] = Try {
    val plan = Seq.newBuilder[(String, String, String)]
    val divisor = Seq.newBuilder[String]
    val order = Seq.newBuilder[String]
    val defs = graft.SparkEntry.defs
    val t0 = System.nanoTime()
    for (q <- defs) {
      val a = QueryAudit.of(q, dir)
      plan ++= PlanSweepSpec.check(a).map { case (p, o) => (q.name, p, o) }
      divisor ++= DivisorSweepSpec.check(a)
      order ++= OrderSweepSpec.check(a)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    System.gc()
    val rt = Runtime.getRuntime
    val usedMb = (rt.totalMemory - rt.freeMemory) >> 20
    println(f"[surface-audit] ${defs.size}%d queries in $secs%.1f s; " +
      f"heap in use after GC: $usedMb%d MB")
    Findings(plan.result(), divisor.result(), order.result())
  }
}
