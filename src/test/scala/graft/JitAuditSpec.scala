package graft

import graft.functions.ArrayDotProduct.arrayDot
import org.apache.spark.sql.functions._

/** CI drive of the [[JitAudit]] listener — the in-loop extension of the
  * CodegenSizeSpec gate (r17 verdict task 2). Two claims: the listener
  * actually SEES the transient per-round plans an iterative kernel
  * materializes (the surface the static sweep can't reach), and a
  * planted method in HotSpot's interpreted-but-not-fallback gap is
  * caught, not skipped. */
class JitAuditSpec extends SparkSpec {

  /** Poll the async listener feed until the inspected count is stable
    * (the shared [[JitAudit.awaitStable]] loop, at report()'s 3 s
    * quiet window — one in-flight inspection is a codegen recompile
    * that can take hundreds of ms). */
  private def settle(l: JitAudit.Listener): Long =
    JitAudit.awaitStable(() => l.inspected, quietPolls = 10, pollMs = 300)

  test("the listener audits every in-loop stage of the iterative kernels") {
    val s = spark.newSession()
    val l = JitAudit.attachIf(enabled = true, s).get
    val nodes = s.range(500).select(col("id")).localCheckpoint(true)
    val edges = ScaleBench.syntheticEdges(s, 500, 25).localCheckpoint(true)
    // Gates.within(edges = -1): this spec audits the DISTRIBUTED loop
    // bodies (the surface the static sweep can't reach); the gated
    // driver twins would short-circuit them at this fixture size
    Gates.within(edges = -1L) {
      graph.Algorithms.connectedComponents(nodes, edges).count()
      graph.Algorithms.pageRank(nodes, edges).count()
    }
    val seen = settle(l)
    // each CC/pagerank round materializes at least one localCheckpoint
    // action — the audit must have inspected well more plans than the
    // two final counts (the whole point: loop bodies are visible)
    assert(seen >= 8, s"audit saw only $seen executed plans — the " +
      "in-loop localCheckpoint seam is not being observed")
    assert(l.failed == 0, s"${l.failed} plan inspections threw")
    assert(l.offenders.isEmpty,
      "the shipped kernels must stay under the JIT ceiling:\n" +
        l.offenders.mkString("\n"))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("the stabilization wait reports its deadline path honestly") {
    // an always-moving feed must hit the deadline and say so — report()
    // turns that into an UNCERTIFIED verdict instead of a silent pass
    // (the r18 ADVICE starved-feed blind spot)
    val c = new java.util.concurrent.atomic.AtomicLong
    val (_, settled) = JitAudit.awaitStableChecked(
      () => c.incrementAndGet(), quietPolls = 3, pollMs = 10, deadlineSec = 1)
    assert(!settled, "an always-moving feed must come back unsettled")
    val (v, ok) = JitAudit.awaitStableChecked(() => 7L, quietPolls = 3, pollMs = 10)
    assert(ok && v == 7L, "a quiet feed settles at its value")
  }

  test("a planted method in the JIT gap is caught by the in-loop audit") {
    // replicate the exact r17 offender shape: the per-bit sign-LSH
    // spelling inlines tables x bits unrolled 64-dim dots into ONE
    // generated method (a single nested expression tree — Spark's
    // splitExpressions cannot cut inside it), landing it in the
    // (8000, 65535] interpreted gap
    val s = spark.newSession()
    val l = JitAudit.attachIf(enabled = true, s).get
    val planes = pipeline.Similarity.epsPlanes(12)
    val tblCols = planes.map { tbl =>
      tbl.zipWithIndex.map { case (h, j) =>
        when(arrayDot(col("v"), typedLit(h.toSeq)) > 0, lit(1L << j))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    }
    // aggregate over the WHOLE array so neither column pruning (a bare
    // count drops the projection) nor extract-value simplification (an
    // element_at would keep only one table) deletes the planted work
    pipeline.Similarity.vectors(s, SF)
      .select(array(tblCols: _*).as("buckets"))
      .agg(max(col("buckets")))
      .collect()
    settle(l)
    assert(l.offenders.nonEmpty,
      "the planted 16x12 per-bit spelling must be flagged")
    assert(l.offenders.exists(_.maxMethodBytes > JitAudit.JitCeiling),
      s"flagged sizes must exceed the ceiling: ${l.offenders}")
  }
}
