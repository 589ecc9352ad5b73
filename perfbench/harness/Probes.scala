package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Hashing, Tables}
import graft.graph.TestGraph
import graft.pipeline.Docs

/** Module probes of a traced run: each one an isolated call into one
  * layer's public function, its result materialized and timed. */
object Probes {
  import Harness.{Op, Req, timed}

  /** Runs the whole plan and drops every row, so nothing is pruned the
    * way `count()` would prune it, and the adaptive plan is final. */
  def materialize(df: DataFrame): Unit =
    df.foreachPartition((it: Iterator[Row]) => it.foreach(_ => ()))

  private var sharesDnaEdges = -1L

  def run(spark: SparkSession, dir: String, req: Req, workload: String, t: Tracer,
          runOp: Op => Any): Unit = {
    def probe[T](name: String)(body: => T): (T, Double) = t.span(name)(timed(body))

    val table = if (workload == "kernels") "documents" else "customer"
    val (rows, scanS) = probe("tables.scan")(Tables.load(spark, dir, table).collect().length)
    t.sample("tables.scan_s", scanS)
    t.sample("tables.rows_per_s", rows / scanS)

    t.sample("testgraph.build_s", probe("testgraph.build")(
      materialize(TestGraph.sharesDna(spark, dir)))._2)
    if (sharesDnaEdges < 0) sharesDnaEdges = TestGraph.sharesDna(spark, dir).count()
    t.sample("testgraph.edges", sharesDnaEdges.toDouble)

    val g = TestGraph.graph(spark, dir)
    val within = col("distance") <= req.thr
    val expanded = g.expandFrom(Harness.seedNodes(spark, dir, req), within)
    t.sample("propertygraph.expand_s", probe("propertygraph.expand")(materialize(expanded))._2)
    val ids = expanded.select(col("id")).union(expanded.select(col("dst").as("id"))).distinct()
    val induced = g.filterEdges(within).inducedSubgraph(ids).edges
    t.sample("propertygraph.induced_s", probe("propertygraph.induced")(materialize(induced))._2)
    val (bhj, joins) = Harness.joinCounts(induced)
    if (joins > 0) t.sample("propertygraph.broadcast_join_frac", bhj.toDouble / joins)

    if (workload != "clouds") {
      // clouds takes these figures from its own requests
      t.span("clouds.view")(runOp(req))
      t.span("cloud.export")(runOp(req.copy(kind = "export")))
    }

    val grams = Docs.gramTable(spark, dir)
    t.sample("docs.gram_s", probe("docs.gram")(materialize(grams))._2)
    val cp = grams.localCheckpoint(eager = true)
    val n = cp.count()
    val hashS = probe("hashing.hash60")(materialize(cp.select(Hashing.hash60(col("gram")).as("h"))))._2
    t.sample("hashing.hash60_rows_per_s", n / hashS)
    cp.unpersist(blocking = true)
  }
}
