package graft


/** Dev tool: dump `explain("formatted")` for the named queries (or a
  * default headline set) so plan regressions — lost filter pushdown,
  * surprise broadcasts, codegen gaps — are auditable per round.
  *
  *   sbt "runMain graft.Explain q1_pricing_summary g_cloud_edges"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    val keys =
      if (args.nonEmpty) args.toSeq
      else Seq("q1_pricing_summary", "q5_local_supplier", "g_edges_build",
        "g_cloud_edges", "g_host_cloud", "d_minhash_lsh", "s_lsh_ann",
        "t_quality", "st_windowed_agg")
    keys.foreach { k =>
      println(s"\n========== $k ==========")
      SparkEntry.queries(k)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
