package graft


/** Dev tool: print row counts for named query keys at a given SF dir. */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { k =>
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(k)(spark, sfDir).count()
      println(f"PROBE $k rows=$n elapsed=${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
