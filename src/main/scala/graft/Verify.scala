package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated key subset for fast local
    // iteration (the driver always invokes with exactly two args)
    val only = args.lift(2).map(_.split(",").toSet)
    // a filtered run must be unmistakable as such: loud banner + a
    // "subset" marker in manifest.json, so a misinvoked driver (or a
    // stray extra arg) can never pass off a shrunken gate as complete
    only.foreach { keys =>
      System.err.println(
        s"[verify] *** SUBSET RUN: ${keys.size} of ${SparkEntry.queries.size} " +
          s"keys (${keys.toSeq.sorted.mkString(", ")}) — NOT a full gate ***")
    }
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Fail LOUDLY: a query that cannot run must not silently vanish from
    // the correctness round (r1 lost g_two_hop this way). Every declared
    // key is accounted for in manifest.json; any failure flips exit code.
    val failures = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val emitted = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        emitted += name
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        failures += name -> msg.linesIterator.take(3).mkString(" | ")
        System.err.println(s"[verify] FAILED $name: $msg")
      }
    }
    def q(s: String): String = Json.q(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    def arr(xs: Seq[String]): String = xs.sorted.map(q).mkString("[", ",", "]")
    val manifest =
      s"""{"declared": ${arr(SparkEntry.queries.keys.toSeq)},
         | "subset": ${only.isDefined},
         | "emitted": ${arr(emitted.toSeq)},
         | "failed": {${failures.sortBy(_._1).map { case (k, m) => s"${q(k)}: ${q(m)}" }.mkString(",")}}}""".stripMargin
    Files.writeString(Paths.get(s"$outDir/manifest.json"), manifest)
    println(s"[verify] emitted ${emitted.size}/${SparkEntry.queries.size} queries" +
      (if (failures.nonEmpty) s"; FAILED: ${failures.map(_._1).mkString(", ")}" else ""))
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
