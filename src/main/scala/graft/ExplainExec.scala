package graft

import org.apache.spark.scheduler.SparkListener
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Dev tool: dump the physical plan of every plan EXECUTED while
  * building and running the named registry keys — construction-time
  * kernel rounds included (loop checkpoints, convergence probes),
  * which `graft.Explain`'s final-plan dump cannot see because a loop
  * kernel's output plan is just a scan of its last checkpoint. This is
  * the honest before/after artifact for optimizations that change the
  * per-round ACTION structure of an iterative kernel (plans/r20): the
  * trailing count line records the round/action structure itself.
  *
  * Captures via the GLOBAL listener bus (`SparkListenerSQLExecutionStart
  * .physicalPlanDescription`, `spark.sql.ui.explainMode` = formatted),
  * NOT a per-session QueryExecutionListener — the loop kernels run
  * their rounds on child sessions (loopSession / bigSymCheckpoint /
  * boruvka's conf-scoped session), whose fresh listener managers a
  * session-registered listener never sees.
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.ExplainExec g_mst ..."
  *
  * Output: one `<key>.plans.txt` per key under `$SPARK_GRAFT_PLAN_DIR`
  * (default /tmp/graft_plans).
  */
object ExplainExec {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "/tmp/graft_plans")
    new java.io.File(outDir).mkdirs()
    val spark = GraftSession.builder()
      .config("spark.sql.ui.explainMode", "formatted")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val buf = new java.lang.StringBuilder
    @volatile var n = 0
    val listener = new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: SparkListenerSQLExecutionStart => buf.synchronized {
            n += 1
            buf.append(s"\n===== execution $n =====\n")
            buf.append(s.physicalPlanDescription).append("\n")
          }
          case _ => ()
        }
    }
    args.foreach { k =>
      buf.setLength(0); n = 0
      spark.sparkContext.addSparkListener(listener)
      val rows = SparkEntry.queries(k)(spark, sfDir).count()
      Thread.sleep(2000) // drain the async listener bus (dev tool)
      spark.sparkContext.removeSparkListener(listener)
      buf.append(s"\n===== $k: $n executed plans, $rows result rows =====\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/$k.plans.txt"), buf.toString)
      println(s"[explainexec] $k -> $outDir/$k.plans.txt ($n plans)")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
