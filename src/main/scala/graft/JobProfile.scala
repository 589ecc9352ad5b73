package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool: run registry keys under bench-identical session conf and
  * report, per key, the JOB/STAGE/TASK shape of the execution — jobs
  * launched, stages run, summed task time, shuffle bytes — next to the
  * wall clock. Separates "compute-bound" from "fixed-overhead-bound"
  * (hundreds of tiny jobs from an iterative kernel's per-round
  * actions), which is the first split any optimization of the loop
  * kernels needs (guide §1: measure first).
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.JobProfile g_mst ..."
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    val cpus = spark.sparkContext.defaultParallelism
    spark.sparkContext.setLogLevel("ERROR")
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0L
    @volatile var taskMs = 0L
    @volatile var shufWrite = 0L
    @volatile var shufRead = 0L
    // per-stage records for the top-by-task-time dump (SPARK_GRAFT_STAGES=n)
    val stageRecs = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, String)]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        synchronized {
          stages += 1
          tasks += s.stageInfo.numTasks
          taskMs += s.stageInfo.taskMetrics.executorRunTime
          shufWrite += s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
          shufRead += s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead
          // AQE stages all carry the opaque withThreadLocalCaptured
          // callsite; the RDD scope names (operator tree) say what the
          // stage actually ran, and any graft frame in the details
          // call stack says which operator built it
          val ops = s.stageInfo.rddInfos.flatMap(_.scope.map(_.name))
            .distinct.mkString(",").take(90)
          val site = s.stageInfo.details.linesIterator
            .find(l => l.contains("graft.") && !l.contains("JobProfile"))
            .map(_.trim.take(70)).getOrElse("")
          stageRecs += ((s.stageInfo.taskMetrics.executorRunTime,
            s.stageInfo.numTasks,
            s.stageInfo.name.linesIterator.take(1).mkString.take(60) +
              s" [$ops] $site"))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    // one warmup pass at the smallest SF so JIT noise does not read as
    // compute (same rationale as Bench's warmup)
    val warmDir = "/root/testdata/sf0.001"
    args.foreach { k =>
      if (new java.io.File(warmDir).isDirectory)
        try SparkEntry.queries(k)(spark, warmDir).count()
        catch { case _: Throwable => () }
      // listener events are async; a short drain pause is plenty for a
      // dev tool (the bus clears in ms once the action returns)
      Thread.sleep(500)
      synchronized { jobs = 0; stages = 0; tasks = 0; taskMs = 0; shufWrite = 0; shufRead = 0; stageRecs.clear() }
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(k)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      println(f"PROFILE $k rows=$n wall=$wall%.2fs jobs=$jobs stages=$stages " +
        f"tasks=$tasks taskTime=${taskMs / 1e3}%.1fs " +
        f"shufW=${shufWrite / 1e6}%.1fMB shufR=${shufRead / 1e6}%.1fMB " +
        f"parallelEff=${taskMs / 1e3 / wall / cpus.toDouble}%.2f")
      sys.env.get("SPARK_GRAFT_STAGES").map(_.toInt).foreach { topN =>
        stageRecs.sortBy(-_._1).take(topN).foreach { case (ms, nt, nm) =>
          println(f"  STAGE ${ms / 1e3}%7.1fs tasks=$nt%-4d $nm")
        }
      }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
