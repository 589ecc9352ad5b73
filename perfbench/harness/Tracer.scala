package perfbench

import java.io.PrintWriter

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Spans around the benchmark's calls into graft, kept in memory and
  * written out at the end. A span sets a SparkContext local property;
  * the listener attributes every job, stage and task to the span that
  * was innermost when the job started. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val Prop = "perfbench.span"
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final class Span(val id: Int, val parent: Int, val name: String, val startMs: Double) {
    var endMs: Double = Double.NaN
    val jobs = mutable.ArrayBuffer.empty[(Long, Long)] // job (start, end) epoch ms
    var stages, tasks = 0L
    var taskS, cpuS, gcS, shufWriteB, shufReadB, spillB, inputB = 0.0
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0)
  spans += new Span(0, -1, "run", nowMs)

  private val stageSpan = mutable.Map.empty[Int, Span]
  private val jobSpan = mutable.Map.empty[Int, (Span, Long)]
  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Prop))).map(id => spans(id.toInt))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      spanOf(e.properties).foreach { s =>
        jobSpan(e.jobId) = (s, e.time)
        e.stageIds.foreach(stageSpan(_) = s)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach { case (s, t0) => s.jobs += ((t0, e.time)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        s.tasks += 1
        s.taskS += m.executorRunTime / 1e3
        s.cpuS += m.executorCpuTime / 1e9
        s.gcS += m.jvmGCTime / 1e3
        s.shufWriteB += m.shuffleWriteMetrics.bytesWritten
        s.shufReadB += m.shuffleReadMetrics.totalBytesRead
        s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputB += m.inputMetrics.bytesRead
      }
    }
  }
  sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T = {
    val s = synchronized {
      val s = new Span(spans.size, stack.head, name, nowMs)
      spans += s
      s
    }
    stack = s.id :: stack
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endMs = nowMs
      stack = stack.tail
      sc.setLocalProperty(Prop, if (stack.head == 0) null else stack.head.toString)
    }
  }

  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def sample(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v

  /** Span time during which none of the span's jobs was running. */
  private def driverBusyS(s: Span): Double = {
    val iv = s.jobs.map { case (a, b) => (math.max(a.toDouble, s.startMs), math.min(b.toDouble, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA, curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    (s.endMs - s.startMs - covered) / 1e3
  }

  private def spanMetrics(s: Span): Seq[(String, Double)] = Seq(
    "spark.jobs" -> s.jobs.size.toDouble, "spark.stages" -> s.stages.toDouble,
    "spark.tasks" -> s.tasks.toDouble, "spark.task_s" -> s.taskS, "spark.cpu_s" -> s.cpuS,
    "spark.gc_s" -> s.gcS, "spark.shuffle_write_mb" -> s.shufWriteB / 1e6,
    "spark.shuffle_read_mb" -> s.shufReadB / 1e6, "spark.spill_mb" -> s.spillB / 1e6,
    "spark.input_mb" -> s.inputB / 1e6, "driver.busy_s" -> driverBusyS(s))

  private var keyRows = Seq.empty[String]

  /** Drains the listener bus and turns the operation spans (children
    * of a pass span) into per-operation samples. */
  def finish(): Unit = {
    sc.removeSparkListener(listener)
    org.apache.spark.PerfbenchBus.drain(sc)
    spans(0).endMs = nowMs
    val passIds = spans.filter(_.name.startsWith("pass-")).map(_.id).toSet
    val ops = spans.filter(s => passIds(s.parent))
    ops.foreach(s => spanMetrics(s).foreach { case (k, v) => sample(k, v) })
    keyRows = ops.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      def med(f: Span => Double) = Tracer.median(ss.map(f).toSeq)
      s"${Json.str(name)}:{" +
        s""""wall_s":${med(s => (s.endMs - s.startMs) / 1e3)},""" +
        s""""driver_s":${med(driverBusyS)},"jobs":${med(_.jobs.size.toDouble)}}"""
    }
  }

  /** Per-layer metrics (median over samples) plus per-operation
    * wall/driver/jobs figures, as one JSON object. */
  def metricsJson: String = {
    val m = samples.toSeq.map { case (k, v) => s"${Json.str(k)}:${Tracer.median(v.toSeq)}" }
    (m :+ s""""per_op":${keyRows.mkString("{", ",", "}")}""").mkString("{", ",", "}")
  }

  def writeSpans(path: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    spans.foreach { s =>
      val m = spanMetrics(s).map { case (k, v) => s"${Json.str(k)}:$v" }.mkString(",")
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},$m}""")
    }
    w.close()
  }
}

object Tracer {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Every node of an executed plan, descending through adaptive query
  * stages and subqueries; a reused exchange is not walked again. */
object PlanWalk {
  def all(p: SparkPlan): Seq[SparkPlan] = {
    val below = p match {
      case a: AdaptiveSparkPlanExec => all(a.executedPlan)
      case s: QueryStageExec => all(s.plan)
      case _: ReusedExchangeExec => Nil
      case _ => p.children.flatMap(all)
    }
    p +: (below ++ p.subqueries.flatMap(all))
  }
}
