package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Cloud, GraftExtensions, SparkEntry}
import graft.graph.{Clouds, TestGraph}

/** JVM side of the benchmark. It drives graft only through its public
  * API (registry keys, cloud views, the Cloud CLI's `run`, TestGraph,
  * PropertyGraph, Docs, Hashing) against the compiled classes.
  *
  *   Harness <workload> <planFile> <outFile> <trace 0|1> <dataDir>
  *           <warmDir> <tmpDir> <launchEpochMs> <seconds> <spansFile>
  *
  * The plan holds one operation per line: a `warm` line opens the
  * warm-up operations (run at `warmDir`, untimed), each `pass` line a
  * pass. Passes run whole, in order, until `seconds` have been
  * measured (at least one pass). One client thread, closed loop.
  * Every result is consumed in the JVM: views and registry keys are
  * collected and their rows digested (untimed) for the output check;
  * exports are written under `tmpDir` and read back by run.py.
  */
object Harness {

  sealed trait Op { def label: String }
  final case class Req(kind: String, mode: String, key: String, thr: Double) extends Op {
    def label = s"$kind:$mode:$key:$thr"
  }
  final case class Key(name: String) extends Op { def label = name }

  /** The plan's groups: the warm-up operations, then each pass. */
  def parsePlan(path: String): Vector[Vector[Op]] = {
    val groups = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Op]]
    Files.readAllLines(Paths.get(path), UTF_8).asScala.map(_.trim).filter(_.nonEmpty)
      .foreach { line =>
        line.split('\t').toList match {
          case ("warm" | "pass") :: Nil => groups += mutable.ArrayBuffer.empty[Op]
          case "key" :: name :: Nil => groups.last += Key(name)
          case kind :: mode :: key :: thr :: Nil if kind == "view" || kind == "export" =>
            groups.last += Req(kind, mode, key, thr.toDouble)
          case _ => throw new IllegalArgumentException(s"bad plan line: $line")
        }
      }
    groups.map(_.toVector).toVector
  }

  // ------------------------------------------------------------------
  // Cloud requests through the public API

  /** The (nodes, edges) frames of a view request. */
  def viewFrames(spark: SparkSession, dir: String, r: Req): (DataFrame, DataFrame) =
    r.mode match {
      case "taxon" =>
        (Clouds.cloudNodes(spark, dir, r.key, r.thr), Clouds.cloudEdges(spark, dir, r.key, r.thr))
      case "family" =>
        (Clouds.familyNodes(spark, dir, r.key, r.thr), Clouds.familyEdges(spark, dir, r.key, r.thr))
      case "host" | "host_harsh" =>
        val harsh = r.mode == "host_harsh"
        (Clouds.hostCloud(spark, dir, harsh, r.key, r.thr),
          Clouds.hostEdges(spark, dir, harsh, r.key, r.thr))
    }

  /** The Cloud CLI arguments of an export request; taxon mode also
    * writes the HTML page. */
  def exportArgs(dir: String, out: String, r: Req): Cloud.Args = {
    val base = Cloud.Args(data = Some(dir), out = Some(out), dist = Some(r.thr))
    r.mode match {
      case "taxon" => base.copy(taxon = Some(r.key), html = Some(s"$out/cloud.html"))
      case "family" => base.copy(family = Some(r.key), taxon = Some("subfamily"))
      case "host" => base.copy(host = Some(r.key))
      case "host_harsh" => base.copy(host = Some(r.key), harsh = true)
    }
  }

  /** A cloud's seed genomes, rebuilt from the public TestGraph tables the
    * way the cloud queries select them. */
  def seedNodes(spark: SparkSession, dir: String, r: Req): DataFrame = {
    val nodes = TestGraph.phageNodes(spark, dir)
    r.mode match {
      case "taxon" | "family" =>
        nodes.filter(col("source") === TestGraph.Ncbi && col("taxonomy").contains(r.key))
      case _ =>
        val host = TestGraph.hosts(spark, dir).filter(col("genus") === r.key)
        val inf = nodes.join(broadcast(host), col("hostkey") === col("host_id"), "left_semi")
        if (r.mode == "host_harsh") inf.filter(col("source") =!= TestGraph.Gtdb) else inf
    }
  }

  // ------------------------------------------------------------------
  // Order-insensitive result digest (columns sorted by name, rows as a
  // multiset). run.py computes the identical digest of DuckDB results.

  private def bits(d: Double): String = {
    val x = if (d == 0.0) 0.0 else d // -0.0 and 0.0 compare equal
    f"${java.lang.Double.doubleToLongBits(x)}%016x"
  }

  def enc(v: Any): String = v match {
    case null => "n"
    case b: Boolean => if (b) "b1" else "b0"
    case x: Byte => "i" + x
    case x: Short => "i" + x
    case x: Int => "i" + x
    case x: Long => "i" + x
    case x: Float => enc(x.toDouble)
    case x: Double => if (x.isNaN) "n" else "f" + bits(x) // NaN reads as NULL in pandas
    case x: java.math.BigDecimal => "f" + bits(x.doubleValue)
    case x: scala.math.BigDecimal => "f" + bits(x.toDouble)
    case x: String => "s" + x
    case x: java.sql.Timestamp =>
      "t" + (x.getTime / 1000 * 1000000L + x.getNanos / 1000 % 1000000L)
    case x: java.time.Instant => "t" + (x.getEpochSecond * 1000000L + x.getNano / 1000)
    case x: java.time.LocalDateTime =>
      enc(x.toInstant(java.time.ZoneOffset.UTC))
    case x: java.sql.Date => "d" + x.toLocalDate.toEpochDay
    case x: java.time.LocalDate => "d" + x.toEpochDay
    case x: Array[Byte] => "x" + x.map(b => f"$b%02x").mkString
    case x: Row => x.toSeq.map(enc).mkString("{", "\u001d", "}")
    case x: scala.collection.Map[_, _] =>
      x.toSeq.map { case (k, v) => enc(k) + "=" + enc(v) }.sorted.mkString("<", "\u001d", ">")
    case x: scala.collection.Seq[_] => x.map(enc).mkString("[", "\u001d", "]")
    case other => "?" + other.toString
  }

  def digest(columns: Seq[String], rows: Iterator[Row]): (String, Long) = {
    val order = columns.indices.sortBy(columns(_))
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    var n = 0L
    rows.foreach { r =>
      val h = md.digest(order.map(i => enc(r.get(i))).mkString("\u001f").getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
      n += 1
    }
    (s"${order.map(columns(_)).mkString(",")}|$n|${f"$sum%016x"}", n)
  }

  // ------------------------------------------------------------------
  // Plans

  /** The nodes of an executed frame's final (adaptive) plan. */
  def planNodes(df: DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] =
    PlanWalk.all(df.queryExecution.executedPlan)

  def customerScans(df: DataFrame): Int = planNodes(df).count {
    case s: org.apache.spark.sql.execution.FileSourceScanExec =>
      s.relation.location.rootPaths.exists(_.toString.contains("customer.parquet"))
    case _ => false
  }

  def joinCounts(df: DataFrame): (Int, Int) = {
    import org.apache.spark.sql.execution.joins._
    val joins = planNodes(df).collect {
      case j: BroadcastHashJoinExec => true
      case j: BroadcastNestedLoopJoinExec => true
      case j: SortMergeJoinExec => false
      case j: ShuffledHashJoinExec => false
      case j: CartesianProductExec => false
    }
    (joins.count(identity), joins.size)
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum else f.length

  // ------------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--oracle-sql")) {
      // Harness --oracle-sql <outFile> <key,key,...>: the registry's DuckDB
      // oracle SQL of the given keys, for make_digests.py
      val oracle = SparkEntry.oracleSql
      Files.writeString(Paths.get(args(1)), args(2).split(',').map(k =>
        Json.str(k) + ":" + Json.str(oracle(k))).mkString("{", ",\n", "}"))
      return
    }
    val Array(workload, planFile, outFile, traceArg, dataDir, warmDir, tmpDir,
      launchMs, secondsArg, spansFile) = args
    val trace = traceArg == "1"
    val seconds = secondsArg.toDouble
    val cpus = Runtime.getRuntime.availableProcessors
    val tmp = new File(tmpDir).getAbsoluteFile

    val heap = new HeapWatch
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions())
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(tmp, "warehouse").toString)
      .config("spark.local.dir", new File(tmp, "local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"[perfbench] session up ${(System.currentTimeMillis() - launchMs.toLong) / 1e3}%.2f s after launch")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    def span[T](name: String)(body: => T): T = tracer match {
      case Some(t) => t.span(name)(body)
      case None => body
    }
    val queries = SparkEntry.queries
    val sc = spark.sparkContext

    /** Drops the persistent RDDs an operation left registered and
      * returns how many there were. */
    def release(): Int = {
      val rdds = sc.getPersistentRDDs.values.toSeq
      rdds.foreach(_.unpersist(blocking = true))
      rdds.size
    }

    final case class Outcome(secs: Double, ok: Boolean, err: String,
                             fields: Seq[(String, String)])

    /** Runs one operation; the returned time covers the call and the
      * consumption of its result, nothing else. */
    def runOp(op: Op, dir: String, opId: String): Outcome = {
      val t0 = System.nanoTime()
      def secs = (System.nanoTime() - t0) / 1e9
      try op match {
        case Key(name) =>
          val df = queries(name)(spark, dir)
          val rows = df.collect()
          val s = secs
          val (d, n) = digest(df.columns.toSeq, rows.iterator)
          Outcome(s, ok = true, null, Seq("digest" -> Json.str(d), "rows" -> n.toString))
        case r @ Req("view", _, _, _) =>
          val ((nodes, edges), planS) = timed {
            val fr = viewFrames(spark, dir, r)
            fr._1.queryExecution.executedPlan; fr._2.queryExecution.executedPlan
            fr
          }
          val (n, e) = (nodes.collect(), edges.collect())
          val s = secs
          val (dn, nn) = digest(nodes.columns.toSeq, n.iterator)
          val (de, ne) = digest(edges.columns.toSeq, e.iterator)
          tracer.foreach { t =>
            t.sample("clouds.plan_s", planS)
            t.sample("clouds.exec_s", s - planS)
            t.sample("clouds.result_rows", (nn + ne).toDouble)
            t.sample("clouds.customer_scans",
              (customerScans(nodes) + customerScans(edges)).toDouble)
          }
          Outcome(s, ok = true, null, Seq("nodes" -> Json.str(dn), "edges" -> Json.str(de),
            "rows" -> (nn + ne).toString))
        case r @ Req("export", _, _, _) =>
          val out = new File(tmp, s"export-$opId").toString
          Cloud.run(spark, exportArgs(dir, out, r))
          val s = secs
          tracer.foreach { t =>
            t.sample("cloud.write_s", s)
            t.sample("cloud.written_mb", dirBytes(new File(out)) / 1e6)
          }
          Outcome(s, ok = true, null, Seq("out" -> Json.str(out)))
        case other => throw new IllegalArgumentException(s"unknown op $other")
      } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
            .take(1).mkString
          Outcome(secs, ok = false, s"${e.getClass.getSimpleName}: $msg", Nil)
      }
    }

    // ---- warm-up at the smallest scale factor: untimed, but counted in
    // set-up time
    val warmOps +: passes = parsePlan(planFile)
    span("warmup") {
      warmOps.foreach { op =>
        val o = runOp(op, warmDir, "warm")
        release()
        System.err.println(f"[perfbench] warm-up ${op.label} ${o.secs}%.2f s ${o.err}")
      }
    }

    // ---- measured passes
    val out = new PrintWriter(outFile, "UTF-8")
    val firstOpMs = System.currentTimeMillis()
    val setupS = (firstOpMs - launchMs.toLong) / 1000.0
    heap.reset()
    val t0 = System.nanoTime()
    var p = 0
    var leaked = 0
    val passSecs = mutable.ArrayBuffer.empty[Double]
    while (p < passes.size && (p == 0 || (System.nanoTime() - t0) / 1e9 < seconds)) {
      val pass = passes(p)
      var passS = 0.0
      span(s"pass-$p") {
        pass.zipWithIndex.foreach { case (op, i) =>
          val opId = s"$p-$i"
          val o = span(op.label) {
            val o = runOp(op, dataDir, opId)
            val l = release()
            leaked += l
            tracer.foreach(_.sample("checkpoints.leaked", l.toDouble))
            o
          }
          passS += o.secs
          val base = Seq("pass" -> p.toString, "i" -> i.toString,
            "op" -> Json.str(op match { case r: Req => r.kind; case _ => "key" }),
            "label" -> Json.str(op.label), "secs" -> o.secs.toString,
            "ok" -> o.ok.toString, "err" -> Json.str(o.err))
          out.println((base ++ o.fields).map { case (k, v) => Json.str(k) + ":" + v }
            .mkString("{", ",", "}"))
          out.flush()
        }
      }
      passSecs += passS
      tracer.foreach { t =>
        // module probes, once per pass; on clouds they take the pass's
        // first view request, elsewhere the registry's default cloud
        val req = pass.collectFirst { case r @ Req("view", _, _, _) => r }
          .getOrElse(Req("view", "taxon", TestGraph.Taxon, TestGraph.QueryThreshold))
        t.span(s"probes-$p")(Probes.run(spark, dataDir, req, workload, t,
          op => runOp(op, dataDir, s"probe-$p")))
        release()
      }
      p += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    val heapMb = heap.maxAfterGcMb()
    tracer.foreach { t =>
      t.sample("traced.pass_s", passSecs.sum / passSecs.size)
      t.finish()
    }
    val summary = Seq(
      "summary" -> "true",
      "setup_s" -> setupS.toString,
      "measured_s" -> measuredS.toString,
      "passes" -> passSecs.size.toString,
      "pass_s" -> passSecs.mkString("[", ",", "]"),
      "driver_live_heap_mb" -> heapMb.toString,
      "checkpoints_leaked" -> leaked.toString,
      "cpus" -> cpus.toString) ++
      tracer.map(t => "trace" -> t.metricsJson).toSeq
    out.println(summary.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}"))
    out.close()
    tracer.foreach(_.writeSpans(spansFile))
    spark.stop()
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }
}

object Json {
  def str(s: String): String =
    if (s == null) "null" else graft.Json.q(s)
}

/** Largest heap occupancy seen right after a collection: the usage
  * after GC of every heap pool, summed, read from the JVM memory beans
  * at each collection end. */
final class HeapWatch {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  @volatile private var maxBytes = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > maxBytes) maxBytes = used }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
  def reset(): Unit = synchronized { maxBytes = 0L }
  /** Forces one full collection so that a run always has a sample. */
  def maxAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    val b = synchronized { maxBytes }
    b / 1e6
  }
}
