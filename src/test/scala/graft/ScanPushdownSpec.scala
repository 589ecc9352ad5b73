package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Fleet-wide mechanization of SURVEY §4 rule 4 ("filters and
  * projections reach the scan") — the last §4 scale rule that had no
  * enforcing spec (r19 verdict task 1): until now only the manual
  * `graft.Explain` audit stood between a refactor and a silently
  * unpushed scan filter or an un-pruned wide read.
  *
  * For EVERY registry key this spec walks the final physical plan (AQE
  * and subquery subtrees included) AND every plan the key executes
  * while CONSTRUCTING its result — iterative operators root their
  * outputs at checkpoints, so their parquet scans only ever exist in
  * construction-time plans, the same blind spot [[JitAudit]] closes
  * for codegen — and collects each parquet scan's pushed filters and
  * required schema straight from the scan node (the programmatic twin
  * of the PushedFilters / ReadSchema lines in
  * `.explain("formatted")`, immune to the string form's truncation).
  *
  * Two fleet-wide invariants, each with an explicit allowlist so a new
  * operator that regresses fails here before it ships:
  *
  *  1. PUSHDOWN — a scan carrying data-column filters must have pushed
  *     at least one of them into the parquet reader (at minimum the
  *     inferred IsNotNull; a scan whose every residual predicate is
  *     untranslatable must be allowlisted with the reason).
  *  2. PRUNING — a scan of a ≥4-column table must read strictly fewer
  *     columns than the table has, unless the key genuinely consumes
  *     the full width (allowlisted with the reason). At 100 TB an
  *     un-pruned documents/lineitem scan is the single most expensive
  *     silent regression an edit can introduce.
  */
class ScanPushdownSpec extends SparkSpec {

  /** One parquet scan as audited: where it appeared, what it read,
    * what it pushed. */
  private case class ScanInfo(key: String, table: String, tableWidth: Int,
      readCols: Seq[String], pushed: String, nDataFilters: Int) {
    def label: String =
      s"$key/$table(read ${readCols.size}/$tableWidth cols, " +
        s"dataFilters=$nDataFilters, pushed=$pushed)"
  }

  /** Collect every FileSourceScanExec under a physical plan, descending
    * into AQE wrappers (LeafExecNodes hiding the real tree), AQE query
    * stages, and expression subqueries. */
  private def scansOf(p: SparkPlan): Seq[FileSourceScanExec] = {
    val here = p match {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scansOf(a.inputPlan)
      case q: QueryStageExec => scansOf(q.plan)
      case other => other.children.flatMap(scansOf)
    }
    here ++ p.subqueries.flatMap(scansOf)
  }

  private def info(key: String, s: FileSourceScanExec): ScanInfo = {
    val table = s.relation.location.rootPaths.headOption.map { p =>
      val base = p.getName
      if (base.endsWith(".parquet")) base.dropRight(8) else base
    }.getOrElse("?")
    ScanInfo(key, table, s.relation.dataSchema.size,
      s.requiredSchema.fieldNames.toSeq,
      s.metadata.getOrElse("PushedFilters", "[]"), s.dataFilters.size)
  }

  /** Captures the executed plan of every action fired while a key
    * builds its result (async — settle before reading). */
  private class Capture extends QueryExecutionListener {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val n = new java.util.concurrent.atomic.AtomicLong
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
      plans.add(qe.executedPlan); n.incrementAndGet(); ()
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Every parquet scan each key plans or executes, deduplicated.
    * Built once for the whole suite (the r10 PlanAuditSpec lesson:
    * isolate per-key build failures so one broken operator doesn't
    * void the fleet audit). */
  private lazy val (allScans: Seq[ScanInfo], buildFailures: Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val per = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val cap = new Capture
      spark.listenerManager.register(cap)
      val fin = scala.util.Try(fn(spark, SF).queryExecution.executedPlan)
      // construction-time actions deliver async on the shared queue
      JitAudit.awaitStable(() => cap.n.get, quietPolls = 3, pollMs = 50,
        deadlineSec = 30)
      spark.listenerManager.unregister(cap)
      val planned = fin.toOption.toSeq ++ cap.plans.iterator().asScala
      (name, fin.failed.toOption,
        planned.flatMap(scansOf).map(info(name, _)).distinct)
    }
    (per.flatMap(_._3),
      per.collect { case (n, Some(e), _) =>
        s"$n: ${Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.take(1).mkString}" })
  }

  /** (key, table) scans allowed to push NOTHING despite carrying data
    * filters — every residual predicate is untranslatable to a parquet
    * source filter. Two honest classes, triaged from the real plans
    * (r20): HASH-GATE — the only data filter is an inferred
    * `isnotnull(<hash60 of a non-null concat>)`, vacuous by
    * construction (concat_ws never yields NULL) but not foldable
    * (IntegralDivide is marked nullable) and not translatable (not a
    * bare attribute); TOKEN — the predicate is over `split(text)`
    * token arrays (`size(split(..)) > 0` / gram prefixes), which no
    * parquet filter can express, and the text column itself is
    * deliberately unfiltered (every document is scanned by design —
    * the filter only drops degenerate empties post-decode). */
  private val pushdownExempt: Map[(String, String), String] = {
    val hashGate = "HASH-GATE: vacuous inferred isnotnull over a " +
      "computed non-null hash60 — untranslatable, zero-selectivity"
    val token = "TOKEN: residual predicate over split(text) arrays — " +
      "untranslatable; text itself is unfiltered by design"
    Map(
      ("d_shuffle_index", "documents") -> hashGate,
      ("st_gap_detect", "events") ->
        ("HASH-GATE class: inferred isnotnull over the computed minute " +
          "bucket of ts — untranslatable, zero-selectivity"),
      ("d_funnel_report", "documents") -> token,
      ("d_method_overlap", "documents") -> token,
      ("d_ppl_filter", "documents") -> token,
      ("d_seq_pack", "documents") -> token,
      ("d_span_mask", "documents") -> token,
      ("t_bigram_lm", "documents") -> token,
      ("t_source_divergence", "documents") -> token,
      ("t_ttr", "documents") -> token
    )
  }

  /** (key, table) scans allowed to read the FULL table width — the key
    * genuinely consumes every column (triaged against the SQL/output,
    * r20). */
  private val fullWidthExempt: Map[(String, String), String] = Map(
    ("g_family_nodes", "customer") ->
      "the family metadata projection emits every customer attribute",
    ("g_family_nodes_genus", "customer") ->
      "same projection as g_family_nodes, genus-ranked colouring",
    ("q2_min_cost_supplier", "supplier") ->
      "Q2 emits s_acctbal+s_name and joins on s_suppkey+s_nationkey — all 4",
    ("q20_potential_part", "supplier") ->
      "Q20 emits s_name+s_acctbal and joins on s_suppkey+s_nationkey — all 4"
  )

  /** SEED-HOP: the seed side of a taxon or family cloud's bucketed 1-hop
    * filters on source and taxonomy (c_mktsegment, c_name) and joins on
    * the nation bucket with id and balance (c_nationkey, c_custkey,
    * c_acctbal) — every column of the five-column customer table. Only
    * the scan that pushes that seed rule is exempt, so the same keys'
    * node-side and edge-side scans must still prune. */
  private val seedHopKeys = Set("g_taxon_cloud", "g_cloud_nodes", "g_cloud_edges",
    "g_family_cloud", "g_viz_export", "g_viz_export_edges", "g_cloud_overlap")
  private def seedHop(s: ScanInfo): Boolean =
    seedHopKeys(s.key) && s.table == "customer" &&
      s.pushed.contains(s"EqualTo(c_mktsegment,${graph.TestGraph.Ncbi})") &&
      s.pushed.contains("StringContains(c_name,")

  test("every registered key's scans are auditable (plans build)") {
    assert(buildFailures.isEmpty,
      s"plans fail to build: ${buildFailures.mkString("; ")}")
    // coverage floor: the audit must actually be seeing the fleet's
    // scans — an accidentally-empty collection must not read as green
    val keysWithScans = allScans.map(_.key).distinct.size
    assert(keysWithScans >= 150,
      s"only $keysWithScans keys produced auditable parquet scans — " +
        "the capture is broken, not the fleet")
    val tables = allScans.map(_.table).toSet
    assert(Set("lineitem", "orders", "customer", "documents",
      "embeddings", "events").subsetOf(tables),
      s"core tables missing from the audited scans: $tables")
  }

  test("rule 4a: a scan carrying data filters pushes at least one") {
    val offenders = allScans
      .filter(s => s.nDataFilters > 0 && s.pushed == "[]")
      .filterNot(s => pushdownExempt.contains((s.key, s.table)))
    assert(offenders.isEmpty,
      s"scans filter data columns but push nothing: " +
        offenders.map(_.label).distinct.mkString("; "))
  }

  test("rule 4b: a scan of a wide table prunes its read schema") {
    val offenders = allScans
      .filter(s => s.tableWidth >= 4 && s.readCols.size >= s.tableWidth)
      .filterNot(s => fullWidthExempt.contains((s.key, s.table)) || seedHop(s))
    assert(offenders.isEmpty,
      s"scans read the full table width with no allowlisted reason: " +
        offenders.map(_.label).distinct.mkString("; "))
  }
}
