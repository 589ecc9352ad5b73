package graft

/** Fleet-wide plan guard: no operator may plan an unbounded pair
  * product. A CartesianProduct is never acceptable; a
  * BroadcastNestedLoopJoin is acceptable only where one side is bounded
  * by construction (the fixed query set / centroid table the operator
  * broadcasts on purpose) — those are allowlisted explicitly so a new
  * operator that accidentally theta-joins fails here before it ships. */
class PlanAuditSpec extends SparkSpec {

  /** Ops whose plan legitimately contains a BNLJ over a
    * bounded-by-construction broadcast side. */
  private val boundedBnlj = Set(
    "s_cosine_topk", // fixed nQueries query vectors × corpus
    "d_ppl_filter",  // ONE-row tertile-cuts scalar × corpus verdict join
    "s_mips_topk",   // fixed nQueries query vectors × corpus (ip scoring)
    "s_mips_ann",    // ONE-row global-max-norm scalar × corpus (banded augmentation)
    "s_ivf_ann",     // NumLists centroids × corpus (assignment cross)
    "s_ivfpq_ann",   // same NumLists coarse-assignment cross as s_ivf_ann
    "s_kmeans",      // KmeansK centroids × corpus (assignment cross)
    "q22_dormant_balance", // ONE-row scalar-average aggregate × customer
    "q11_important_stock", // ONE-row (total, n_parts) scalar × per-part aggregate
    "s_cluster_purity",    // embeds s_kmeans' centroid-assignment cross
    "s_ann_recall",        // embeds s_cosine_topk's fixed-query broadcast
    "s_recall_curve",      // same embedded fixed-query/centroid crosses as s_ann_recall
    "d_mix_weights",       // ONE-row (total, n_langs) scalar × per-lang aggregate
    "d_temperature_mix",   // ONE-row (total, Z) scalar × per-lang aggregate
    "s_silhouette",        // embeds s_kmeans' centroid-assignment cross (k rows)
    "d_importance_weights", // ONE-row (N_target, N_raw) corpus-mass scalar × per-doc aggregate
    "g_modularity",        // two ONE-row aggregates (m, E_in) × the community stats row
    "t_source_divergence", // ONE-row corpus-token-total scalar × per-term frame
    "d_epoch_schedule",    // ONE-row (n_total, n_sources) scalar × source dimension
    "q_basket_pairs"       // ONE-row basket-universe count × the support pairs
  )

  /** Build every registered plan ONCE, isolating per-key failures so a
    * single broken operator surfaces as its own labelled assertion
    * instead of voiding the fleet-wide audit (r10 lesson: two
    * analysis-time failures silently decertified all 133 healthy
    * plans). */
  private lazy val builtPlans: Map[String, Either[Throwable, String]] =
    SparkEntry.queries.map { case (name, fn) =>
      name -> scala.util.Try(
        fn(spark, SF).queryExecution.executedPlan.toString).toEither
    }

  test("every registered operator's plan builds (analysis succeeds)") {
    val broken = builtPlans.collect { case (name, Left(e)) =>
      s"$name: ${e.getMessage.linesIterator.take(2).mkString(" ")}"
    }.toSeq.sorted
    assert(broken.isEmpty, s"plans fail to build: ${broken.mkString("; ")}")
  }

  test("no operator plans a cartesian product; BNLJ only where bounded") {
    val offenders = builtPlans.toSeq.sortBy(_._1).flatMap {
      case (_, Left(_)) => None // reported by the build-failure assertion
      case (name, Right(plan)) =>
        val cartesian = plan.contains("CartesianProduct")
        val bnlj = plan.contains("BroadcastNestedLoopJoin") && !boundedBnlj(name)
        if (cartesian) Some(s"$name: CartesianProduct")
        else if (bnlj) Some(s"$name: unallowlisted BroadcastNestedLoopJoin")
        else None
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  /** SURVEY §4 rule 4 ("filters and projections reach the scan"),
    * enforced mechanically on representative scan-heavy operators: the
    * scan node must carry the operator's selective predicate as a
    * pushed filter, and must NOT read columns the query never uses. */
  test("representative operators push filters and prune columns at the scan") {
    def scanOf(name: String, table: String): String = {
      val plan = SparkEntry.queries(name)(spark, SF)
        .queryExecution.executedPlan.toString
      plan.linesIterator.filter(l =>
        l.contains("FileScan") && l.contains(table)).mkString("\n")
    }
    // Q1: the shipdate predicate is pushed; comment/shipmode never read
    val q1 = scanOf("q1_pricing_summary", "lineitem")
    assert(q1.contains("l_shipdate"), s"q1 scan lost its date pushdown: $q1")
    assert(!q1.contains("l_partkey") && !q1.contains("l_suppkey"),
      "q1 must not read join keys it never uses")
    // Q10: returnflag equality pushed to the lineitem scan
    val q10 = scanOf("q10_returned_items", "lineitem")
    assert(q10.contains("EqualTo(l_returnflag,R)"),
      s"q10 returnflag filter must reach the scan: $q10")
    // contamination: the benchmark-id range predicates reach the scan
    val cont = SparkEntry.queries("d_contamination")(spark, SF)
      .queryExecution.executedPlan.toString
    assert(cont.contains("LessThan(doc_id,10)") &&
      cont.contains("GreaterThanOrEqual(doc_id,10)"),
      "contamination doc_id split must be pushed to both scans")
    // graph seeds: the source equality is pushed to the customer scan
    val cloud = SparkEntry.queries("g_taxon_cloud")(spark, SF)
      .queryExecution.executedPlan.toString
    assert(cloud.contains("EqualTo(c_mktsegment,BUILDING)"),
      "seed source filter must reach the customer scan")
  }

  test("r7 operators push filters and prune columns at the scan") {
    def scanOf(name: String, table: String): String = {
      val plan = SparkEntry.queries(name)(spark, SF)
        .queryExecution.executedPlan.toString
      plan.linesIterator.filter(l =>
        l.contains("FileScan") && l.contains(table)).mkString("\n")
    }
    // Q4: the quarter predicate reaches the orders scan; the semi join
    // must prune the lineitem payload down to the key + residual column
    val q4o = scanOf("q4_priority_exists", "orders")
    assert(q4o.contains("o_orderdate"),
      s"q4 date filter must reach the orders scan: $q4o")
    val q4l = scanOf("q4_priority_exists", "lineitem")
    assert(!q4l.contains("l_extendedprice") && !q4l.contains("l_quantity"),
      s"q4 semi join must not read lineitem payload: $q4l")
    // anti join: same discipline on the orders side
    val anti = scanOf("q_anti_inactive", "orders")
    assert(anti.contains("o_orderdate"),
      s"anti-join window filter must reach the orders scan: $anti")
    assert(!anti.contains("o_totalprice"),
      s"anti join needs only (custkey, date) from orders: $anti")
    // token histogram: documents scan prunes to (text, lang)
    val th = scanOf("t_token_histogram", "documents")
    assert(th.contains("text") && !th.contains("n_chars") && !th.contains("source"),
      s"token histogram must read only (text, lang): $th")
    // PQ: embeddings scan never reads the unused label column
    val pq = scanOf("s_pq_ann", "embeddings")
    assert(!pq.contains("label"),
      s"PQ must not read the label column: $pq")
  }

  test("r8 operators push filters, prune columns, and use the native operators") {
    def planOf(name: String): String =
      SparkEntry.queries(name)(spark, SF).queryExecution.executedPlan.toString
    def scanOf(name: String, table: String): String =
      planOf(name).linesIterator.filter(l =>
        l.contains("FileScan") && l.contains(table)).mkString("\n")
    // Q9: the widget name filter reaches the part scan; orders payload
    // pruned to (orderkey, orderdate)
    val q9p = scanOf("q9_product_profit", "part")
    assert(q9p.contains("StringContains(p_name,widget)"),
      s"q9 name filter must reach the part scan: $q9p")
    val q9o = scanOf("q9_product_profit", "orders")
    assert(!q9o.contains("o_totalprice") && !q9o.contains("o_orderpriority"),
      s"q9 needs only (orderkey, orderdate) from orders: $q9o")
    // Q7: the two-nation filter is a broadcast-side dimension filter;
    // the lineitem scan carries the shipdate window
    val q7l = scanOf("q7_volume_shipping", "lineitem")
    assert(q7l.contains("l_shipdate"),
      s"q7 shipdate window must reach the lineitem scan: $q7l")
    // q22: the dormancy window reaches the orders scan of the anti join
    val q22o = scanOf("q22_dormant_balance", "orders")
    assert(q22o.contains("o_orderdate"),
      s"q22 window filter must reach the orders scan: $q22o")
    // the capped candidate paths run through the native two-phase heap,
    // and the rescore's join plan through the codegen'd two-pointer
    // intersect. g_link_pred's full query hides both behind its eager
    // output checkpoint (the r16 release lifecycle), so audit the lazy
    // rescore frame the join plan hands its finisher (the
    // knn-candidates precedent below)
    val lp = Gates.within(cells = -1L) {
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val nbrs = Seq((0L, 1L), (1L, 0L)).toDF("node", "nbr")
      graft.graph.Algorithms.pairRescore(graft.graph.Clouds.cappedCandidates(nbrs, 4),
          nbrs.select(col("node").as("u"), col("nbr").as("v")), 2L)(
        _.queryExecution.executedPlan.toString)
    }
    assert(lp.contains("TopKPerGroup"),
      "link prediction candidates must use the native heap operator")
    assert(lp.contains("sorted_intersect_count"),
      "link prediction rescore must use the native intersect expression")
    // s_knn_graph's heap sits behind a localCheckpoint in the full
    // query, so audit the candidate stage's own plan
    val knnCand = {
      import spark.implicits._
      graft.pipeline.Similarity.knnCandidates(
        Seq((0L, 0, 0L)).toDF("vec_id", "table", "bucket"), 4)
        .queryExecution.executedPlan.toString
    }
    assert(knnCand.contains("TopKPerGroup"),
      "kNN bucket cap must run through the native heap operator")
    // segment dedup reads only (doc_id, text) from documents — asserted
    // on the pre-checkpoint segment table (the shared-input checkpoint
    // hides the FileScan from the final plan)
    val seg = graft.pipeline.Dedup
      .segmentTable(spark, SF, graft.pipeline.Dedup.SegTokens)
      .queryExecution.executedPlan.toString
      .linesIterator.filter(l =>
        l.contains("FileScan") && l.contains("documents")).mkString("\n")
    assert(seg.contains("text") && !seg.contains("source") && !seg.contains("n_chars"),
      s"segment dedup must read only (doc_id, text): $seg")
  }

  test("r9 operators: pruned scans and range-sliced budget windows") {
    def planOf(name: String): String =
      SparkEntry.queries(name)(spark, SF).queryExecution.executedPlan.toString
    def scanOf(name: String, table: String): String =
      planOf(name).linesIterator.filter(l =>
        l.contains("FileScan") && l.contains(table)).mkString("\n")
    // shuffle index needs nothing but the id column from documents
    val si = scanOf("d_shuffle_index", "documents")
    assert(si.contains("doc_id") && !si.contains("text") && !si.contains("lang"),
      s"shuffle index must read only doc_id: $si")
    // curation chain: every data-sized running-sum window is keyed by
    // (range slice, lang) — a window on lang alone would be one task
    // per language (the r8 verdict's scale finding, fixed in r9)
    val cur = planOf("d_curation_e2e")
    val sumW = cur.linesIterator
      .filter(l => l.contains("Window") && l.contains("sum(n_tokens")).toSeq
    assert(sumW.nonEmpty && sumW.forall(_.contains("slice")),
      s"curation budget windows must be keyed by (slice, lang): $sumW")
    val tb = planOf("d_token_budget")
    val tbW = tb.linesIterator
      .filter(l => l.contains("Window") && l.contains("sum(n_tokens")).toSeq
    assert(tbW.nonEmpty && tbW.forall(_.contains("slice")),
      s"token budget windows must be keyed by (slice, lang): $tbW")
    // Q6 is the pure scan kernel: all three predicates pushed, and the
    // scan reads none of the columns the query never touches
    val q6 = scanOf("q6_forecast_revenue", "lineitem")
    assert(q6.contains("l_shipdate") && q6.contains("l_discount") &&
      q6.contains("l_quantity"), s"q6 predicates must be pushed: $q6")
    assert(!q6.contains("l_tax") && !q6.contains("l_returnflag"),
      s"q6 must not read unused columns: $q6")
  }
}
