package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Hashing.md5Hash60

/** Above-sf0.1 scale evidence for the C-BLOCK (LLM-pipeline) operators —
  * the companion of [[ScaleBench]], which covers the iterative graph
  * kernels. Drives the four C-block compositions whose skew/quadratic
  * caps exist precisely for scale — d_minhash_lsh, s_knn_graph,
  * d_semantic_dedup, d_curation_e2e — end-to-end over SYNTHETIC
  * `documents` + `embeddings` tables of arbitrary size.
  *
  * The synthesis is hash-derivable like [[ScaleBench.syntheticEdges]]
  * (no driver data needed) and deliberately mirrors the stress shapes
  * the caps defend against:
  *   - documents: 60-token salads over a 5k-word vocabulary; every
  *     id ≡ 0 (mod 4) re-uses its 16-block anchor's text, planting
  *     exact-duplicate groups of ≤4 (25% duplication — the LSH bucket
  *     and curation-dedup load); `lang` is hash-assigned with en at
  *     ~60% (the dominant-language budget path [[pipeline.Dedup
  *     .budgetCut]] must spread over range slices).
  *   - embeddings: hash-uniform 64-dim vectors; every id ≡ 0 (mod 10)
  *     is a near-copy of id+1 (0.002-scaled perturbation — the
  *     near-dup mass that collapses LSH buckets and feeds SemDeDup).
  *
  * Tables are written to parquet once per size (the operators read
  * parquet dirs — same code path as the driver corpus), each operator
  * runs ONCE (multi-minute jobs; min-of-5 is for the sub-10 s fleet),
  * and one JSON line reports wall seconds + output rows per operator.
  * `SPARK_GRAFT_SCALE_FACTOR` (default 10) scales the sf0.1 table
  * sizes (5k docs / 2k vectors).
  */
object ScaleBenchC {

  /** Deterministic synthetic `documents` at `n` rows (sf0.1 = 5000). */
  def syntheticDocs(spark: SparkSession, n: Long): DataFrame = {
    // 25% of ids copy their 16-block anchor's text: exact-dup groups
    val seed = when(col("id") % 4 === 0, (col("id") / 16).cast("long") * 16)
      .otherwise(col("id"))
    val text = array_join(
      transform(sequence(lit(0), lit(59)),
        j => concat(lit("w"),
          pmod(md5Hash60(concat_ws("|", seed, j)), lit(5000L)))), " ")
    val langBucket = pmod(md5Hash60(concat_ws("|", col("id"), lit("lang"))), lit(10L))
    val lang = when(langBucket <= 5, "en").when(langBucket === 6, "de")
      .when(langBucket === 7, "es").when(langBucket === 8, "fr").otherwise("zh")
    spark.range(n)
      .select(col("id").as("doc_id"), text.as("text"), lang.as("lang"),
        concat(lit("src"), pmod(col("id"), lit(3L))).as("source"))
      .withColumn("n_chars", length(col("text")))
  }

  /** Deterministic synthetic `embeddings` at `n` rows (sf0.1 = 2000).
    * `nearDupMod` sets the planted near-dup rate (1/mod of ids sit
    * 0.002-noise from their successor; default 10 → 10%) — the knob the
    * r16 verdict's task-2 low-density point turns
    * (SPARK_GRAFT_SCALE_NEARDUP_MOD). */
  def syntheticEmbeddings(spark: SparkSession, n: Long,
                          nearDupMod: Long = 10L): DataFrame = {
    // 1/mod of ids sit 0.002-noise away from their successor: near-dups
    val base = when(col("id") % nearDupMod === 0, col("id") + 1).otherwise(col("id"))
    val comp = (d: org.apache.spark.sql.Column) =>
      md5Hash60(concat_ws("|", base, d)).cast("double") /
        lit(math.pow(2.0, 60)) - lit(0.5)
    val noise = (d: org.apache.spark.sql.Column) =>
      (md5Hash60(concat_ws("|", col("id"), d, lit("p"))).cast("double") /
        lit(math.pow(2.0, 60)) - lit(0.5)) *
        when(col("id") % nearDupMod === 0, lit(0.002)).otherwise(lit(0.0))
    val vec = transform(sequence(lit(0), lit(Dim - 1)),
      d => (comp(d) + noise(d)).cast("float"))
    spark.range(n)
      .select(col("id").as("vec_id"), vec.as("embedding"),
        pmod(col("id"), lit(25L)).cast("int").as("label"))
  }

  /** Deterministic synthetic `events` at `n` rows (sf0.1 = 100 000) —
    * the stress shape of the event-keyed family: user 0 is a planted
    * POWER USER holding 5% of ALL events (the skew the contribution
    * cap's bounded heap and the cohort matrix's user shuffle must
    * absorb); everyone else spreads hash-uniform over n/50 users;
    * timestamps spread hash-uniform over six months of 2024 at
    * microsecond grain (so month-cohorting and µs tie-breaks both get
    * exercised). */
  def syntheticEvents(spark: SparkSession, n: Long): DataFrame = {
    val user = when(col("id") % 20 === 0, lit(0L))
      .otherwise(pmod(md5Hash60(concat_ws("|", col("id"), lit("u"))),
        lit(math.max(1L, n / 50))))
    val us = lit(1704067200000000L) + // 2024-01-01T00:00Z in micros
      pmod(md5Hash60(concat_ws("|", col("id"), lit("t"))),
        lit(15552000000000L)) // 180 days
    val tBucket = pmod(md5Hash60(concat_ws("|", col("id"), lit("e"))), lit(4L))
    spark.range(n).select(
      col("id").as("event_id"),
      timestamp_micros(us).as("ts"),
      user.as("user_id"),
      when(tBucket === 0, "click").when(tBucket === 1, "view")
        .when(tBucket === 2, "signup").otherwise("purchase").as("event_type"),
      (pmod(md5Hash60(concat_ws("|", col("id"), lit("v"))), lit(10000L))
        .cast("double") / 100.0).as("value"))
  }

  /** Deterministic synthetic `lineitem` at `n` rows (sf0.1 = 60 000) —
    * just the two columns [[relational.Tpch.qBasketPairs]] reads.
    * Order 0 is a planted MEGA-BASKET of 5 000 distinct items
    * (uncapped, that one key alone is ~12.5 M candidate pairs — the
    * skew bomb the per-basket cap defuses to C(64, 2)); every other
    * order carries ~6 hash-uniform items from a 20 k-part catalog. */
  def syntheticLineitem(spark: SparkSession, n: Long): DataFrame = {
    val mega = spark.range(5000)
      .select(lit(0L).as("l_orderkey"), (col("id") + 1000000L).as("l_partkey"))
    val normal = spark.range(n)
      .select((pmod(col("id"), lit(math.max(1L, n / 6))) + 1L).as("l_orderkey"),
        pmod(md5Hash60(concat_ws("|", col("id"), lit("p"))), lit(20000L))
          .as("l_partkey"))
    normal.union(mega)
  }

  private val Dim = pipeline.Similarity.Dim

  def main(args: Array[String]): Unit = {
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val nDocs = 5000L * factor
    val nVecs = 2000L * factor
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_HASH=xxhash64: the Bench hash A/B knob (the fleet
    // operators resolve graft.hash.impl at plan construction; the
    // SYNTHETIC DATA above stays md5 either way, so A/B corpora are
    // mode-identical — only the operators' internal hashing switches)
    sys.env.get("SPARK_GRAFT_HASH").foreach(h =>
      spark.conf.set("graft.hash.impl", h))
    // SPARK_GRAFT_JIT_AUDIT=1: per-action generated-method-size audit
    // over every in-loop stage — see [[JitAudit]]
    val jit = JitAudit.attachIf(
      sys.env.get("SPARK_GRAFT_JIT_AUDIT").contains("1"), spark)

    val nEvents = 100000L * factor
    val nearDupMod = sys.env.getOrElse("SPARK_GRAFT_SCALE_NEARDUP_MOD", "10").toLong
    val dir = if (nearDupMod == 10L) s"target/scale_c_$factor"
      else s"target/scale_c_${factor}_nd$nearDupMod"
    syntheticDocs(spark, nDocs).repartition(32)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    syntheticEmbeddings(spark, nVecs, nearDupMod).repartition(32)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    syntheticEvents(spark, nEvents).repartition(32)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    syntheticLineitem(spark, 60000L * factor).repartition(32)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    // optional comma-separated operator filter (validated like
    // [[ScaleBench]]'s — a misspelled name fails loudly), so one
    // operator's ×100 point can be (re)measured alone
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_SCALE_KERNELS")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val allOps = scala.collection.mutable.LinkedHashSet.empty[String]
    val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val rows = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def timed(name: String)(df: => DataFrame): Unit = {
      allOps += name
      if (only.forall(_.contains(name))) {
        val s = System.nanoTime()
        rows(name) = df.count()
        times(name) = (System.nanoTime() - s) / 1e9
        System.err.println(f"[scale-c] $name: ${times(name)}%.1f s (${rows(name)} rows)")
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true)) // blocking: the NEXT
          // kernel's first aggregate must not land under this one's
          // still-resident blocks (measured: coreness OOM'd seconds
          // after a 557 s refine under async cleanup)
      }
    }

    timed("d_minhash_lsh") { pipeline.Dedup.minhashLsh(spark, dir) }
    timed("d_simhash_pairs") { pipeline.Dedup.simhashPairs(spark, dir) }
    timed("m_phash_dedup") { pipeline.Multimodal.phashDedup(spark, dir) }
    timed("d_dedup_clusters") { pipeline.Dedup.dedupClusters(spark, dir) }
    timed("s_knn_graph") { pipeline.Similarity.knnGraph(spark, dir) }
    timed("s_mips_topk") { pipeline.Similarity.mipsTopK(spark, dir) }
    timed("s_mips_ann") { pipeline.Similarity.mipsAnn(spark, dir) }
    timed("d_semantic_dedup") { pipeline.Similarity.semanticDedup(spark, dir) }
    timed("d_curation_e2e") { pipeline.Dedup.curationE2e(spark, dir) }
    timed("d_seq_pack") { pipeline.Dedup.seqPack(spark, dir) }
    timed("d_substring_dedup") { pipeline.Dedup.substringDedup(spark, dir) }
    timed("d_importance_weights") { pipeline.Dedup.importanceWeights(spark, dir) }
    timed("d_bloom_dedup") { pipeline.Dedup.bloomDedup(spark, dir) }
    timed("t_bigram_lm") { pipeline.Text.bigramLm(spark, dir) }
    timed("d_ppl_filter") { pipeline.Text.pplFilter(spark, dir) }
    timed("t_source_divergence") { pipeline.Text.sourceDivergence(spark, dir) }
    timed("t_readability") { pipeline.Text.readability(spark, dir) }
    // the incremental-ingest family (batch-probes-corpus screens) + the
    // two online screens' batch twins: their 25%-dup stress shape is
    // exactly this harness's planted duplication, and the r12-r13
    // rounds proved memory-shape bugs appear ONLY at the ×100 point
    timed("d_incremental_dedup") { pipeline.Dedup.incrementalDedup(spark, dir) }
    timed("d_incremental_neardup") { pipeline.Dedup.incrementalNeardup(spark, dir) }
    timed("d_incremental_simhash") { pipeline.Dedup.incrementalSimhash(spark, dir) }
    timed("st_simhash_screen") { streaming.FingerprintScreen.screenBatch(spark, dir) }
    timed("st_minhash_screen") { streaming.FingerprintScreen.minhashScreenBatch(spark, dir) }
    // r16: the event-keyed family under the planted power-user skew,
    // the doc-keyed epoch schedule, and the FORCED bucketed eps-graph
    // path of dbscan (maxExact = 0 — the branch a >MaxExactVectors
    // corpus takes; the registered default stays exact at test SF)
    timed("d_contrib_cap") { pipeline.Dedup.contribCap(spark, dir) }
    timed("st_contrib_cap") { streaming.ContributionCap.capBatch(spark, dir) }
    timed("q_cohort_retention") { relational.Joins.qCohortRetention(spark, dir) }
    timed("d_epoch_schedule") { pipeline.Dedup.epochSchedule(spark, dir) }
    timed("s_dbscan") { pipeline.Similarity.dbscan(spark, dir, maxExact = 0L) }
    // r17: forced-bucketed census (shares the eps layer with dbscan but
    // adds per-cut band contraction on supernodes — verdict task 4)
    timed("s_linkage_census") {
      pipeline.Similarity.linkageCensus(spark, dir, maxExact = 0L)
    }
    timed("q_basket_pairs") { relational.Tpch.qBasketPairs(spark, dir) }

    // per-stage split of the forced-bucketed dbscan (verdict task 2) —
    // opt-in via the kernel filter, since it re-runs the whole operator
    allOps += "s_dbscan_stages"
    if (only.exists(_.contains("s_dbscan_stages"))) {
      pipeline.Similarity.dbscanStagedTimings(spark, dir).foreach {
        case (nm, sec, n) =>
          times(s"s_dbscan_stage_$nm") = sec
          rows(s"s_dbscan_stage_$nm") = n
          System.err.println(f"[scale-c] s_dbscan_stage_$nm: $sec%.1f s ($n rows)")
      }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }

    only.foreach { names =>
      val unknown = names -- allOps
      require(names.nonEmpty && unknown.isEmpty,
        s"SPARK_GRAFT_SCALE_KERNELS entries matched no operator: " +
          s"${unknown.toSeq.sorted.mkString(",")} (known: " +
          s"${allOps.mkString(",")})")
    }
    val qs = times.map { case (k, v) =>
      Json.q(k) + ":" + f"$v%.1f" }.mkString("{", ",", "}")
    val rs = rows.map { case (k, v) => Json.q(k) + ":" + v }.mkString("{", ",", "}")
    // the report must read the bus counters BEFORE the session stops
    val verdict = jit.map(JitAudit.report(_, spark))
    val jitJson = verdict.map("," + _.json).getOrElse("")
    // stop FIRST, then print — the Bench emit-last-line rule
    spark.stop()
    println(s"""{"metric":"scale_cblock","factor":$factor,""" +
      s""""n_docs":$nDocs,"n_vecs":$nVecs,"sec":$qs,"rows":$rs$jitJson}""")
    // exit 3 = offenders; exit 4 = uncertified audit (thrown
    // inspection, starved feed, or dropped bus events) — see ScaleBench
    verdict.foreach { v =>
      if (v.offenders > 0) sys.exit(3)
      if (!v.certified) sys.exit(4)
    }
  }
}
