package graft

import org.apache.spark.sql.functions.col
import graft.pipeline.Dedup

/** Planted-duplicate recovery for the dedup family (fixture corpus). */
class DedupSpec extends SparkSpec {

  private val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
    "eta", "theta", "iota", "kappa", "lambda", "mu")

  private def salad(seed: Int, n: Int): String = {
    val rng = new scala.util.Random(seed)
    Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" ")
  }

  private val base = salad(1, 60)
  // near-duplicate: one word changed in the middle
  private val nearDup = {
    val toks = base.split(" "); toks(30) = "omega"; toks.mkString(" ")
  }
  private lazy val dir = TestSession.docsFixture(Seq(
    (0L, base, "en", "src0", base.length.toLong),
    (1L, nearDup, "en", "src0", nearDup.length.toLong),
    (2L, base, "en", "src1", base.length.toLong), // exact duplicate of 0
    (3L, salad(7, 60), "en", "src0", 60L),
    (4L, salad(9, 60), "en", "src1", 60L)))

  test("exact dedup groups identical texts and keeps the min doc_id") {
    val groups = rowsOf(Dedup.exactDedup(spark, dir))
    assert(groups.size == 4, "5 docs, one exact-duplicate pair")
    val dup = groups.find(_.getLong(2) == 2L).get
    assert(dup.getLong(1) == 0L, "keeper is the min doc_id")
  }

  test("minhash LSH recovers the planted near-duplicate pair and nothing random") {
    val pairs = rowsOf(Dedup.minhashLsh(spark, dir, minSim = 0.5))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((1L, 2L)),
      s"planted near-dups must be found, got $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 4L || p._2 == 4L),
      "independent salads are not near-duplicates")
  }

  test("simhash: identical docs share a fingerprint; near-dups are hamming-close") {
    val fp = rowsOf(Dedup.simhash(spark, dir))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(0L) == fp(2L), "exact copies have equal simhash")
    val hamming = java.lang.Long.bitCount(fp(0L) ^ fp(1L))
    assert(hamming <= 8, s"one-word edit must stay hamming-close, got $hamming")
    val far = java.lang.Long.bitCount(fp(0L) ^ fp(3L))
    assert(far > hamming, "unrelated doc is farther than the near-dup")
  }

  test("ngram jaccard finds the planted pair with high similarity") {
    val pairs = rowsOf(Dedup.ngramJaccard(spark, dir, minSim = 0.5))
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.contains((0L, 1L)))
    assert(pairs((0L, 1L)) > 0.8, "one edit in 60 tokens ⇒ jaccard ≫ 0.8")
    assert(pairs.contains((0L, 2L)) && pairs((0L, 2L)) == 1.0, "exact copy ⇒ 1.0")
  }

  test("ngram jaccard: gated local pair kernel equals the distributed self-join") {
    // richer corpus: overlapping salads at several similarity levels,
    // repeated grams inside one doc (occurrence-count semantics), a
    // boilerplate gram shared by many docs (df-cap interplay upstream)
    val docs = (0L until 24L).map { i =>
      val rng = new scala.util.Random(100 + (i / 3))       // trios share text
      val body = Seq.fill(40)(vocab(rng.nextInt(vocab.size))).mkString(" ")
      val tail = if (i % 3 == 0) " alpha alpha alpha alpha" else ""
      (i, body + tail, "en", "s", 40L)
    }
    val d2 = TestSession.docsFixture(docs)
    // the real caller shape: the df-capped gram table, both paths
    def pset(gate: Long) = Gates.within(bytes = gate) {
      rowsOf(pipeline.Dedup.ngramJaccardOn(
          pipeline.Dedup.dropHighDfGrams(pipeline.Docs.gramTable(spark, d2)),
          minSim = 0.3))
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val loc = pset(Long.MaxValue)
    val dist = pset(-1L)
    assert(loc == dist, s"gated local pairs must equal distributed:\n$loc\n$dist")
    assert(loc.nonEmpty, "the trio corpus must produce pairs")
  }

  test("minhash calibration: exact duplicates estimate 1.0 with zero error, estimates bracket truth") {
    val r = rowsOf(Dedup.minhashEstimateAudit(spark, dir))
    assert(r.nonEmpty)
    val byPair = r.map(row => (row.getLong(0), row.getLong(1)) ->
      (row.getDouble(2), row.getDouble(3), row.getDouble(4))).toMap
    // docs 0 and 2 are byte-identical: every permutation min agrees and
    // the exact jaccard is 1 → est 1.0, err 0
    val (est02, jac02, err02) = byPair((0L, 2L))
    assert(est02 == 1.0 && jac02 == 1.0 && err02 == 0.0)
    r.foreach { row =>
      val (est, jac, err) = (row.getDouble(2), row.getDouble(3), row.getDouble(4))
      assert(est >= 0.25 && est <= 1.0)
      assert(jac >= 0.0 && jac <= 1.0)
      assert(math.abs(err - math.abs(est - jac)) < 2e-6, "err column is |est − exact|")
    }
  }

  test("segment dedup drops only cross-doc repeated segments, keeps unique docs whole") {
    // two docs sharing an identical 8-token prefix across > SegDfCap docs:
    // plant the same segment in 5 docs, unique tails
    val shared = Seq.fill(Dedup.SegTokens)("shared").mkString(" ")
    val rows = (0L until 5L).map(i =>
      (i, s"$shared ${salad(100 + i.toInt, Dedup.SegTokens)}", "en", "src0", 0L)) :+
      (5L, salad(999, 2 * Dedup.SegTokens), "en", "src0", 0L)
    val d = TestSession.docsFixture(rows)
    val r = rowsOf(Dedup.segmentDedup(spark, d))
    val byDoc = r.map(row => row.getLong(0) ->
      (row.getLong(1), row.getLong(2), row.getDouble(3))).toMap
    (0L until 5L).foreach { i =>
      val (nSeg, nKept, ratio) = byDoc(i)
      assert(nSeg == 2L && nKept == 1L && ratio == 0.5,
        s"doc $i: shared prefix segment dropped, unique tail kept (got $nSeg/$nKept)")
    }
    val (n5, k5, r5) = byDoc(5L)
    assert(n5 == 2L && k5 == 2L && r5 == 1.0, "fully unique doc untouched")
  }

  test("shuffle index is a permutation, deterministic, and seed-sensitive") {
    val r = rowsOf(Dedup.shuffleIndex(spark, dir))
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(r.keySet == (0L until 5L).toSet, "every doc gets a position")
    assert(r.values.toSeq.sorted == (0L until 5L), "positions are a 0..n-1 permutation")
    val again = rowsOf(Dedup.shuffleIndex(spark, dir))
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(again == r, "identical seed replays the identical permutation")
    val other = rowsOf(Dedup.shuffleIndex(spark, dir, seed = 7L))
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(other.values.toSeq.sorted == (0L until 5L))
    assert(other != r, "a different seed permutes differently")
  }

  test("budgetCut: distributed prefix sum == naive per-language window on a dominant language with planted ties") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // 2000 docs, 90% one language; quality drawn from 4 rounded values
    // so runs of ties straddle every range-slice boundary — the case
    // where a sloppy split would double-count or drop a prefix row
    val rows = (0L until 2000L).map { i =>
      val lang = if (i % 10 == 0) "de" else "en"
      val q = Seq(0.25, 0.5, 0.75, 1.0)((i % 4).toInt)
      (i, lang, 10L + (i % 7), q)
    }
    val df = rows.toDF("doc_id", "lang", "n_tokens", "quality_score")
    val budget = 5000L
    val got = Dedup.budgetCut(df, budget)
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("quality_score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = df.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
    def asMap(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "cum_tokens").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(asMap(got) == asMap(naive),
      "identical keep set AND identical cumulative sums, boundary ties included")
    // the data-sized running-sum window must be keyed by (slice, lang):
    // a window partitioned by lang alone is one task per language
    val planStr = got.queryExecution.executedPlan.toString
    val sumWindows = planStr.linesIterator
      .filter(l => l.contains("Window") && l.contains("sum(n_tokens")).toSeq
    assert(sumWindows.nonEmpty, "running-sum window present in the plan")
    assert(sumWindows.forall(_.contains("slice")),
      s"running-sum window partitions include the range slice, got: $sumWindows")
  }

  test("rankShuffle radix width scales with the corpus and bounds every bucket") {
    import org.apache.spark.sql.functions._
    // the width formula itself: clamp(ceil(sqrt(n)), 64, 2^20)
    assert(Dedup.shuffleBucketCount(500L) == 64L, "small corpora clamp to the floor")
    assert(Dedup.shuffleBucketCount(10000L) == 100L, "mid range: ceil(sqrt(n))")
    assert(Dedup.shuffleBucketCount(10000000000L) == 100000L,
      "10^10 docs -> 10^5 buckets of ~10^5 rows each, never a corpus-sized task")
    assert(Dedup.shuffleBucketCount(Long.MaxValue / 4) == Dedup.MaxShuffleBuckets,
      "offset table stays broadcast-small at the ceiling")
    // drive the rank over a synthetic corpus big enough to leave the
    // clamp floor: per-bucket load stays ~n/B (hash-uniform), and the
    // div-based bucketing still yields the exact dense permutation
    val n = 8192L
    val df = spark.range(n).select(col("id").as("doc_id"))
    val b = Dedup.shuffleBucketCount(n) // 91: above the 64 floor
    assert(b > Dedup.MinShuffleBuckets)
    val w = (1L << 60) / b
    val sizes = df
      .withColumn("hkey", graft.Hashing.md5Hash60(concat_ws("|", col("doc_id"), lit(42L))))
      .withColumn("bucket", expr(s"hkey div $w"))
      .groupBy("bucket").count().collect().map(_.getLong(1))
    assert(sizes.sum == n)
    assert(sizes.max <= 4 * (n / b + 1),
      s"no radix bucket exceeds ~4x the mean load (max ${sizes.max}, mean ~${n / b})")
    val pos = Dedup.rankShuffle(df, 42L, n)
      .select("shuffle_pos").collect().map(_.getLong(0)).sorted.toSeq
    assert(pos == (0L until n), "scaled-width rank is still a dense 0..n-1 permutation")
  }

  test("curation chain: duplicate copies never reach the budget, positions are dense over the kept set") {
    val r = rowsOf(Dedup.curationE2e(spark, dir))
    val ids = r.map(_.getLong(0)).toSet
    assert(!ids.contains(2L), "doc 2 is an exact copy of doc 0 — deduped before the budget")
    assert(ids.contains(0L), "the lowest-id copy survives")
    val pos = r.map(_.getLong(3)).sorted
    assert(pos == (0L until r.size.toLong), "shuffle positions are a dense 0..n-1 permutation of the KEPT set")
    // composition matches running the stages separately: budget over the
    // dedup survivors only
    val keptTokens = r.map(x => x.getLong(0) -> x.getLong(2)).toMap
    keptTokens.values.foreach(n => assert(n > 0))
  }

  test("dedup operators run on the driver corpus with sane shapes") {
    assert(Dedup.exactDedup(spark, SF).count() > 0)
    val sig = rowsOf(Dedup.simhash(spark, SF))
    assert(sig.map(_.getLong(0)).distinct.size == sig.size, "one fingerprint per doc")
  }

  test("simhash pairs: exact dup at hamming 0, near-dup within budget, no all-pairs plan") {
    val q = Dedup.simhashPairs(spark, dir)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "candidates must come from the band equi-join")
    val pairs = rowsOf(q).map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // docs 0 and 2 are byte-identical → same fingerprint, distance 0
    assert(pairs.exists { case (a, b, h) => a == 0L && b == 2L && h == 0L })
    pairs.foreach { case (_, _, h) => assert(h <= Dedup.HammingMax) }
    assert(pairs.map(p => (p._1, p._2)).distinct.size == pairs.size, "no duplicate pairs")
  }

  test("capped band pairs bound a collapsed fingerprint mega-bucket at n·cap") {
    import spark.implicits._
    // the dedup stress shape: n docs with IDENTICAL fingerprints (one
    // boilerplate page replicated) — every band collapses into ONE
    // bucket, so the uncapped join is (HammingMax+1)·C(n,2) rows
    val n = 300
    val cap = 8
    val fp = (0L until n.toLong).map(i => (i, 0x0F0F0F0FL)).toDF("doc_id", "simhash")
    val banded = Dedup.bandedFingerprints(fp, "simhash", Dedup.HammingMax + 1,
      Dedup.SimhashBits / (Dedup.HammingMax + 1))
    val capped = rowsOf(Dedup.cappedBandPairs(banded, cap).distinct())
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // lowest-id witnesses: C(cap,2) witness–witness + cap·(n−cap)
    // witness–member pairs, and never more than n·cap
    assert(capped.size == cap * (cap - 1) / 2 + cap * (n - cap),
      s"mega-bucket must yield the witness bound, got ${capped.size}")
    assert(capped.size <= n * cap, "per-bucket pair product ≤ n·cap")
    // exact-witness property: every non-witness member pairs with the
    // bucket MINIMUM, so keep-first survivorship / CC closure see the
    // whole group
    (cap.toLong until n.toLong).foreach(y =>
      assert(capped((0L, y)), s"member $y must pair with witness #1"))
    // containment: capped pairs ⊆ the uncapped product
    val full = rowsOf(Dedup.cappedBandPairs(banded, n).distinct())
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.size == n * (n - 1) / 2, "uncapped control is the full product")
    assert(capped.subsetOf(full), "capped pairs ⊆ uncapped")
  }

  test("simhash pairs: cap is a no-op when no band bucket exceeds it") {
    val dflt = rowsOf(Dedup.simhashPairs(spark, dir))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val unc = rowsOf(Dedup.simhashPairs(spark, dir, cap = 10000))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(dflt == unc, "fixture buckets are far below the cap")
  }

  test("method overlap: exact ⊆ fuzzy on the fixture, matrix fields consistent") {
    val rows = rowsOf(Dedup.methodOverlap(spark, dir))
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(rows.keySet == Set(("exact", "minhash"), ("exact", "simhash"),
      ("minhash", "simhash")), "all three canonical method pairs reported")
    // fixture: doc 2 is a byte copy of 0 (flagged by all three screens);
    // doc 1 is a one-word near-dup (fuzzy screens only) — so the exact
    // set is a STRICT subset of each fuzzy set here
    rows.foreach { case ((a, b), (na, nb, nBoth, jac)) =>
      assert(nBoth <= math.min(na, nb), s"intersection bounded: $a/$b")
      val expect = if (na + nb - nBoth > 0)
        BigDecimal(nBoth.toDouble / (na + nb - nBoth))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      else 0.0
      assert(jac == expect, s"jaccard replays from the counts: $a/$b")
    }
    val (exMh, exSh) = (rows(("exact", "minhash")), rows(("exact", "simhash")))
    assert(exMh._1 == 1 && exMh._3 == 1, "exact flags {2}; minhash catches it")
    assert(exSh._3 == 1, "simhash catches the exact copy too")
    assert(exMh._2 >= 2, "minhash additionally flags the near-dup")
  }

  test("incremental simhash screen: exact batch copy matches its corpus twin, fresh doc survives") {
    // corpus = src0 (docs 0, 1, 3); batch = {2 (copy of 0), 4 (fresh)}
    val r = rowsOf(Dedup.incrementalSimhash(spark, dir))
      .map(x => x.getLong(0) -> x).toMap
    assert(r.keySet == Set(2L, 4L), "screen reports exactly the batch docs")
    assert(!r(2L).isNullAt(2) && r(2L).getLong(2) == 0L && !r(2L).getBoolean(3),
      "the byte-identical batch doc matches corpus doc 0 at hamming 0")
    r.values.foreach(row =>
      assert(row.getBoolean(3) == row.isNullAt(2), "kept ⇔ no corpus match"))
  }

  test("incremental dedup drops only incoming docs whose hash exists in the store") {
    val d = TestSession.docsFixture(Seq(
      (0L, "stored document one", "en", "src0", 19L),
      (1L, "stored document two", "en", "src0", 19L),
      (10L, "stored document one", "en", "src1", 19L), // exact dup of stored
      (11L, "fresh new crawl text", "en", "src1", 20L),
      (12L, "stored document two", "en", "src2", 19L))) // dup from another source
    val kept = rowsOf(pipeline.Dedup.incrementalDedup(spark, d))
      .map(_.getLong(0)).toSet
    assert(kept == Set(11L),
      s"only the genuinely new doc survives the anti join, got $kept")
  }

  test("bloom dedup: no false negatives, exact verdict rides along") {
    val d = TestSession.docsFixture(Seq(
      (0L, "stored document one", "en", "src0", 19L),
      (1L, "stored document two", "en", "src0", 19L),
      (10L, "stored document one", "en", "src1", 19L), // exact dup of stored
      (11L, "fresh new crawl text", "en", "src1", 20L),
      (12L, "stored document two", "en", "src2", 19L))) // dup from another source
    val r = rowsOf(pipeline.Dedup.bloomDedup(spark, d))
      .map(x => x.getLong(0) -> x).toMap
    assert(r.keySet == Set(10L, 11L, 12L), "one row per probe doc")
    // the Bloom contract: a true duplicate can NEVER be missed
    Seq(10L, 12L).foreach { id =>
      assert(r(id).getInt(3) == 1, s"doc $id is a true dup")
      assert(r(id).getLong(1) == Dedup.BloomK && r(id).getInt(2) == 1,
        s"doc $id must hit all ${Dedup.BloomK} bits (no false negatives)")
    }
    // 11 is genuinely new; with 2 reference docs in 2^17 bits a false
    // positive would need a 4-way bit collision — not at this density
    assert(r(11L).getInt(3) == 0 && r(11L).getInt(2) == 0)
  }

  test("moving 7-day average frame shrinks at the calendar start") {
    val r = rowsOf(relational.Tpch.qMovingAvg(spark, SF))
    assert(r.nonEmpty)
    val first = r.head
    assert(first.getLong(first.fieldIndex("n_days")) == 1,
      "first day's frame holds only itself")
    r.foreach { row =>
      assert(row.getLong(row.fieldIndex("n_days")) <= 7)
      assert(row.getDouble(row.fieldIndex("avg_7d")) > 0)
    }
  }

  test("df cap defuses the high-df gram pair bomb without losing rare-gram recall") {
    // 30 docs = one shared 20-token boilerplate header (every internal
    // 3-gram has df = 30 > GramDfCap) + a 2-token unique tail, so the
    // only non-boilerplate grams are the two per-doc boundary grams.
    // Uncapped, the shared header alone would make all C(30,2) = 435
    // pairs ~90%-similar candidates — the pair bomb. Docs 100/101 share
    // a RARE 20-token body instead (df = 2), the signal the cap must keep.
    val boiler = (0 until 20).map(i => s"b$i").mkString(" ")
    val rare = (0 until 20).map(i => s"r$i").mkString(" ")
    val bombDocs = (0 until 30).map { i =>
      val text = s"$boiler u${i}x u${i}y"
      (i.toLong, text, "en", "src0", text.length.toLong)
    }
    val d = TestSession.docsFixture(bombDocs ++ Seq(
      (100L, s"$rare tail one", "en", "src0", 0L),
      (101L, s"$rare tail two", "en", "src0", 0L)))

    // the capped gram table carries no gram over the cap, and no two
    // bomb docs share a kept gram ⇒ the candidate join is exactly the
    // rare-pair bucket, not 435 boilerplate pairs
    val kept = Dedup.dropHighDfGrams(pipeline.Docs.gramTable(spark, d))
      .localCheckpoint(true)
    val maxDf = kept.groupBy("gram").count()
      .agg(org.apache.spark.sql.functions.max("count")).head.getLong(0)
    assert(maxDf <= Dedup.GramDfCap, s"capped table still has df $maxDf")
    val candPairs = rowsOf(
      kept.select("doc_id", "gram").as("x")
        .join(kept.select("doc_id", "gram").as("y"), Seq("gram"))
        .filter(org.apache.spark.sql.functions.col("x.doc_id") <
          org.apache.spark.sql.functions.col("y.doc_id"))
        .select("x.doc_id", "y.doc_id").distinct())
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(candPairs.forall(p => p._1 >= 100L),
      s"bomb docs must generate zero candidates, got ${candPairs.size}")
    assert(candPairs.contains((100L, 101L)), "rare-gram pair must survive the cap")

    // end to end: the operators report only the rare near-dup pair
    val jac = rowsOf(Dedup.ngramJaccard(spark, d, minSim = 0.5))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jac == Set((100L, 101L)),
      s"ngram jaccard must pair only the rare-body docs, got $jac")
    val lsh = rowsOf(Dedup.minhashLsh(spark, d, minSim = 0.5))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == Set((100L, 101L)),
      s"minhash LSH must pair only the rare-body docs, got $lsh")
  }

  test("dedup clusters collapse transitive chains and keep the min doc per cluster") {
    val r = rowsOf(Dedup.dedupClusters(spark, dir))
    assert(r.size == 5, "every doc gets a cluster row")
    val cluster = r.map(row => row.getLong(0) -> row.getLong(1)).toMap
    val keep = r.map(row => row.getLong(0) -> row.getBoolean(2)).toMap
    // docs 0 (base), 1 (near-dup of 0), 2 (exact dup of 0) chain into one
    // cluster labelled by the min id; the two salads stay singletons
    assert(cluster(0L) == 0L && cluster(1L) == 0L && cluster(2L) == 0L)
    assert(cluster(3L) == 3L && cluster(4L) == 4L)
    assert(keep.count(_._2) == 3, "one keeper per cluster")
    assert(keep(0L) && !keep(1L) && !keep(2L) && keep(3L) && keep(4L))
  }

  test("split assignment is cluster-atomic, deterministic, and 3-way bounded") {
    val r = rowsOf(Dedup.splitAssign(spark, dir))
    assert(r.size == 5, "every doc gets a split row")
    val split = r.map(row => row.getLong(0) -> row.getString(2)).toMap
    assert(split.values.toSet.subsetOf(Set("train", "val", "test")))
    // the 0-1-2 near-dup family must land in ONE split (leakage safety)
    assert(split(0L) == split(1L) && split(1L) == split(2L),
      s"near-dup family split apart: $split")
    // replay is bit-identical (hash-seeded, no rand())
    val again = rowsOf(Dedup.splitAssign(spark, dir))
      .map(row => row.getLong(0) -> row.getString(2)).toMap
    assert(split == again)
    // driver corpus: fractions near 80/10/10 (cluster-hash binomial)
    val full = rowsOf(Dedup.splitAssign(spark, SF))
    val frac = full.groupBy(_.getString(2)).view.mapValues(
      _.size.toDouble / full.size).toMap
    assert(frac.getOrElse("train", 0.0) > 0.6 &&
      frac.getOrElse("val", 0.0) > 0.02 && frac.getOrElse("test", 0.0) > 0.02,
      s"split fractions off: $frac")
  }

  test("dup inflation: duplicate token mass counts non-keeper members per source") {
    val r = rowsOf(Dedup.dupInflation(spark, dir))
    // fixture: docs 0,1,2 cluster together (keeper 0), 3 and 4 singleton
    val bySource = r.map(row => row.getString(0) -> row).toMap
    val total = r.map(row => row.getLong(row.fieldIndex("n_docs"))).sum
    assert(total == 5, "every doc counted once")
    val dupDocs = r.map(row => row.getLong(row.fieldIndex("n_dup_docs"))).sum
    assert(dupDocs == 2, "docs 1 and 2 are the non-keeper members")
    r.foreach { row =>
      val nTok = row.getLong(row.fieldIndex("n_tokens"))
      val dTok = row.getLong(row.fieldIndex("dup_tokens"))
      assert(dTok <= nTok)
      if (nTok > dTok) {
        val expected = nTok.toDouble / (nTok - dTok).toDouble
        assert(math.abs(row.getDouble(row.fieldIndex("inflation")) - expected) < 1e-6)
      } else {
        // all-dup (or zero-token) source: inflation is NULL, not Inf/NaN
        assert(row.isNullAt(row.fieldIndex("inflation")))
      }
    }
    assert(bySource.nonEmpty)
  }

  test("containment catches a quoted subset that symmetric Jaccard misses") {
    val long = salad(3, 80)
    val quoted = long.split(" ").take(30).mkString(" ") // strict prefix: grams ⊂ long's
    val d2 = TestSession.docsFixture(Seq(
      (0L, long, "en", "srcA", long.length.toLong),
      (1L, quoted, "en", "srcA", quoted.length.toLong),
      (2L, salad(11, 60), "en", "srcA", 60L)))
    val cont = rowsOf(Dedup.containment(spark, d2))
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(3), r.getDouble(4))).toMap
    assert(cont.contains((0L, 1L)), s"contained prefix must pair: $cont")
    assert(cont((0L, 1L))._2 == 1.0, "every gram of the quote is in the source")
    assert(!cont.keySet.exists(p => p._1 == 2L || p._2 == 2L),
      "independent doc has no containment pair")
    // the same planted pair is INVISIBLE to symmetric Jaccard at 0.5
    val jac = rowsOf(Dedup.ngramJaccard(spark, d2))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((0L, 1L)),
      "jaccard ~ |A|/|B| stays under τ — that gap is what containment closes")
  }

  test("cluster stats histogram matches the fixture's cluster shape") {
    // fixture: {0,1,2} one cluster of 3; docs 3 and 4 singletons
    val r = rowsOf(Dedup.clusterStats(spark, dir))
      .map(row => row.getLong(0) -> (row.getLong(1), row.getLong(2))).toMap
    assert(r == Map(1L -> (2L, 2L), 3L -> (1L, 3L)), s"histogram: $r")
  }

  test("shared cluster layer: one checkpointed assignment feeds all three consumers") {
    // the production contract from dedupClusters' scaladoc: materialize
    // the assignment ONCE, fan it out to split/inflation/keeper — and
    // get bit-identical results to the rebuild-per-key registry path
    val shared = Dedup.dedupClusters(spark, SF).localCheckpoint(true)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      rowsOf(df).map(_.toString)
    assert(rows(Dedup.splitAssignOn(shared)) ==
      rows(Dedup.splitAssign(spark, SF)), "split assignment agrees")
    assert(rows(Dedup.dupInflationOn(spark, SF, shared)) ==
      rows(Dedup.dupInflation(spark, SF)), "dup inflation agrees")
    assert(rows(Dedup.qualityKeeperOn(spark, SF, shared)) ==
      rows(Dedup.qualityKeeper(spark, SF)), "quality keeper agrees")
  }

  test("incremental neardup screens batch docs near-dup of the corpus, passes fresh ones") {
    // fixture: src0 = {0 base, 1 near-dup, 3 salad}; batch (src1) =
    // {2 exact copy of 0, 4 independent salad}
    val r = rowsOf(Dedup.incrementalNeardup(spark, dir))
      .map(row => row.getLong(0) ->
        (if (row.isNullAt(2)) None else Some(row.getLong(2)), row.getBoolean(3)))
      .toMap
    assert(r.keySet == Set(2L, 4L), "every batch doc gets a verdict")
    assert(r(2L) == (Some(0L), false),
      s"planted near-dup is screened with the smallest corpus match: $r")
    assert(r(4L) == (None, true), s"fresh doc passes: $r")
  }

  test("dup inflation: a source whose every doc is a dup reports NULL, not Infinity") {
    val d2 = TestSession.docsFixture(Seq(
      (10L, base, "en", "srcA", base.length.toLong),
      (11L, base, "en", "srcB", base.length.toLong))) // srcB = only a copy of 10
    val r = rowsOf(Dedup.dupInflation(spark, d2))
      .map(row => row.getString(0) -> row).toMap
    assert(r("srcA").getDouble(r("srcA").fieldIndex("inflation")) == 1.0)
    assert(r("srcB").isNullAt(r("srcB").fieldIndex("inflation")),
      "all-dup source must report NULL inflation")
  }

  test("token budget keeps the best-quality prefix per language, never over budget") {
    val r = rowsOf(graft.pipeline.Dedup.tokenBudget(spark, SF))
    assert(r.nonEmpty)
    val byLang = r.groupBy(_.getString(1))
    byLang.foreach { case (lang, rows) =>
      // within a language the kept set is a quality-ranked prefix:
      // cum_tokens is the running sum in (quality desc, doc_id) order
      val ranked = rows.sortBy(row =>
        (-row.getDouble(row.fieldIndex("quality_score")), row.getLong(0)))
      var cum = 0L
      ranked.foreach { row =>
        cum += row.getLong(row.fieldIndex("n_tokens"))
        assert(row.getLong(row.fieldIndex("cum_tokens")) == cum,
          s"$lang: cumsum replays in rank order")
      }
      assert(cum <= graft.pipeline.Dedup.TokensPerLang, s"$lang within budget")
      // anything excluded must rank strictly after the kept prefix
      val keptIds = rows.map(_.getLong(0)).toSet
      val all = rowsOf(graft.pipeline.Text.quality(spark, SF)
        .join(Tables.documents(spark, SF).select(col("doc_id"), col("lang")), Seq("doc_id"))
        .filter(col("lang") === lang))
      val worstKept = ranked.last
      all.filterNot(row => keptIds(row.getLong(0))).foreach { row =>
        val q = row.getDouble(row.fieldIndex("quality_score"))
        val wq = worstKept.getDouble(worstKept.fieldIndex("quality_score"))
        assert(q < wq || (q == wq && row.getLong(0) > worstKept.getLong(0)),
          s"$lang: excluded docs rank after every kept doc")
      }
    }
  }

  test("quality keeper picks each cluster's best-quality member, singletons keep themselves") {
    val r = rowsOf(Dedup.qualityKeeper(spark, dir))
    assert(r.map(_.getLong(r.head.fieldIndex("n_members"))).sum == 5,
      "every doc is a member of exactly one cluster")
    val byCluster = r.map(row => row.getLong(0) -> row).toMap
    assert(byCluster.keySet == Set(0L, 3L, 4L), "same clusters as dedupClusters")
    assert(byCluster(0L).getLong(byCluster(0L).fieldIndex("n_members")) == 3)
    // the keeper's quality must be the max over the cluster's members
    val quality = rowsOf(graft.pipeline.Text.quality(spark, dir))
      .map(row => row.getLong(0) -> row.getDouble(row.fieldIndex("quality_score"))).toMap
    val keeper0 = byCluster(0L).getLong(byCluster(0L).fieldIndex("keep_doc_id"))
    val best0 = byCluster(0L).getDouble(byCluster(0L).fieldIndex("best_quality"))
    assert(Set(0L, 1L, 2L).contains(keeper0))
    assert(best0 == Seq(0L, 1L, 2L).map(quality).max)
    assert(quality(keeper0) == best0, "reported quality is the keeper's")
    Seq(3L, 4L).foreach { d =>
      assert(byCluster(d).getLong(byCluster(d).fieldIndex("keep_doc_id")) == d)
    }
  }

  test("corpus report: within-group dup rate and decimal-exact mean quality") {
    // two langs, a duplicate INSIDE (en, s0), one lone (de, s1) doc
    val d = TestSession.docsFixture(Seq(
      (0L, "alpha beta gamma delta", "en", "s0", 22L),
      (1L, "alpha beta gamma delta", "en", "s0", 22L), // exact dup of 0
      (2L, "epsilon zeta eta theta iota", "en", "s0", 27L),
      (3L, "kappa lambda mu", "de", "s1", 15L)))
    val r = rowsOf(Dedup.corpusReport(spark, d))
      .map(row => (row.getString(0), row.getString(1)) -> row).toMap
    val en = r(("en", "s0"))
    assert(en.getLong(2) == 3L && en.getLong(3) == 2L, "3 docs, 2 unique contents")
    assert(en.getDouble(6) == 0.3333, "dup rate = 1 - 2/3 rounded")
    assert(en.getLong(4) == 13L, "4 + 4 + 5 tokens")
    val de = r(("de", "s1"))
    assert(de.getLong(2) == 1L && de.getDouble(6) == 0.0)
    // mean quality equals the hand-rolled decimal-sum / count division
    val q = rowsOf(graft.pipeline.Text.quality(spark, d))
      .map(row => row.getLong(0) -> row.getDouble(row.fieldIndex("quality_score"))).toMap
    val expect = Seq(0L, 1L, 2L).map(q).map(BigDecimal(_)).sum.toDouble / 3
    assert(en.getDouble(5) == expect)
  }

  test("mix weights: dominant language is cut to the uniform target, scarce ones stay at 1") {
    // ~90% of tokens in en => en share ~0.9, target 1/2 => weight ~0.55
    val rows = (0L until 100L).map { i =>
      if (i < 90) (i, "tok tok tok tok tok tok tok tok tok tok", "en", "s", 40L)
      else (i, "tok tok tok tok tok tok tok tok tok tok", "de", "s", 40L)
    }
    val d = TestSession.docsFixture(rows)
    val r = rowsOf(Dedup.mixWeights(spark, d)).map(row => row.getString(0) -> row).toMap
    assert(r("en").getDouble(3) == 0.9 && r("de").getDouble(3) == 0.1)
    assert(r("en").getDouble(4) == 0.5556, "min(1, 0.5/0.9) rounded")
    assert(r("de").getDouble(4) == 1.0, "scarce language never upsampled")
    assert(r("en").getLong(2) == 900L && r("de").getLong(2) == 100L)
  }

  test("packRank: start_pos is the exact token prefix sum of the shuffle order, at scaled radix width") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 8192 docs leaves the 64-bucket clamp floor (b = ceil(sqrt(8192)) = 91)
    // and varied token counts exercise the weighted cumsum
    val n = 8192L
    val df = spark.range(n).select(col("id").as("doc_id"),
      (lit(1L) + pmod(col("id") * 7L, lit(13L))).as("n_tokens"))
    val r = Dedup.packRank(df, 42L, n)
      .select("doc_id", "n_tokens", "shuffle_pos", "start_pos")
      .collect().sortBy(_.getLong(2))
    assert(r.map(_.getLong(2)).toSeq == (0L until n), "dense permutation")
    var cum = 0L
    r.foreach { row =>
      assert(row.getLong(3) == cum,
        s"doc ${row.getLong(0)} at pos ${row.getLong(2)}: start_pos ${row.getLong(3)} != prefix $cum")
      cum += row.getLong(1)
    }
    // same seed, same permutation as the unweighted rank
    val unweighted = Dedup.rankShuffle(df.select(col("doc_id")), 42L, n)
      .select("doc_id", "shuffle_pos").collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    r.foreach(row => assert(unweighted(row.getLong(0)) == row.getLong(2),
      "packRank's order IS rankShuffle's order"))
  }

  test("substring dedup flags shared 16-token spans keep-first; unique and short docs behave") {
    val span = salad(42, 16) // exactly one window wide
    val d = TestSession.docsFixture(Seq(
      (0L, salad(3, 20) + " " + span, "en", "s", 1L),     // owner of the span
      (1L, span + " " + salad(4, 20), "en", "s", 1L),     // later doc sharing it
      (2L, salad(5, 40), "en", "s", 1L),                  // unique long doc
      (3L, "tiny doc", "en", "s", 1L),                    // shorter than W: one whole-text window
      (4L, "tiny doc", "en", "s", 1L)))                   // short exact dup -> caught
    val r = rowsOf(Dedup.substringDedup(spark, d))
      .map(row => row.getLong(0) ->
        (row.getLong(1), row.getLong(2), row.getInt(4))).toMap
    // doc0 owns every window it has (lowest id): never flagged
    assert(r(0L)._3 == 0, "owner doc must not be flagged")
    // doc1: exactly the windows inside the planted span are flagged —
    // the span is 16 tokens = 1 window of doc1's prefix
    assert(r(1L)._3 == 1 && r(1L)._2 >= 1, s"doc1 must be flagged via the shared span: ${r(1L)}")
    assert(r(2L)._3 == 0, "unique doc clean")
    assert(r(3L) == (1L, 0L, 0) && r(4L) == (1L, 1L, 1),
      s"short docs: one whole-text window, exact dup flagged keep-first: ${r(3L)} ${r(4L)}")
  }

  test("importance weights: target-aligned docs outweigh disjoint-vocab docs; gate is reproducible") {
    // docs 0..9 are the target sample (DsirTargetDocs = 10): vocabulary A.
    val vocabA = (0 until 10).map(i => (i.toLong, salad(100 + i, 30), "en", "t", 1L))
    val aligned = (10L, salad(200, 30), "en", "s", 1L)          // same vocabulary pool
    val disjoint = (11L, Seq.fill(30)("qqq zzz xxx").mkString(" "), "en", "s", 1L)
    val d = TestSession.docsFixture(vocabA :+ aligned :+ disjoint)
    val r = rowsOf(Dedup.importanceWeights(spark, d))
    assert(r.map(_.getLong(0)) == Seq(10L, 11L), "only raw docs are scored")
    val byId = r.map(row => row.getLong(0) ->
      (row.getLong(2), row.getDouble(4), row.getInt(5))).toMap
    assert(byId(10L)._1 > 0, "aligned doc hits target buckets")
    assert(byId(10L)._2 > byId(11L)._2,
      s"target-vocabulary doc must carry the higher weight: $byId")
    val again = rowsOf(Dedup.importanceWeights(spark, d))
      .map(row => row.getLong(0) -> row.getInt(5)).toMap
    assert(r.map(row => row.getLong(0) -> row.getInt(5)).toMap == again,
      "hash-gated keep decision is reproducible")
  }

  test("seqPack bins tile the concatenated token stream exactly") {
    val ctx = Dedup.PackContext.toLong
    val r = rowsOf(Dedup.seqPack(spark, dir))
    val totalTokens = r.map(_.getLong(1)).sum
    assert(r.map(row => row.getLong(3) + row.getLong(1)).max == totalTokens,
      "last doc in shuffle order ends exactly at the stream length")
    r.foreach { row =>
      val (nTok, start, bin, off, span) =
        (row.getLong(1), row.getLong(3), row.getLong(4), row.getLong(5), row.getLong(6))
      assert(bin == start / ctx && off == start % ctx, "bin arithmetic")
      assert(span == (start + nTok - 1) / ctx - bin + 1, "span covers the doc's last token")
      assert(span >= 1)
    }
  }

  test("temperature mix: shares normalize, scarce languages boosted, dominant cut") {
    // en dominates 4:1 over each of de/fr — α=0.3 smoothing must pull
    // shares toward (not onto) uniform
    val d = TestSession.docsFixture(Seq(
      (0L, Seq.fill(80)("w").mkString(" "), "en", "s", 160L),
      (1L, Seq.fill(20)("w").mkString(" "), "de", "s", 40L),
      (2L, Seq.fill(20)("w").mkString(" "), "fr", "s", 40L)))
    val r = rowsOf(Dedup.temperatureMix(spark, d))
      .map(row => row.getString(0) -> row).toMap
    def f(l: String, c: String) = r(l).getDouble(r(l).fieldIndex(c))
    assert(math.abs(r.values.map(row =>
      row.getDouble(row.fieldIndex("temp_share"))).sum - 1.0) < 1e-4,
      "temperature shares form a distribution")
    assert(f("en", "boost") < 1.0, "dominant language downsampled")
    assert(f("de", "boost") > 1.0, "scarce language upsampled")
    assert(f("de", "temp_share") < f("en", "temp_share"),
      "smoothing must not invert the ordering")
    // α=0.3 exact check: p_en=2/3, p_de=p_fr=1/6
    val z = math.pow(2.0 / 3, 0.3) + 2 * math.pow(1.0 / 6, 0.3)
    assert(math.abs(f("en", "temp_share") - math.pow(2.0 / 3, 0.3) / z) < 1e-6)
  }

  test("funnel report: sequential stages shrink monotonically with exact counts") {
    val rows = rowsOf(Dedup.funnelReport(spark, dir))
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(rows.keySet == (1L to 5L).toSet)
    assert(rows(1L)._2 == 5L, "raw counts every doc")
    assert(rows(2L)._2 == 4L, "doc 2 is the exact copy of doc 0")
    assert(rows(3L)._2 == 3L, "cluster {0,1,2} keeps only doc 0; 3,4 singleton")
    // each stage is a subset of the previous — docs AND token mass
    (2L to 5L).foreach { s =>
      assert(rows(s)._2 <= rows(s - 1)._2 && rows(s)._3 <= rows(s - 1)._3,
        s"stage $s must not grow: $rows")
    }
  }

  test("lsh recall audit: perfect on the planted fixture, counts consistent") {
    val row = rowsOf(Dedup.lshRecall(spark, dir)).head
    val (nTrue, nLsh, nCommon) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(nCommon <= math.min(nTrue, nLsh), "intersection bounded")
    // fixture truth: (0,1) near-dup + (0,2) exact + (1,2) — MinHash
    // recovers exact dups always and the planted near-dup by design
    assert(nTrue == 3, s"three true pairs in the fixture, got $nTrue")
    assert(row.getDouble(row.fieldIndex("recall")) == 1.0,
      "the banded sketch recovers every planted pair")
    assert(row.getDouble(row.fieldIndex("precision")) > 0.0)
  }

  test("novelty: first-occurrence attribution by doc id, mirror source scores zero") {
    // doc 0 (src0) introduces every gram of `base`; doc 2 (src1) is an
    // exact mirror — it re-serves doc 0's grams and introduces nothing
    val r = rowsOf(Dedup.novelty(spark, dir))
      .map(row => row.getString(0) ->
        ((row.getLong(1), row.getLong(2), row.getDouble(3)))).toMap
    val (seen0, intro0, ratio0) = r("src0")
    val (seen1, intro1, ratio1) = r("src1")
    assert(intro0 == seen0, "the first source introduces everything it contains")
    assert(ratio0 == 1.0)
    assert(intro1 < seen1, "the mirror re-serves src0's grams")
    assert(ratio1 < 1.0)
    // doc 2 mirrors doc 0 exactly (owns nothing), so src1's introduced
    // grams can only come from doc 4 — bounded by doc 4's gram count,
    // minus whatever doc 4 shares with the earlier src0 salads
    val gramsOfDoc4 = rowsOf(graft.pipeline.Docs.gramTable(spark, dir)
      .filter(col("doc_id") === 4L)).length
    assert(intro1 > 0 && intro1 <= gramsOfDoc4.toLong,
      s"src1's novelty is doc 4's alone: $intro1 vs $gramsOfDoc4")
  }

  test("source overlap: planted cross-source near-dups land in the right cell") {
    val r = rowsOf(Dedup.sourceOverlap(spark, dir))
      .map(row => ((row.getString(0), row.getString(1)),
        (row.getLong(2), row.getDouble(3), row.getDouble(4)))).toMap
    // fixture pairs: (0,1) src0-src0, (0,2) src0-src1, (1,2) src0-src1
    val (diagN, diagMean, _) = r(("src0", "src0"))
    assert(diagN == 1L, "one within-src0 pair (0,1)")
    val (crossN, crossMean, crossMax) = r(("src0", "src1"))
    assert(crossN == 2L, "pairs (0,2) and (1,2) cross the sources")
    assert(crossMax == 1.0, "the exact duplicate (0,2) dominates the cell max")
    assert(crossMean > diagMean * 0.5 && crossMean <= 1.0)
    assert(!r.contains(("src1", "src1")), "no within-src1 pair exists")
  }

  test("contrib cap: kept counts equal sum of min(K, per-user events) and match a brute-force earliest-K walk") {
    import org.apache.spark.sql.functions.unix_micros
    val ev = rowsOf(Tables.events(spark, SF)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us")))
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val k = Dedup.ContribCapK
    val keptTypes = ev.groupBy(_._1).values.toSeq.flatMap { rows =>
      rows.sortBy(e => (e._4, e._2)).take(k).map(_._3)
    }
    val expectKept = keptTypes.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expectAll = ev.map(_._3).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val r = rowsOf(Dedup.contribCap(spark, SF))
    assert(r.map(_.getString(0)).toSet == expectAll.keySet)
    r.foreach { row =>
      val t = row.getString(row.fieldIndex("event_type"))
      assert(row.getLong(row.fieldIndex("n_events")) == expectAll(t))
      assert(row.getLong(row.fieldIndex("n_kept")) == expectKept.getOrElse(t, 0L))
      assert(row.getLong(row.fieldIndex("n_kept")) <=
        row.getLong(row.fieldIndex("n_events")))
    }
    val totKept = r.map(_.getLong(r.head.fieldIndex("n_kept"))).sum
    val expectTot = ev.groupBy(_._1).values.map(rows => math.min(k, rows.size).toLong).sum
    assert(totKept == expectTot)
  }
}
