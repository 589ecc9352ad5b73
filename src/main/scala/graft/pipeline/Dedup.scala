package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Gates
import org.apache.spark.sql.functions._

/** Deduplication operators for an LLM training-data pipeline, over the
  * `documents` table. Spark-first designs:
  *
  *   - exact dedup = one hash-groupBy (map-side combine, single shuffle);
  *   - MinHash+LSH = shingle → xxhash64 → k affine permutations → band
  *     bucket-join. NEVER all-pairs: only same-(band, band-hash) rows
  *     meet, so the shuffle is on the band key and the pair count is
  *     bounded by bucket sizes (AQE splits skewed buckets);
  *   - SimHash = tf-weighted ±1 bit sums per token hash, reassembled with
  *     bitwise OR (no overflow, ANSI-safe);
  *   - n-gram Jaccard = exact intersection counts via a gram-key join —
  *     the same bucket-join shape, candidates share ≥1 gram by
  *     construction.
  *
  * All pure column expressions (codegen'd, no UDFs).
  */
object Dedup {

  // ---- exact dedup --------------------------------------------------

  /** Exact duplicate groups by content hash. `d_exact_dedup`. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Docs.docs(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_doc_id"))

  // ---- high-df gram cap ---------------------------------------------

  /** Document-frequency cap for the candidate-generating gram joins
    * ([[minhashLsh]], [[ngramJaccard]]): a gram shared by df documents
    * puts all df of them in one join bucket, i.e. O(df²) candidate
    * pairs — one piece of site chrome shared by a million documents is
    * a pair bomb no skew handling can absorb (AQE only subdivides the
    * partition; the pair count stays quadratic). Grams with df > cap are
    * boilerplate by definition (cf. [[Text.boilerplate]]) and carry no
    * duplicate signal — near-dup pairs share plenty of rare grams — so
    * they are dropped from the dedup gram set entirely: candidate
    * generation, sizes and signatures all see the capped table, and the
    * DuckDB oracles replay the cap, keeping the hash gate end-to-end.
    * The cap bounds every bucket at cap² pairs ⇒ total candidates
    * ≤ cap × |kept grams|, linear in corpus size. */
  val GramDfCap = 20

  /** The capped gram table: `grams` minus the df > `cap` stoplist, via a
    * left-anti join on the gram key. The stoplist aggregate shuffles on
    * the same key as the downstream pair join, and the anti join leaves
    * the big side partitioned on that key — the stoplist costs one
    * (map-side-combined) aggregate, not a new join shape. */
  private[graft] def dropHighDfGrams(grams: DataFrame,
                                     cap: Int = GramDfCap): DataFrame = {
    val stop = grams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") > cap)
      .select(col("gram"))
    grams.join(stop, Seq("gram"), "left_anti")
  }

  // ---- MinHash + LSH ------------------------------------------------

  /** 2^31 − 1, the classic Mersenne-prime modulus: keeps `a*h + b` under
    * 2^62 so ANSI-mode long arithmetic cannot overflow. */
  private val P = 2147483647L
  val NumPerm = 32
  val NumBands = 8 // × 4 rows/band
  private val RowsPerBand = NumPerm / NumBands

  /** The fleet 60-bit hash + the md5 default's DuckDB replay — see
    * [[graft.Hashing]] (shared with the graph operators; the name keeps
    * the md5 oracle contract visible — `graft.hash.impl=xxhash64` swaps
    * the impl fleet-wide for production runs). */
  private[pipeline] def md5Hash60(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.Hashing.hash60(c)

  private[pipeline] def hexFoldSql(expr: String): String =
    graft.Hashing.hexFoldSql(expr)

  /** Deterministic affine-permutation constants (a odd, < 2^31). */
  private val permA: IndexedSeq[Long] =
    (0 until NumPerm).map(i => ((1103515245L * (i + 1) + 12345L) % (P - 1)) | 1L)
  private val permB: IndexedSeq[Long] =
    (0 until NumPerm).map(i => (12345L * (i + 1) + 1103515245L) % P)

  /** Per-document MinHash signature: one row (doc_id, mh0..mh31) over
    * the df-capped gram set ([[dropHighDfGrams]] — boilerplate grams
    * dominate min values without carrying duplicate signal, and capping
    * here keeps the signature consistent with [[ngramJaccard]]'s gram
    * universe). Explode-then-aggregate: a single shuffle on doc_id with
    * map-side partial min — the 100 TB-safe shape (vs per-row array
    * traversals which recompute the gram set k times). A document whose
    * every gram is boilerplate has no signature and exits the dedup path
    * (it carries nothing to match on). */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    minhashSignaturesOn(dropHighDfGrams(Docs.gramTable(spark, dir)))

  /** [[minhashSignatures]] over a CALLER-built df-capped gram table —
    * the shared-substrate seam (the r20 ANN-ladder idiom): audit keys
    * that run both the sketch and the exact pipeline in one query
    // (d_lsh_recall, d_minhash_est) build the gram table ONCE and feed
    * both sides; the standalone keys keep building their own. */
  private[graft] def minhashSignaturesOn(grams: DataFrame): DataFrame = {
    val g = grams.withColumn("h", pmod(md5Hash60(col("gram")), lit(P)))
    val mins = (0 until NumPerm).map(i =>
      min(pmod(col("h") * lit(permA(i)) + lit(permB(i)), lit(P))).as(s"mh$i"))
    g.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** MinHash + LSH banding near-duplicate pairs with estimated Jaccard
    * ≥ `minSim`. `d_minhash_lsh`. Hash-checked end to end: the DuckDB
    * oracle replays shingle hash, all 32 permutations, band hashes, the
    * bucket join and the signature-match estimate bit-for-bit (the
    * estimate is matches/32 — a dyadic rational, so the double compare
    * is exact). ScalaTest additionally asserts the planted duplicates
    * are recovered. */
  /** The banded (doc_id, band, bh, sig) view of a signature table —
    * one row per (document, band) with the band hash AND the full
    * 32-perm signature carried as an array (the streaming screen's
    * verify needs it in-row). Shared by [[minhashBands]] and the
    * typed probe path. */
  private[graft] def minhashBandsSig(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until NumBands).map { b =>
      val cols = (0 until RowsPerBand).map(r => col(s"mh${b * RowsPerBand + r}"))
      struct(lit(b).as("band"), md5Hash60(concat_ws("|", cols: _*)).as("bh"))
    }
    val sigArr = array((0 until NumPerm).map(i => col(s"mh$i")): _*)
    sig.select(col("doc_id"), sigArr.as("sig"),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bh").as("bh"), col("sig"))
  }

  /** (doc_id, band, bh) banded view of a signature table — the LSH
    * bucket key rows shared by the pair join ([[minhashLsh]]), the
    * incremental probe ([[incrementalNeardup]]) and the streaming
    * screen's batch twin. */
  private[graft] def minhashBands(sig: DataFrame): DataFrame =
    minhashBandsSig(sig).select(col("doc_id"), col("band"), col("bh"))

  /** Bucket-space bound for the ONLINE MinHash screen
    * ([[graft.streaming.FingerprintScreen]] `st_minhash_screen`): band
    * hashes fold into `bh mod 2^15` buckets so the streaming state's
    * KEY SPACE is bounded by construction (NumBands · 2^15 — the same
    * forever-running property the SimHash screen gets from its 15-bit
    * band stripes) instead of growing with the distinct band-hash
    * count. Folding only ADDS bucket collisions — extra candidates the
    * exact signature verify discards — never drops a true bucket
    * match, so the pigeonhole recall contract is untouched. */
  val MinhashScreenBuckets = 1L << 15

  /** Verify threshold for the screen's signature match count:
    * matches/NumPerm ≥ 0.5 — the same estimated-Jaccard cut
    * [[minhashLsh]] defaults to, expressed as an integer compare. */
  val MinhashMinMatches: Int = NumPerm / 2

  def minhashLsh(spark: SparkSession, dir: String, minSim: Double = 0.5): DataFrame =
    minhashLshOnSig(minhashSignatures(spark, dir).localCheckpoint(true), minSim)
      .orderBy(col("a"), col("b"))

  /** [[minhashLsh]] over a CALLER-materialized signature table,
    * unordered (the audit consumers aggregate; the standalone key
    * orders). The caller owns `sig`'s lifecycle. */
  private[graft] def minhashLshOnSig(sig: DataFrame, minSim: Double): DataFrame = {
    val bands = minhashBands(sig)
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    // signature verify through the native ArrayEqualCount loop — the
    // 32-slot when-chain spelling generated a 9,195-byte method that
    // HotSpot refused to JIT (CodegenSizeSpec); integer count, so the
    // est_jaccard doubles (dyadic matches/32) are bit-identical
    val sigA = array((0 until NumPerm).map(i => col(s"sa.mh$i")): _*)
    val sigB = array((0 until NumPerm).map(i => col(s"sb.mh$i")): _*)
    val matches = graft.functions.ArrayEqualCount.arrayEqualCount(sigA, sigB)
    cand
      .join(sig.as("sa"), col("a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("b") === col("sb.doc_id"))
      .select(col("a"), col("b"), (matches.cast("double") / NumPerm).as("est_jaccard"))
      .filter(col("est_jaccard") >= minSim)
  }

  // ---- SimHash ------------------------------------------------------

  /** Effective SimHash width: [[md5Hash60]] token hashes carry 60
    * meaningful bits (bits 60-63 of every hash are zero, so those
    * fingerprint bits are constant 0 — harmless to banding: equality on
    * constant bits always holds, and the pigeonhole guarantee is
    * unaffected). */
  val SimhashBits = 60

  /** SimHash fingerprint per document + a hamming bucket (top 12
    * effective bits): near-duplicates land in the same bucket with high
    * probability. `d_simhash` — the DuckDB oracle replays the tf-weighted
    * bit sums and reassembly exactly. Term frequency weights fall out of
    * exploding tokens WITHOUT dedup. */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    // docsWide: the token explode + per-token md5 (~150 hashes/doc) ran
    // in ONE task on the native scan layout at bench SFs (see
    // [[Docs.docsWide]]); values are row-local, the signature aggregate
    // is keyed on doc_id — results layout-independent
    val toks = Docs.docsWide(spark, dir)
      .select(col("doc_id"), explode(Docs.tokens).as("token"))
      .withColumn("h", md5Hash60(col("token")))
    val bitSums = (0 until SimhashBits).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"s$j"))
    val assembled = (0 until SimhashBits)
      .map(j => when(col(s"s$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    toks.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), assembled.as("simhash"))
      .withColumn("bucket", shiftrightunsigned(col("simhash"), 48))
      .orderBy(col("doc_id"))
  }

  /** SimHash near-dup PAIRS — the step that turns fingerprints into
    * candidates. Pigeonhole banding: split the [[SimhashBits]]-bit
    * fingerprint into `HammingMax + 1` bands; two fingerprints within
    * hamming distance [[HammingMax]] must agree on at least one whole
    * band, so the equi-join on (band index, band bits) finds every such
    * pair without an all-pairs product (same bucket-join shape as LSH).
    * The x-side of the bucket join is capped at [[BandBucketCap]]
    * LOWEST-id members per (band, bits) bucket ([[cappedBandPairs]]) —
    * without the cap a mega-group of identical fingerprints (exactly
    * the dedup workload: boilerplate pages hash to ONE bucket in ALL
    * bands) forms ~4·C(n, 2) candidate rows from a single key.
    * Survivors are verified with the exact popcount distance
    * (`bit_count(a XOR b)`, codegen'd built-in). The DuckDB oracle
    * replays banding + the witness cap + popcount; the spec
    * additionally plants hamming-close fingerprints, a collapsed
    * mega-bucket (pair bound + exact-witness property), and checks
    * recall + the no-product plan. `d_simhash_pairs`. */
  val HammingMax = 3

  /** Witness cap for the SimHash-family (band, bits) bucket joins
    * ([[simhashPairs]], [[graft.pipeline.Multimodal.phashDedup]], and
    * the incremental probe's corpus side): the x-side of the pair join
    * is each bucket's ≤cap LOWEST-id members, so the per-bucket pair
    * product is ≤ n·cap instead of C(n, 2) even when a mega-group of
    * identical fingerprints collapses every band into one bucket.
    * Lowest-id — not a hash sample — for the [[graft.pipeline
    * .Similarity.SemClusterCap]] argument: the keep-first survivor of
    * any duplicate group is its lowest id, and with lowest-id
    * witnesses EVERY bucket member still pairs with the bucket minimum
    * (witness #1), so downstream keep-first / CC-closure semantics are
    * preserved exactly; the capped recall loss concentrates on rare
    * pairs close ONLY to mid-id bucket-mates in every shared band.
    * Precision stays 1 (every emitted pair is exact-popcount
    * verified). */
  val BandBucketCap = 64

  /** The capped band-bucket pair join shared by the SimHash and pHash
    * near-dup screens: x-side = ≤`cap` lowest-id members per
    * (band, bits) bucket through the native
    * [[graft.plans.TopKPerGroup]] heap (map-side partial bounds the
    * shuffle at cap rows per bucket per input partition), y-side = the
    * whole banded table. Emits exact-popcount (a, b, hamming) with
    * a < b, NOT yet thresholded/deduped — callers filter and
    * distinct. Factored out so the spec can plant a collapsed
    * mega-bucket and assert the pair bound + exact-witness property
    * structurally. `banded` columns: (doc_id, fp, band, bits). */
  private[graft] def cappedBandPairs(banded: DataFrame, cap: Int): DataFrame = {
    val witnesses = graft.plans.TopKPerGroup.rankTopK(
        banded, Seq("band", "bits"), Seq("doc_id" -> false), cap)
      .select(col("doc_id"), col("fp"), col("band"), col("bits"))
    witnesses.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bits") === col("y.bits") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).cast("long").as("hamming"))
  }

  /** The banded (doc_id, fp, band, bits) view of a fingerprint table —
    * each `bits`-wide stripe of the fingerprint keyed by its band
    * index. Shared by the batch pair join and the incremental probe. */
  private[graft] def bandedFingerprints(fp: DataFrame, fpCol: String,
                                        nBands: Int, bandBits: Int): DataFrame =
    fp.select(col("doc_id"), col(fpCol).as("fp"),
        explode(array((0 until nBands).map { b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col(fpCol), b * bandBits)
              .bitwiseAND(lit((1L << bandBits) - 1)).as("bits"))
        }: _*)).as("bb"))
      .select(col("doc_id"), col("fp"),
        col("bb.band").as("band"), col("bb.bits").as("bits"))

  def simhashPairs(spark: SparkSession, dir: String,
                   cap: Int = BandBucketCap): DataFrame = {
    val nBands = HammingMax + 1
    // the pigeonhole recall guarantee needs the bands to tile the WHOLE
    // fingerprint: a leftover stripe of uncovered bits would silently
    // drop pairs whose differences all land there
    require(SimhashBits % nBands == 0,
      s"SimhashBits=$SimhashBits must be divisible by HammingMax+1=$nBands")
    val bandBits = SimhashBits / nBands // 15
    val fp = simhash(spark, dir).select(col("doc_id"), col("simhash"))
      .localCheckpoint(true) // the 64 bit-sum aggregates run ONCE, not per band
    cappedBandPairs(bandedFingerprints(fp, "simhash", nBands, bandBits), cap)
      .filter(col("hamming") <= HammingMax)
      .distinct() // a close pair can collide in several bands
      .orderBy(col("a"), col("b"))
  }

  // ---- exact n-gram Jaccard ----------------------------------------

  /** Exact word-3-gram Jaccard similarity for all pairs ≥ `minSim`.
    * Candidates come from the gram-key join (pairs must share a gram),
    * so no all-pairs product ever materializes, and the gram table is
    * df-capped first ([[dropHighDfGrams]]) so no single boilerplate gram
    * can put an O(df²) bucket into that join. `d_ngram_jaccard`.
    * Integer intersection/union counts (over the capped gram set — sizes
    * and intersections see the same table, so jaccard stays a true
    * Jaccard of kept grams) make the double division bit-identical to
    * the DuckDB oracle, which replays the cap. */
  def ngramJaccard(spark: SparkSession, dir: String, minSim: Double = 0.5): DataFrame =
    ngramJaccardOn(dropHighDfGrams(Docs.gramTable(spark, dir)), minSim)
      .orderBy(col("a"), col("b"))

  /** [[ngramJaccard]] over a CALLER-built df-capped gram table,
    * unordered — the shared-substrate seam ([[minhashSignaturesOn]]). */
  private[graft] def ngramJaccardOn(grams: DataFrame, minSim: Double): DataFrame = {
    // BOUNDED-COLLECT SHORTCUT (the boruvkaMstLocal class of gate):
    // below [[Gates.bytes]] gram bytes the pair kernel runs
    // on the driver over the collected (doc_id, gram) rows —
    // [[ngramJaccardLocal]] replays the OCCURRENCE-count semantics op
    // for op (inter = Σ_g cnt_a·cnt_b, sizes = gram-row counts, the
    // UNROUNDED jac ≥ minSim filter, round-6 output), so the pair set
    // is identical by construction; DedupSpec pins local ==
    // distributed. The byte probe is one map-side-combined aggregate
    // over the same gram plan the self-join would scan.
    val bytes = grams.agg(coalesce(sum(length(col("gram"))), lit(0L)))
      .collect()(0).getLong(0)
    if (bytes <= Gates.bytes) {
      val rows = grams.select(col("doc_id").cast("long"), col("gram"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      return ngramJaccardLocal(grams.sparkSession, rows, minSim)
    }
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val inter = grams.as("g1")
      .join(grams.as("g2"),
        col("g1.gram") === col("g2.gram") && col("g1.doc_id") < col("g2.doc_id"))
      .groupBy(col("g1.doc_id").as("a"), col("g2.doc_id").as("b"))
      .agg(count(lit(1)).as("inter"))
    val jac = col("inter").cast("double") /
      (col("na") + col("nb") - col("inter")).cast("double")
    inter
      .join(sizes.withColumnRenamed("n_grams", "na").withColumnRenamed("doc_id", "a"), Seq("a"))
      .join(sizes.withColumnRenamed("n_grams", "nb").withColumnRenamed("doc_id", "b"), Seq("b"))
      .filter(jac >= minSim)
      .select(col("a"), col("b"), round(jac, 6).as("jaccard"))
  }

  /** Driver-local twin of [[ngramJaccardOn]]'s pair kernel (gated
    * there). Postings per gram with per-doc OCCURRENCE counts (the
    * self-join counts occurrence pairs, not distinct grams), pair
    * intersections accumulated gram by gram, sizes = per-doc gram-row
    * counts, then the identical jac = inter / (na + nb − inter) IEEE
    * division (counts < 2⁵³ convert exactly), the UNROUNDED ≥ minSim
    * filter and the HALF_UP round-6 output value. */
  private def ngramJaccardLocal(spark: SparkSession,
                                rows: Array[(Long, String)],
                                minSim: Double): DataFrame = {
    import spark.implicits._
    val sizes = new java.util.HashMap[java.lang.Long, Long]()
    val postings = new java.util.HashMap[String, java.util.HashMap[java.lang.Long, Long]]()
    var i = 0
    while (i < rows.length) {
      val (d, g) = rows(i)
      sizes.put(d, sizes.get(d) + 1L) // missing unboxes to 0L
      var m = postings.get(g)
      if (m == null) { m = new java.util.HashMap[java.lang.Long, Long](); postings.put(g, m) }
      m.put(d, m.get(d) + 1L)
      i += 1
    }
    val inter = new java.util.HashMap[(Long, Long), Long]()
    val pit = postings.values().iterator()
    while (pit.hasNext) {
      val m = pit.next()
      if (m.size() > 1) {
        val ds = new Array[Long](m.size())
        val cs = new Array[Long](m.size())
        var k = 0
        val eit = m.entrySet().iterator()
        while (eit.hasNext) {
          val e = eit.next(); ds(k) = e.getKey; cs(k) = e.getValue; k += 1
        }
        var x = 0
        while (x < k) {
          var y = x + 1
          while (y < k) {
            val key = if (ds(x) < ds(y)) (ds(x), ds(y)) else (ds(y), ds(x))
            inter.put(key, inter.get(key) + cs(x) * cs(y))
            y += 1
          }
          x += 1
        }
      }
    }
    val out = Array.newBuilder[(Long, Long, Double)]
    val iit = inter.entrySet().iterator()
    while (iit.hasNext) {
      val e = iit.next()
      val (a, b) = e.getKey
      val nInt = e.getValue
      val jac = nInt.toDouble / (sizes.get(a) + sizes.get(b) - nInt).toDouble
      if (jac >= minSim)
        out += ((a, b, java.math.BigDecimal.valueOf(jac)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()))
    }
    val res = out.result()
    spark.sparkContext.parallelize(res.toIndexedSeq,
        math.max(1, math.min(math.max(res.length, 1),
          spark.sparkContext.defaultParallelism)))
      .toDF("a", "b", "jaccard")
  }

  /** MinHash estimate-vs-exact calibration audit — the sketch-quality
    * check a pipeline runs BEFORE trusting est_jaccard at 100 TB (where
    * exact Jaccard is unaffordable corpus-wide but affordable on the
    * candidate set): for every LSH candidate pair at a LOW estimate
    * threshold (borderline band included on purpose), the 32-perm
    * estimate NEXT TO the exact df-capped gram Jaccard and the absolute
    * error. Exact intersection is computed ONLY for candidate docs
    * (semi-join pruned gram table), so the audit's cost tracks the
    * candidate count, not the corpus. A candidate pair with NO shared
    * kept gram (possible via mod-P hash collisions) reports exact 0.
    * `d_minhash_est`. */
  def minhashEstimateAudit(spark: SparkSession, dir: String,
                           minEst: Double = 0.25): DataFrame = {
    // one gram checkpoint for the sketch side's signatures AND the
    // exact side's candidate-pruned grams — the lshRecall sharing
    // (previously the gram table built twice inside this one query);
    // unordered OnSig output is fine: est feeds joins + a final sort
    val grams = dropHighDfGrams(Docs.gramTable(spark, dir)).localCheckpoint(true)
    val sig = minhashSignaturesOn(grams).localCheckpoint(true)
    val est = minhashLshOnSig(sig, minEst).localCheckpoint(true)
    graft.graph.Algorithms.releaseIterate(sig) // est is materialized
    val candDocs = est.select(col("a").as("doc_id"))
      .union(est.select(col("b").as("doc_id"))).distinct()
    val kept = grams.join(candDocs, Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    graft.graph.Algorithms.releaseIterate(grams) // kept is materialized
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = kept.as("g1")
      .join(kept.as("g2"),
        col("g1.gram") === col("g2.gram") && col("g1.doc_id") < col("g2.doc_id"))
      .groupBy(col("g1.doc_id").as("a"), col("g2.doc_id").as("b"))
      .agg(count(lit(1)).as("i"))
    val jac = coalesce(col("i"), lit(0L)).cast("double") /
      (col("na") + col("nb") - coalesce(col("i"), lit(0L))).cast("double")
    est
      .join(inter, Seq("a", "b"), "left_outer")
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      .select(col("a"), col("b"), col("est_jaccard"),
        round(jac, 6).as("jaccard"),
        round(abs(col("est_jaccard") - jac), 6).as("abs_err"))
      .orderBy(col("a"), col("b"))
  }

  /** Tokens per segment for [[segmentDedup]]. */
  val SegTokens = 8
  /** A segment shared by more than this many documents is boilerplate. */
  val SegDfCap = 3

  /** Segment-level dedup (the C4/CCNet "line dedup" cleaning pass,
    * re-shaped for this corpus's newline-free text): split each doc
    * into fixed [[SegTokens]]-token segments, drop every segment whose
    * EXACT content occurs in more than [[SegDfCap]] distinct documents
    * (navigation chrome / repeated footers at web scale), and report
    * per-doc retention. One explode + two keyed shuffles (segment df,
    * then per-doc re-agg) — the same anti-join-on-a-stoplist shape as
    * [[dropHighDfGrams]], but on exact segment content, and the df
    * count is DISTINCT docs (a doc internally repeating its own segment
    * is repetition, [[Text.repetition]]'s signal, not boilerplate).
    * `d_segment_dedup`. */
  /** The exploded (doc_id, n_segments, seg, seg_text) table of
    * [[segmentDedup]] — fixed windows via transform(sequence(...)):
    * stays inside codegen and preserves token order by construction
    * (an explode + collect_list rebuild would lose intra-group order).
    * Factored un-checkpointed so the plan audit can assert the scan
    * pruning the checkpoint barrier would hide. */
  private[graft] def segmentTable(spark: SparkSession, dir: String,
                                  segTokens: Int): DataFrame = {
    val toks = Docs.docs(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    val nSeg = ceil(size(col("t")).cast("double") / segTokens).cast("int")
    toks
      .select(col("doc_id"), nSeg.as("n_segments"), col("t"))
      .select(col("doc_id"), col("n_segments"),
        posexplode(expr(s"transform(sequence(0, n_segments - 1), " +
          s"i -> array_join(slice(t, i * $segTokens + 1, $segTokens), ' '))"))
          .as(Seq("seg", "seg_text")))
  }

  def segmentDedup(spark: SparkSession, dir: String,
                   segTokens: Int = SegTokens, dfCap: Int = SegDfCap): DataFrame = {
    // materialized once: the exploded segment table fans out into
    // three plan references (boilerplate df, kept counts, per-doc
    // totals) and Catalyst does not share the subtree — uncheckpointed
    // the tokenize+explode would execute three times
    val segText = segmentTable(spark, dir, segTokens).localCheckpoint(true)
    val boiler = segText.groupBy(col("seg_text"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > dfCap)
      .select(col("seg_text"))
    segText
      .join(boiler, Seq("seg_text"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"))
      .join(segText.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_segments")), Seq("doc_id"), "right_outer")
      .select(col("doc_id"), col("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        round(coalesce(col("n_kept"), lit(0L)).cast("double") /
          col("n_segments").cast("double"), 6).as("kept_ratio"))
      .orderBy(col("doc_id"))
  }

  // ---- incremental (cross-corpus) dedup -----------------------------

  /** Incremental dedup against an already-ingested corpus: keep only
    * incoming documents whose content hash does NOT appear in the
    * existing source — the LEFT ANTI join every periodic ingest runs
    * (dedup the new crawl against everything already stored, without
    * re-deduping the store). The existing-side hash set is
    * corpus-proportional, so it is NOT broadcast — the anti join
    * shuffles both sides on the hash key (AQE may still broadcast at
    * small SF). `d_incremental_dedup`. */
  def incrementalDedup(spark: SparkSession, dir: String,
                       existingSource: String = "src0"): DataFrame = {
    val docs = Docs.docs(spark, dir)
    val existing = docs.filter(col("source") === existingSource)
      .select(md5(col("text")).as("content_hash")).distinct()
    docs.filter(col("source") =!= existingSource)
      .withColumn("content_hash", md5(col("text")))
      .join(existing, Seq("content_hash"), "left_anti")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Containment threshold for [[containment]]. */
  val ContainmentTau = 0.8

  /** Asymmetric n-gram CONTAINMENT pairs — the quote/subset duplication
    * symmetric Jaccard misses: a short document fully contained in a
    * long one (a quoted article, a concatenated shard) has
    * i/|A| = 1.0 while Jaccard i/(|A|+|B|−i) ≈ |A|/|B| falls far below
    * any sane τ, so [[ngramJaccard]] never pairs them. Same df-capped
    * gram bucket join (candidates from shared rare grams, every bucket
    * ≤ [[GramDfCap]] docs — no pair product); per canonical pair a < b
    * the report carries BOTH directions' containment, kept when either
    * reaches τ. All counts integer; two rounded divisions at the end.
    * `d_containment`. */
  def containment(spark: SparkSession, dir: String,
                  tau: Double = ContainmentTau): DataFrame = {
    // materialized once: `kept` fans into FOUR plan references (both
    // self-join sides + both size joins), and the optimizer expanded
    // each into its own gram build — the executed plan carried 16
    // parquet scans / 8 n-gram explodes for one query (guide §1.2:
    // don't compute things twice). One checkpoint, four readers;
    // released once the (tiny) pair report is materialized.
    val kept = dropHighDfGrams(Docs.gramTable(spark, dir))
      .localCheckpoint(true)
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = kept.as("x").join(kept.as("y"),
        col("x.gram") === col("y.gram") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("i"))
    val out = inter
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      .select(col("a"), col("b"), col("i"),
        round(col("i").cast("double") / col("na").cast("double"), 6)
          .as("cont_a_in_b"),
        round(col("i").cast("double") / col("nb").cast("double"), 6)
          .as("cont_b_in_a"))
      .filter(col("cont_a_in_b") >= tau || col("cont_b_in_a") >= tau)
      .localCheckpoint(true) // materialize, then drop the gram pin
    graft.graph.Algorithms.releaseIterate(kept)
    out.orderBy(col("a"), col("b"))
  }

  /** Cluster-size HISTOGRAM over the near-dup clusters — the one-glance
    * dedup observability report (how much of the corpus sits in how
    * large families; the long tail of size-1 rows is the unique mass):
    * for each cluster size, the number of clusters and of member docs.
    * Two keyed aggregates over the [[dedupClusters]] assignment.
    * `d_cluster_stats`. */
  def clusterStats(spark: SparkSession, dir: String): DataFrame =
    dedupClusters(spark, dir)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"))
      .orderBy(col("cluster_size"))

  /** Incremental NEAR-dup ingest screen — the fuzzy upgrade of
    * [[incrementalDedup]] (exact md5 only): a new shard is admitted
    * doc-by-doc after probing the EXISTING corpus's MinHash LSH band
    * buckets. The batch's band rows equi-join the corpus's band rows on
    * (band, band-hash) — never batch × corpus — and surviving
    * candidates are verified with EXACT n-gram Jaccard over the
    * df-capped gram universe (the same gram table [[ngramJaccard]]
    * dedups with, so screen and in-corpus dedup agree on what "near
    * dup" means). Output: every batch doc with `dup_of` = the smallest
    * verified corpus match (NULL ⇒ fresh) and the `kept` verdict.
    *
    * Scale shape: signatures/bands are per-doc rows; the probe is one
    * bucket equi-join; the verify joins only CANDIDATE docs' grams
    * (semi-join restriction), each gram bucket ≤ [[GramDfCap]] docs —
    * so a 100 TB corpus costs the batch only its own bucket matches,
    * not a corpus rescan. `d_incremental_neardup`. */
  def incrementalNeardup(spark: SparkSession, dir: String,
                         existingSource: String = "src0",
                         minSim: Double = 0.5): DataFrame = {
    val docs = Docs.docs(spark, dir).select(col("doc_id"), col("source"))
    val sig = minhashSignatures(spark, dir).localCheckpoint(true)
    val bands = minhashBands(sig)
    val corpusIds = docs.filter(col("source") === existingSource)
      .select(col("doc_id"))
    val batch = docs.filter(col("source") =!= existingSource)
    val corpusBands = bands.join(corpusIds, Seq("doc_id"), "left_semi")
    val batchBands = bands.join(batch.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val cand = batchBands.as("x")
      .join(corpusBands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("x.doc_id").as("b_id"), col("y.doc_id").as("c_id"))
      .distinct()
      .localCheckpoint(true)
    val kept = dropHighDfGrams(Docs.gramTable(spark, dir))
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val gb = kept.join(cand.select(col("b_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_semi")
    val gc = kept.join(cand.select(col("c_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_semi")
    val inter = gb.as("gx").join(gc.as("gy"), col("gx.gram") === col("gy.gram"))
      .select(col("gx.doc_id").as("b_id"), col("gy.doc_id").as("c_id"))
      .groupBy(col("b_id"), col("c_id")).agg(count(lit(1)).as("i"))
      .join(cand, Seq("b_id", "c_id"), "left_semi")
    val ver = inter
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("na")), Seq("b_id"))
      .join(sizes.select(col("doc_id").as("c_id"), col("n").as("nb")), Seq("c_id"))
      .filter(col("i").cast("double") /
        (col("na") + col("nb") - col("i")).cast("double") >= minSim)
      .groupBy(col("b_id")).agg(min(col("c_id")).as("dup_of"))
    batch
      .join(ver, col("doc_id") === col("b_id"), "left_outer")
      .select(col("doc_id"), col("source"), col("dup_of"),
        col("dup_of").isNull.as("kept"))
      .orderBy(col("doc_id"))
  }

  /** Incremental SIMHASH ingest screen — the fingerprint-family member
    * of the ingest trio ([[incrementalDedup]] exact md5,
    * [[incrementalNeardup]] MinHash/Jaccard, this one Hamming): a new
    * shard probes the EXISTING corpus's (band, bits) buckets with its
    * own banded SimHash fingerprints. This is the media-path screen —
    * the same probe runs unchanged over pHash fingerprints
    * ([[graft.pipeline.Multimodal.phashDedup]] shares the banding and
    * the cap), where "re-encoded copy of an already-ingested image"
    * is a Hamming-ball membership test, not a token-overlap one.
    *
    * Scale shape: the corpus side of the probe is capped at
    * [[BandBucketCap]] LOWEST-id members per bucket (the
    * [[cappedBandPairs]] witness argument: a boilerplate mega-group
    * collapses every band into one bucket, but its keep-first survivor
    * — the bucket minimum — is always a witness, so a batch copy of
    * corpus boilerplate still matches at hamming 0), the join is band
    * equi-keyed — never batch × corpus — and survivors are verified
    * with the exact popcount distance. Output: every batch doc with
    * `dup_of` = the smallest corpus doc within [[HammingMax]] (NULL ⇒
    * fresh) and the `kept` verdict. `d_incremental_simhash`. */
  def incrementalSimhash(spark: SparkSession, dir: String,
                         existingSource: String = "src0",
                         cap: Int = BandBucketCap): DataFrame = {
    val nBands = HammingMax + 1
    val bandBits = SimhashBits / nBands
    val docs = Docs.docs(spark, dir).select(col("doc_id"), col("source"))
    val fp = simhash(spark, dir).select(col("doc_id"), col("simhash"))
      .localCheckpoint(true) // banded twice (corpus + batch sides)
    val banded = bandedFingerprints(fp, "simhash", nBands, bandBits)
    val corpusIds = docs.filter(col("source") === existingSource)
      .select(col("doc_id"))
    val batch = docs.filter(col("source") =!= existingSource)
    val corpusBands = graft.plans.TopKPerGroup.rankTopK(
        banded.join(corpusIds, Seq("doc_id"), "left_semi"),
        Seq("band", "bits"), Seq("doc_id" -> false), cap)
      .select(col("doc_id"), col("fp"), col("band"), col("bits"))
    val batchBands = banded.join(batch.select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val ver = batchBands.as("x").join(corpusBands.as("y"),
        col("x.band") === col("y.band") && col("x.bits") === col("y.bits"))
      .filter(bit_count(col("x.fp").bitwiseXOR(col("y.fp"))) <= HammingMax)
      .groupBy(col("x.doc_id").as("b_id"))
      .agg(min(col("y.doc_id")).as("dup_of"))
    batch
      .join(ver, col("doc_id") === col("b_id"), "left_outer")
      .select(col("doc_id"), col("source"), col("dup_of"),
        col("dup_of").isNull.as("kept"))
      .orderBy(col("doc_id"))
  }

  /** Bloom-filter geometry for [[bloomDedup]]: 2^17 bits in 32-bit
    * words (4096 bitmap rows — corpus-size-INDEPENDENT and broadcast-
    * trivial at test SF; at 100 TB the bits parameter grows and the
    * bitmap join degrades gracefully from broadcast to a word-keyed
    * hash join, because the filter is RELATIONAL rows, not a driver
    * structure). 32-bit words, not 64: `1 << 63` overflows DuckDB's
    * checked BIGINT shift, and the word width only shifts the
    * row-count constant. k = 4 probes ⇒ FP rate (1−e^(−kn/m))^k ≈
    * 2.4e-3 at n = 5k reference docs. */
  val BloomBits = 1L << 17
  val BloomWordBits = 32L
  val BloomK = 4

  /** The k double-hashed bit positions of `h`: p_i = (h1 + i·h2) mod m
    * with h1 = h mod m, h2 = (h >> 17) mod m forced odd — Kirsch &
    * Mitzenmacher's two-hash scheme, all exact integer ops both
    * engines. */
  private def bloomPositions(h: org.apache.spark.sql.Column) = {
    val h1 = pmod(h, lit(BloomBits))
    val h2 = pmod(shiftright(h, 17), lit(BloomBits)).bitwiseOR(lit(1L))
    explode(array((0 until BloomK).map(i => pmod(h1 + lit(i.toLong) * h2, lit(BloomBits))): _*))
  }

  /** Bloom-filter incremental dedup — the screen an ingest pipeline
    * puts in FRONT of exact cross-corpus dedup ([[incrementalDedup]])
    * so the unbounded "yesterday's corpus" never joins the new batch:
    * the reference corpus (source = src0, same split as the exact op)
    * is folded into a [[BloomBits]]-bit Bloom filter expressed as
    * RELATIONAL bitmap rows — (word_idx, bit_or of member bits), ONE
    * map-side-combined aggregate, ≤ bits/32 rows — and each new doc
    * probes its [[BloomK]] double-hashed positions against the
    * broadcast bitmap. `bloom_maybe_dup` = all k bits set; the exact
    * md5 anti-join verdict rides along as `true_dup`, so the operator
    * exhibits its own false-positive rate and the spec can assert the
    * Bloom contract (NO false negatives; FPs possible, never FNs).
    * Scale: the new-batch side is scanned once, narrow except the
    * k-way position explode; the reference side collapses to the
    * bitmap aggregate — at 100 TB the reference corpus is never
    * shuffled, only its 4096-row bitmap moves. `d_bloom_dedup`. */
  def bloomDedup(spark: SparkSession, dir: String,
                 existingSource: String = "src0"): DataFrame = {
    val docs = Docs.docs(spark, dir)
    val bit = expr(s"shiftleft(1L, cast(pmod(p, $BloomWordBits) as int))")
    val bitmap = docs.filter(col("source") === existingSource)
      .select(bloomPositions(md5Hash60(col("text"))).as("p"))
      .select(shiftright(col("p"), 5).as("w"), bit.as("b"))
      .groupBy(col("w")).agg(expr("bit_or(b)").as("bits"))
    val exact = docs.filter(col("source") === existingSource)
      .select(md5(col("text")).as("ch")).distinct()
    val probes = docs.filter(col("source") =!= existingSource)
      .select(col("doc_id"), md5(col("text")).as("ch"),
        bloomPositions(md5Hash60(col("text"))).as("p"))
      .select(col("doc_id"), col("ch"), shiftright(col("p"), 5).as("w"), bit.as("b"))
    probes
      .join(broadcast(bitmap), Seq("w"), "left_outer")
      .groupBy(col("doc_id"), col("ch"))
      .agg(sum(when(coalesce(col("bits"), lit(0L)).bitwiseAND(col("b")) =!= 0L, 1L)
        .otherwise(0L)).as("n_hits"))
      .join(exact.select(col("ch"), lit(1).as("true_dup")), Seq("ch"), "left_outer")
      .select(col("doc_id"), col("n_hits"),
        (col("n_hits") === BloomK).cast("int").as("bloom_maybe_dup"),
        coalesce(col("true_dup"), lit(0)).as("true_dup"))
      .orderBy(col("doc_id"))
  }

  /** Radix-width clamp for [[rankShuffle]]: at least 64 buckets (below
    * this the cumsum saves nothing) and at most 2^20 (the offset table
    * must stay broadcast-small: 1M × 16 B ≈ 16 MB). */
  val MinShuffleBuckets = 64L
  val MaxShuffleBuckets: Long = 1L << 20

  /** Corpus-scaled radix width for [[rankShuffle]]:
    * B = clamp(⌈√n⌉, [[MinShuffleBuckets]], [[MaxShuffleBuckets]]) —
    * the [[graft.pipeline.Similarity.semK]] idiom. √n balances the two
    * bounded structures the rank uses: per-bucket window tasks of ~√n
    * rows and an offset cumsum/broadcast of ~√n rows (10^10 docs →
    * 10^5 buckets of 10^5 rows). ⌈√n⌉ — not 2^⌈log₂√n⌉ — because IEEE
    * `sqrt` is correctly rounded in every engine while `log2` is not,
    * so the DuckDB oracle re-derives the identical width from COUNT(*). */
  private[graft] def shuffleBucketCount(n: Long): Long =
    math.max(MinShuffleBuckets, math.min(MaxShuffleBuckets,
      math.ceil(math.sqrt(n.toDouble)).toLong))

  /** Deterministic corpus shuffle with a GLOBAL position index — the
    * training-order writer: every epoch reads documents in a fixed
    * pseudo-random permutation, and that permutation must replay
    * identically on any cluster width, any retry (the same argument as
    * [[sampleMix]]'s hash gates). Permutation key = salted 60-bit hash;
    * the global rank over (hkey, doc_id) is computed WITHOUT a global
    * sort or single-partition window: the hash is uniform on [0, 2^60),
    * which equal-width slices into [[shuffleBucketCount]] CORPUS-SCALED
    * RADIX buckets (~√n of them, so each bucket and the offset table
    * are both ~√n rows at any corpus size) — rank = (cumulative count
    * of lower buckets) + (rank within bucket). Bucket counts are a
    * bounded aggregate (broadcast back); the within-bucket rank is a
    * partitioned window. At 100 TB the only data-sized exchange is the
    * one shuffle onto the bucket key — the exact cost of the
    * distributed sort the naive plan hides in a far worse place (a
    * single reducer). `d_shuffle_index`. */
  /** The radix-bucketed global rank over (salted hash of doc_id,
    * doc_id) — appends `shuffle_pos` to `df` (which must carry a
    * unique `doc_id`). `corpusN` sizes the radix width (≥ the row
    * count of `df` is fine — oversized buckets only shrink the
    * per-task sort); callers pass the corpus row count so deriving the
    * width never re-executes `df`'s own upstream plan. The ≤~√n-row
    * bucket-count cumsum is the only unpartitioned window (bounded by
    * [[MaxShuffleBuckets]]); everything data-sized is one keyed
    * shuffle + a partitioned window whose groups hold ~n/B ≈ √n rows.
    * Bucketing is integer division by the exact width w = 2^60 div B
    * (not a bit shift — B need not be a power of two), identical
    * integer ops in Spark and DuckDB. */
  private[graft] def rankShuffle(df: DataFrame, seed: Long, corpusN: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = shuffleBucketCount(corpusN)
    val w = (1L << 60) / b // bucket ids land in [0, B] — ≤ B+1 buckets
    val keyed = df.withColumn("hkey",
        md5Hash60(concat_ws("|", col("doc_id"), lit(seed))))
      .withColumn("bucket", expr(s"hkey div $w"))
    val offsets = keyed.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .withColumn("offset",
        coalesce(sum(col("n")).over(
          Window.orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("offset"))
    keyed
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("bucket")).orderBy(col("hkey"), col("doc_id"))))
      .join(broadcast(offsets), Seq("bucket"))
      .withColumn("shuffle_pos", col("offset") + col("rk") - 1)
      .drop("hkey", "bucket", "offset", "rk")
  }

  /** NOTE: counts the corpus eagerly (one metadata-cheap parquet count)
    * to size the radix width — plan-shape-from-data, the same eager
    * derivation as [[Similarity.semanticDedup]]'s semK. */
  def shuffleIndex(spark: SparkSession, dir: String, seed: Long = 42L): DataFrame = {
    val docs = Docs.docs(spark, dir).select(col("doc_id"))
    rankShuffle(docs, seed, docs.count())
      .orderBy(col("doc_id"))
  }

  /** Context-window length (tokens) for [[seqPack]] — deliberately small
    * so the bin structure is exercised at every test SF (a doc both
    * fills bins and spans bin boundaries). */
  val PackContext = 256

  /** [[rankShuffle]] extended with a WEIGHTED prefix sum: alongside
    * `shuffle_pos`, appends `start_pos` = the total `n_tokens` of every
    * document BEFORE this one in shuffle order. Same radix structure —
    * the per-bucket aggregate now also sums tokens, the ≤~√n-row offset
    * cumsum carries a second column, and the partitioned window computes
    * a running token sum next to the row number (one window spec, both
    * functions, a single sort per bucket). A global token offset with no
    * global sort and no single-task window, at any corpus size.
    * `df` must carry unique `doc_id` + `n_tokens`. */
  private[graft] def packRank(df: DataFrame, seed: Long, corpusN: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = shuffleBucketCount(corpusN)
    val w = (1L << 60) / b
    val keyed = df.withColumn("hkey",
        md5Hash60(concat_ws("|", col("doc_id"), lit(seed))))
      .withColumn("bucket", expr(s"hkey div $w"))
    val cum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("n_tokens")).as("tw"))
      .withColumn("offset", coalesce(sum(col("n")).over(cum), lit(0L)))
      .withColumn("tok_off", coalesce(sum(col("tw")).over(cum), lit(0L)))
      .select(col("bucket"), col("offset"), col("tok_off"))
    val win = Window.partitionBy(col("bucket")).orderBy(col("hkey"), col("doc_id"))
    keyed
      .withColumn("rk", row_number().over(win))
      .withColumn("cum_tw", sum(col("n_tokens")).over(
        win.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(offsets), Seq("bucket"))
      .withColumn("shuffle_pos", col("offset") + col("rk") - 1)
      .withColumn("start_pos", col("tok_off") + col("cum_tw") - col("n_tokens"))
      .drop("hkey", "bucket", "offset", "tok_off", "rk", "cum_tw")
  }

  /** Training-sequence packing: the GPT-style "concatenate the shuffled
    * token stream, slice into fixed [[PackContext]]-token windows"
    * manifest. Documents are laid out in [[rankShuffle]]'s deterministic
    * training order; each doc's global token offset comes from
    * [[packRank]]'s distributed weighted prefix sum, and its context
    * bins are pure integer arithmetic on that offset: `bin_id` = the
    * window its first token lands in, `bin_offset` the position inside
    * it, `n_bins` how many windows the doc spans (documents cross
    * window boundaries — the standard causal-LM packing, no padding).
    * A training reader consumes this manifest directly: bin b's content
    * is every doc with bin_id ≤ b ≤ bin_id + n_bins − 1, in shuffle
    * order. `d_seq_pack`. */
  def seqPack(spark: SparkSession, dir: String, ctx: Int = PackContext,
              seed: Long = 42L): DataFrame = {
    val docs = Docs.docs(spark, dir)
      .select(col("doc_id"), size(Docs.tokens).cast("long").as("n_tokens"))
    packRank(docs, seed, Docs.docs(spark, dir).count())
      .select(col("doc_id"), col("n_tokens"), col("shuffle_pos"), col("start_pos"),
        expr(s"start_pos div $ctx").as("bin_id"),
        pmod(col("start_pos"), lit(ctx.toLong)).as("bin_offset"),
        (expr(s"(start_pos + n_tokens - 1) div $ctx") -
          expr(s"start_pos div $ctx") + lit(1L)).as("n_bins"))
      .orderBy(col("doc_id"))
  }

  /** The end-to-end curation chain as ONE declarative plan — the
    * composition a training-data build actually runs, proving the
    * stages compose without materialization walls:
    *   1. exact dedup (keep the lowest-id copy per content hash),
    *   2. per-language token budget over the SURVIVORS (quality-ranked
    *      prefix cut — budget counts deduped tokens, not raw),
    *   3. deterministic training-order shuffle of the final kept set
    *      ([[rankShuffle]]'s radix-bucketed global rank).
    * Catalyst sees the whole chain: the dedup keeper set reaches the
    * budget window as a semi join (no intermediate table), and the
    * shuffle rank runs over only the budget survivors. Output: the
    * curated corpus manifest (doc_id, lang, n_tokens, shuffle_pos) a
    * training reader consumes directly. `d_curation_e2e`. */
  def curationE2e(spark: SparkSession, dir: String,
                  budget: Long = TokensPerLang, seed: Long = 42L): DataFrame = {
    val keepers = Docs.docs(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val kept = budgetCut(
        Text.quality(spark, dir)
          .select(col("doc_id"), col("n_tokens"), col("quality_score"))
          .join(Docs.docs(spark, dir).select(col("doc_id"), col("lang")), Seq("doc_id"))
          .join(keepers, Seq("doc_id"), "left_semi"),
        budget)
      .select(col("doc_id"), col("lang"), col("n_tokens"))
    // radix width from the FULL corpus count (a metadata-cheap parquet
    // count) — an upper bound on the kept set, so buckets only come out
    // smaller; sizing from the kept set itself would execute the whole
    // dedup+budget chain once extra just to pick a constant
    rankShuffle(kept, seed, Docs.docs(spark, dir).count())
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("shuffle_pos"))
      .orderBy(col("doc_id"))
  }

  // ---- corpus observability ------------------------------------------

  /** Per-(lang, source) corpus report card — the daily health dashboard
    * of an ingestion pipeline: document and unique-content counts,
    * within-group exact-duplicate rate, token volume, and mean quality.
    * ONE shuffle on the (lang, source) group key; the mean is a
    * DECIMAL sum of the per-doc 4-dp quality scores (order-independent,
    * so it hash-matches at any partitioning) divided once at the end.
    * Duplicate rate is within-group by construction (cross-source
    * duplicates are [[incrementalDedup]]'s job). `d_corpus_report`. */
  def corpusReport(spark: SparkSession, dir: String): DataFrame = {
    val q = Text.quality(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    Docs.docs(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), md5(col("text")).as("h"))
      .join(q, Seq("doc_id"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_unique"),
        sum(col("n_tokens")).as("n_tokens"),
        // decimal-exact sum, ONE double division, NO rounding of the
        // quotient: sum/count can land exactly on a 4-dp midpoint,
        // where Spark's BigDecimal HALF_UP and DuckDB's float rounding
        // disagree — the unrounded quotient of identical operands is
        // bit-identical instead (observed: fr/src1 at sf0.01)
        (sum(col("quality_score").cast("decimal(18,4)")).cast("double") /
          count(lit(1))).as("mean_quality"))
      .withColumn("dup_rate",
        round(lit(1.0) - col("n_unique").cast("double") / col("n_docs"), 4))
      .orderBy(col("lang"), col("source"))
  }

  /** Derived language-mixing weights — where [[sampleMix]] APPLIES
    * given rates, this op COMPUTES them from the corpus: each
    * language's token share vs the uniform target (1/n_langs), and the
    * downsample-only weight min(1, target/actual) a sampler multiplies
    * in (dominant languages are cut toward the target; scarce ones are
    * never upsampled — the standard static mixing rule). Two bounded
    * aggregates: per-language sums, then a ONE-row (total, n_langs)
    * scalar broadcast back — the [[relational.Tpch]] q11/q22 scalar
    * idiom, never a driver collect. `d_mix_weights`. */
  def mixWeights(spark: SparkSession, dir: String): DataFrame = {
    val perLang = Docs.docs(spark, dir)
      .select(col("lang"), size(Docs.tokens).cast("long").as("n_tok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val tot = perLang.agg(sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).as("n_langs"))
    val share = col("n_tokens").cast("double") / col("total_tokens").cast("double")
    perLang.join(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        round(share, 4).as("token_share"),
        round(least(lit(1.0),
          (lit(1.0) / col("n_langs").cast("double")) / share), 4).as("weight"))
      .orderBy(col("lang"))
  }

  /** Epoch-factor clamp for [[epochSchedule]]: scarce sources repeat at
    * most 4 epochs (past that, memorization beats coverage — the
    * standard multi-epoch guidance), dominant ones subsample to ≥ 1/4. */
  val EpochMaxFactor = 4.0
  val EpochMinFactor = 0.25

  /** Multi-epoch schedule MATERIALIZED: where [[mixWeights]] computes
    * the per-source target weights, this operator turns them into the
    * integer per-doc REPEAT counts a training-data writer actually
    * emits — epoch factor f = (uniform target share / natural share)
    * clamped to [[[EpochMinFactor]], [[EpochMaxFactor]]], and each doc
    * repeats ⌊f⌋ + Bernoulli(frac f) times via DETERMINISTIC stochastic
    * rounding (a (doc,"epoch")-salted md5 uniform — replayable on any
    * cluster, any retry, and by the oracle), so the realized per-source
    * epoch count is unbiased for f without a corpus-wide counter. Plan
    * shape: one source dimension aggregate (broadcast), one narrow
    * per-doc map, one re-aggregate — nothing corpus-quadratic, and the
    * per-doc (doc_id, n_repeats) intermediate is exactly what a
    * sequence-packing writer consumes. Emits the per-source audit.
    * `d_epoch_schedule`. */
  def epochSchedule(spark: SparkSession, dir: String): DataFrame = {
    val docs = Docs.docs(spark, dir).select(col("doc_id"), col("source"))
    val perSrc = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val tot = perSrc.agg(sum(col("n_docs")).as("n_total"),
      count(lit(1)).as("n_sources"))
    val f = least(lit(EpochMaxFactor), greatest(lit(EpochMinFactor),
      (col("n_total").cast("double") / col("n_sources").cast("double")) /
        col("n_docs").cast("double")))
    val withF = perSrc.join(broadcast(tot))
      .select(col("source"), col("n_docs"), f.as("f"))
    val u = graft.Hashing.hash60(
        concat_ws("|", col("doc_id"), lit("epoch"))).cast("double") /
      lit(math.pow(2.0, 60))
    docs.join(broadcast(withF), Seq("source"))
      .select(col("source"), col("n_docs"), col("f"),
        (floor(col("f")).cast("long") +
          when(u < col("f") - floor(col("f")), 1L).otherwise(0L)).as("rep"))
      .groupBy(col("source"))
      .agg(first(col("n_docs")).as("n_docs"),
        round(first(col("f")), 6).as("epoch_factor"),
        sum(col("rep")).as("n_repeats"))
      .withColumn("realized_factor",
        round(col("n_repeats").cast("double") / col("n_docs").cast("double"), 4))
      .orderBy(col("source"))
  }

  /** Max events one user may contribute under [[contribCap]]. */
  val ContribCapK = 5

  /** Per-user contribution capping — the DP-style pre-processing step
    * a telemetry/interaction corpus goes through before training or
    * release: each user contributes at most [[ContribCapK]] events
    * (their EARLIEST, by (ts, event_id) — a total order, so the kept
    * set is deterministic), and the audit reports, per event type, the
    * uncapped vs capped counts and exact value sums — i.e. how much
    * mass the cap clips, which bounds any one user's influence on
    * downstream aggregates.
    *
    * Scale shape: the kept side runs through the prune-or-degrade
    * top-k idiom ([[graft.plans.TopKPerGroup.rankTopK]]) — bounded
    * per-user heaps with map-side partials, NOT a full per-user sort,
    * so a power user with millions of events costs O(k) state instead
    * of a sort spill; the uncapped side is a plain hash aggregate.
    * Both shuffle once; the final per-type join is |event_types|-sized
    * and broadcast. Value sums ride DECIMAL(12,2) (exact, order-free).
    * A type whose every event ranks past the cap survives via the
    * left-outer + zero fill. `d_contrib_cap`. */
  def contribCap(spark: SparkSession, dir: String): DataFrame = {
    val d12 = org.apache.spark.sql.types.DecimalType(12, 2)
    val ev = graft.Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value").cast(d12).as("v"), unix_micros(col("ts")).as("us"))
    val kept = graft.plans.TopKPerGroup.rankTopK(
      ev, Seq("user_id"), Seq(("us", false), ("event_id", false)), ContribCapK)
    val keptAgg = kept.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_kept"), sum(col("v")).as("kept_sum"))
    val allAgg = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("v")).as("all_sum"))
    allAgg.join(broadcast(keptAgg), Seq("event_type"), "left_outer")
      .select(col("event_type"), col("n_events"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        round(col("all_sum"), 2).cast("double").as("sum_value"),
        coalesce(round(col("kept_sum"), 2).cast("double"), lit(0.0))
          .as("kept_sum_value"),
        round(coalesce(col("n_kept"), lit(0L)).cast("double") /
          col("n_events").cast("double"), 6).as("kept_share"))
      .orderBy(col("event_type"))
  }

  /** Sampling temperature for [[temperatureMix]] (the mC4 / XLM-R
    * multilingual value; Conneau et al. 2020 §3.1). */
  val MixTemperature = 0.3

  /** Temperature-scaled language sampling weights — the OTHER standard
    * mixing rule ([[mixWeights]] clips to a uniform target; this one
    * SMOOTHS): sampling share qₗ ∝ pₗ^α with α=[[MixTemperature]], the
    * mC4/XLM-R recipe that upsamples scarce languages and downsamples
    * dominant ones without flattening to uniform. Emits per language
    * the natural share p, the temperature share q, and the boost q/p a
    * sampler multiplies into its keep rate.
    *
    * Exactness: the normalizer Z = Σ pₗ^α is a fold over the languages
    * SORTED BY LANG (the [[Text.entropy]] sorted-fold idiom) so both
    * engines accumulate identical libm pow values in identical order;
    * emitted shares are round-6, far above pow's ±1-ulp freedom.
    * Plan: one bounded per-language aggregate, one 1-row
    * (total, lang-sorted share list) scalar broadcast back — the
    * [[mixWeights]] shape; nothing grows with the corpus. Bounded-key
    * caveat at 100 TB: |langs| is O(100), so the collect_list is a
    * few-hundred-element array on one row. `d_temperature_mix`. */
  def temperatureMix(spark: SparkSession, dir: String,
                     alpha: Double = MixTemperature): DataFrame = {
    val perLang = Docs.docs(spark, dir)
      .select(col("lang"), size(Docs.tokens).cast("long").as("n_tok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val z = perLang
      .agg(sum(col("n_tokens")).as("total_tokens"),
        sort_array(collect_list(struct(col("lang"), col("n_tokens")))).as("ls"))
      .select(col("total_tokens"),
        aggregate(
          transform(col("ls"), x =>
            pow(x.getField("n_tokens").cast("double") /
              col("total_tokens").cast("double"), alpha)),
          lit(0.0), (acc, x) => acc + x).as("z"))
    val p = col("n_tokens").cast("double") / col("total_tokens").cast("double")
    val q = pow(p, alpha) / col("z")
    perLang.join(broadcast(z))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        round(p, 6).as("token_share"),
        round(q, 6).as("temp_share"),
        round(q / p, 6).as("boost"))
      .orderBy(col("lang"))
  }

  // ---- deterministic stratified sampling ----------------------------

  /** Per-language keep rates in percent — the "data mixing" knob of a
    * training run (e.g. downsample boilerplate-heavy languages). */
  val MixRates: Seq[(String, Int)] = Seq(
    "en" -> 100, "de" -> 75, "es" -> 50, "fr" -> 50, "zh" -> 25)

  /** Deterministic stratified sampling for corpus mixing: a document is
    * kept iff `hash(text) mod 100 < rate(lang)`. Content-hash gating —
    * not `rand()` — because a training-data sample must be REPRODUCIBLE
    * (same corpus in, same sample out, on any cluster size, any
    * partitioning, any retry) and consistent (an exact duplicate is
    * kept or dropped identically in every shard, so sampling composes
    * with dedup). Pure narrow map over the scan, no shuffle; the final
    * sort exists only for the oracle dump. `d_sample_mix`. */
  def sampleMix(spark: SparkSession, dir: String): DataFrame = {
    val rate = MixRates.foldLeft(lit(0)) { case (acc, (l, r)) =>
      when(col("lang") === l, lit(r)).otherwise(acc)
    }
    Docs.docs(spark, dir)
      .withColumn("mix_bucket", pmod(md5Hash60(col("text")), lit(100L)))
      .withColumn("keep_rate", rate.cast("long"))
      .filter(col("mix_bucket") < col("keep_rate"))
      .select(col("doc_id"), col("lang"), col("mix_bucket"), col("keep_rate"))
      .orderBy(col("doc_id"))
  }

  // ---- exact substring-window dedup ---------------------------------

  /** Window width (tokens) for exact substring-window dedup. The dedup
    * literature (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better") uses 50-token spans over a suffix array;
    * the synthetic docs are shorter, so 16 keeps the fixture spans
    * meaningful while the plan shape is width-independent. */
  val SubstrWindow = 16

  /** Exact substring-window dedup — the "any shared W-token span" rule,
    * re-expressed distributed: instead of a (sequential) suffix array,
    * hash every OVERLAPPING W-token window of every document and
    * keep-first on window ownership. A document is flagged when any of
    * its windows already occurs in a lower-id document; `dup_share`
    * (flagged windows / windows) is the span-level contamination
    * fraction a remove-or-trim pass acts on. Docs shorter than W
    * contribute their whole text as ONE window, so short exact dups are
    * still caught.
    *
    * Plan: one explode (scan-bound narrow map), one distinct, one
    * groupBy-min per window hash (map-side combined), one hash join
    * back + one per-doc re-agg — no pair product anywhere: a window
    * shared by 10^6 documents costs 10^6 rows through the min
    * aggregate, never C(10^6, 2) pairs. The ownership join is keyed on
    * the window hash whose owner side is one row per hash, so a viral
    * boilerplate window skews a probe side AQE splits, not a build
    * side. `d_substring_dedup`. */
  def substringDedup(spark: SparkSession, dir: String,
                     w: Int = SubstrWindow): DataFrame = {
    val wins = Docs.docs(spark, dir)
      .select(col("doc_id"), Docs.tokens.as("toks"))
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(toks) >= $w THEN
              transform(sequence(1, size(toks) - ${w - 1}),
                        i -> concat_ws(' ', slice(toks, i, $w)))
            ELSE array(concat_ws(' ', toks)) END""")).as("win"))
      .select(col("doc_id"), md5Hash60(col("win")).as("h"))
      .distinct()
      .localCheckpoint(true) // shared by the ownership agg and the probe side
    val owners = wins.groupBy(col("h")).agg(min(col("doc_id")).as("owner"))
    val dup = col("doc_id") > col("owner")
    wins.join(owners, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(dup, 1L).otherwise(0L)).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        round(col("n_dup_windows").cast("double") / col("n_windows"), 6)
          .as("dup_share"),
        (col("n_dup_windows") > 0).cast("int").as("flagged"))
      .orderBy(col("doc_id"))
  }

  // ---- DSIR-style importance weights --------------------------------

  /** Hashed-feature space size for importance weighting (DSIR, Xie et
    * al. 2023 use 10^4 hashed n-gram buckets; 1024 keeps the oracle
    * replay cheap while the plan is width-independent — the histogram
    * stays broadcast-bounded at ANY corpus size because its row count
    * is B, not n). */
  val DsirBuckets = 1024

  /** Documents `doc_id < DsirTargetDocs` act as the target-domain
    * sample (the same fixed-prefix idiom as [[Text.contamination]]'s
    * benchmark set). */
  val DsirTargetDocs = 10

  /** Data Selection via Importance Resampling (DSIR) — the hashed
    * n-gram importance weight, kept integer-exact: every token hashes
    * into one of [[DsirBuckets]] buckets; a document's affinity to a
    * corpus is the sum of that corpus's bucket counts over the doc's
    * tokens (integer, order-independent — no float log-sums whose
    * addition order would make the gate nondeterministic). The weight
    * is the ratio-of-rates
    * `(target_mass / N_target) / (raw_mass / N_raw)` — one double
    * expression over four exact integers — and the resample gate
    * `hash(text) mod 10^6 < min(1, weight)·10^6` keeps documents
    * reproducibly, proportional to the weight, composing with
    * [[sampleMix]]'s content-hash sampling.
    *
    * Plan: one explode + bucket hash (narrow), two bounded-key
    * aggregates (≤B rows each — map-side combined), the B-row histogram
    * BROADCAST into the scoring pass, one per-doc re-agg, and a 1-row
    * corpus-mass scalar broadcast (the q22 idiom). Nothing here grows
    * with the corpus except the scan itself. `d_importance_weights`. */
  def importanceWeights(spark: SparkSession, dir: String,
                        nTarget: Int = DsirTargetDocs,
                        b: Int = DsirBuckets): DataFrame = {
    val toks = Docs.docs(spark, dir)
      .select(col("doc_id"),
        pmod(md5Hash60(col("text")), lit(1000000L)).as("gate"),
        explode(Docs.tokens).as("tok"))
      .select(col("doc_id"), col("gate"),
        pmod(md5Hash60(col("tok")), lit(b.toLong)).as("bucket"))
      .localCheckpoint(true) // shared by the histogram and the scoring pass
    val hist = toks
      .groupBy(col("bucket"))
      .agg(sum(when(col("doc_id") < nTarget, 1L).otherwise(0L)).as("ct"),
        sum(when(col("doc_id") >= nTarget, 1L).otherwise(0L)).as("cr"))
    val masses = hist.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    val weight = round(
      (col("target_mass").cast("double") * col("nr").cast("double")) /
        (col("raw_mass").cast("double") * col("nt").cast("double")), 6)
    toks.filter(col("doc_id") >= nTarget)
      .join(broadcast(hist), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), min(col("gate")).as("gate"),
        sum(col("ct")).as("target_mass"), sum(col("cr")).as("raw_mass"))
      .join(broadcast(masses))
      .select(col("doc_id"), col("n_tokens"),
        col("target_mass"), col("raw_mass"), weight.as("weight"),
        (col("gate").cast("double") < weight * 1000000.0).cast("int").as("keep"))
      .orderBy(col("doc_id"))
  }

  // ---- cluster + canonicalize ---------------------------------------

  /** The step after pair generation that an actual dedup pipeline needs:
    * near-dup PAIRS are not removable sets — transitively-linked docs
    * must collapse into ONE cluster with ONE kept representative, or
    * chained dups (A~B, B~C, A!~C) survive pairwise removal. Clusters =
    * connected components over the ≥τ Jaccard pair graph (the same
    * O(log n)-round alternating min-label/pointer-jumping loop the
    * phage clouds use — [[graft.graph.Algorithms.connectedComponents]]);
    * the keeper is the minimum doc id per cluster. Every document gets a
    * row: unpaired docs are their own singleton cluster and are kept.
    * `d_dedup_clusters`.
    *
    * SHARED-LAYER CONTRACT: [[splitAssign]], [[dupInflation]] and
    * [[qualityKeeper]] are all aggregates over THIS assignment. As
    * independent registry keys each rebuilds the chain (each plan is
    * individually scale-safe — checkpointed pair list, CC on paired
    * docs only), but a production pipeline materializes the assignment
    * ONCE and feeds it to every consumer; the `*On(clusters)` variants
    * are that contract, and `DedupSpec`'s composition test certifies
    * the three consumers agree bit-for-bit whether they run on a
    * shared checkpointed assignment or rebuild it. */
  def dedupClusters(spark: SparkSession, dir: String, minSim: Double = 0.5): DataFrame = {
    // materialized once: the pair list fans out into four plan references
    // (both sides of the member union, both sides of the CC symmetrize) —
    // without the checkpoint the gram self-join would execute per use.
    // UNORDERED seam: the standalone d_ngram_jaccard key's trailing
    // global orderBy(a, b) was being executed INTO this checkpoint (a
    // full sort exchange of the pair list per consumer key) although
    // every reader here — CC min-label loop, keyed joins, aggregates —
    // is order-independent; the *On seam skips it.
    val pairs = ngramJaccardOn(dropHighDfGrams(Docs.gramTable(spark, dir)), minSim)
      .select(col("a").as("src"), col("b").as("dst"))
      .localCheckpoint(true)
    // only docs that appear in a pair enter the iterative loop — on a
    // real corpus the overwhelming majority are unpaired singletons, and
    // keeping them out shrinks every round's working set by that factor;
    // they are re-attached as their own cluster afterwards (label = own
    // id, exactly what the loop would have computed)
    val members = pairs.select(col("src").as("id"))
      .union(pairs.select(col("dst").as("id"))).distinct()
    val cc = graft.graph.Algorithms.connectedComponents(members, pairs)
      .withColumnRenamed("id", "doc_id")
    Docs.docs(spark, dir).select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Train/val/test bucket split for [[splitAssign]] (percent of the
    * 0..99 cluster-hash space): 80/10/10. */
  val SplitTrainPct = 80L
  val SplitValPct = 10L

  /** Leakage-safe train/val/test SPLIT ASSIGNMENT — the eval-split
    * step a pipeline runs after near-dup clustering. Hashing DOC ids
    * would scatter a near-dup family across train and test (the
    * classic eval-contamination path: the model "sees" a test document
    * through its training-set near-duplicate); hashing the CLUSTER id
    * keeps every family in exactly one split. The bucket is a salted
    * [[md5Hash60]] mod 100 — the corpus-wide deterministic-sampling
    * idiom ([[sampleMix]]): replayable on any cluster size, any retry,
    * and by the DuckDB oracle. Plan shape: the cluster assignment's
    * CC loop plus one narrow hash projection — nothing new shuffles.
    * `d_split_assign`. */
  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    splitAssignOn(dedupClusters(spark, dir))

  /** [[splitAssign]] over a cluster assignment the CALLER materialized
    * — the shared-layer form (see [[dedupClusters]]' contract). */
  def splitAssignOn(clusters: DataFrame): DataFrame = {
    val b = pmod(md5Hash60(concat_ws("|", lit("split"), col("cluster_id"))),
      lit(100L))
    clusters
      .select(col("doc_id"), col("cluster_id"))
      .withColumn("split",
        when(b < SplitTrainPct, "train")
          .when(b < SplitTrainPct + SplitValPct, "val")
          .otherwise("test"))
      .orderBy(col("doc_id"))
  }

  /** Per-source duplication REPORT over the near-dup clusters — the
    * "which sources inflate the corpus" audit a curation run publishes
    * before choosing mixing weights: per `source`, document and
    * whitespace-token totals, the duplicate share of each (docs whose
    * cluster keeper is another doc, and their token mass), and the
    * token inflation factor total/unique. All sufficient statistics
    * are integer sums over the cluster assignment joined to one narrow
    * (doc, source, n_tokens) projection — one extra keyed aggregate on
    * top of [[dedupClusters]], one rounded division at the end.
    * `d_dup_inflation`. */
  def dupInflation(spark: SparkSession, dir: String): DataFrame =
    dupInflationOn(spark, dir, dedupClusters(spark, dir))

  /** [[dupInflation]] over a cluster assignment the CALLER materialized
    * — the shared-layer form (see [[dedupClusters]]' contract). */
  def dupInflationOn(spark: SparkSession, dir: String,
                     clusters: DataFrame): DataFrame = {
    val toks = Docs.docs(spark, dir).select(col("doc_id"), col("source"),
      size(Docs.tokens).cast("long").as("n_toks"))
    clusters.select(col("doc_id"), col("keep"))
      .join(toks, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dup_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(when(!col("keep"), col("n_toks")).otherwise(0L)).as("dup_tokens"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        col("n_tokens"), col("dup_tokens"),
        // Guarded: a source whose every doc is a non-keeper (keepers can
        // live in other sources) has n_tokens == dup_tokens; the ratio
        // would be Infinity (or NaN at zero token mass). NULL is the
        // honest report value — "no unique token mass to inflate".
        when(col("n_tokens") > col("dup_tokens"),
          round(col("n_tokens").cast("double") /
            (col("n_tokens") - col("dup_tokens")).cast("double"), 6))
          .as("inflation"))
      .orderBy(col("source"))
  }

  /** Keeper SELECTION POLICY over the near-dup clusters: instead of
    * [[dedupClusters]]' min-id keeper, keep each cluster's best document
    * by quality score (the policy real pipelines run — when near-dups
    * differ by OCR noise or truncation, the keeper choice moves real
    * training tokens). One quality-keyed struct-max per cluster on top
    * of the cluster assignment — the argmax is (rounded quality desc,
    * doc_id asc), a total order both engines replay. Singletons keep
    * themselves. `d_quality_keeper`. */
  def qualityKeeper(spark: SparkSession, dir: String, minSim: Double = 0.5): DataFrame =
    qualityKeeperOn(spark, dir, dedupClusters(spark, dir, minSim))

  /** [[qualityKeeper]] over a cluster assignment the CALLER
    * materialized — the shared-layer form (see [[dedupClusters]]'
    * contract). */
  def qualityKeeperOn(spark: SparkSession, dir: String,
                      clusters0: DataFrame): DataFrame = {
    val clusters = clusters0.select(col("doc_id"), col("cluster_id"))
    val q = Text.quality(spark, dir).select(col("doc_id"), col("quality_score"))
    clusters.join(q, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("quality_score"), (-col("doc_id")).as("negid"))).as("best"))
      .select(col("cluster_id"), col("n_members"),
        (-col("best.negid")).as("keep_doc_id"),
        col("best.quality_score").as("best_quality"))
      .orderBy(col("cluster_id"))
  }

  /** Cross-source near-dup OVERLAP matrix — "which pairs of sources
    * copy each other": the near-dup pair list joined to each endpoint's
    * source, canonicalized so (src1, src2) and (src2, src1) are ONE
    * cell, with pair count, mean and max Jaccard per cell. The
    * off-diagonal cells are the interesting ones (mirror sites,
    * cross-crawl duplication); the diagonal is within-source
    * redundancy. The curation use: choose ONE source of a
    * highly-overlapping pair before spending dedup compute.
    *
    * Exactness: mean = DECIMAL(18,6) sum of the round-6 jaccards (an
    * order-independent exact sum — the [[corpusReport]] idiom) divided
    * once, unrounded. Plan: the pair list is near-dup-bounded (NOT
    * corpus-bounded); two id-keyed hash joins against a narrow
    * (doc_id, source) projection; the final aggregate's key space is
    * |sources|² — tiny at any corpus size. `d_source_overlap`. */
  def sourceOverlap(spark: SparkSession, dir: String,
                    minSim: Double = 0.5): DataFrame = {
    val src = Docs.docs(spark, dir).select(col("doc_id"), col("source"))
    ngramJaccard(spark, dir, minSim)
      .join(src.withColumnRenamed("doc_id", "a")
        .withColumnRenamed("source", "src_a"), Seq("a"))
      .join(src.withColumnRenamed("doc_id", "b")
        .withColumnRenamed("source", "src_b"), Seq("b"))
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"),
        col("jaccard"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        (sum(col("jaccard").cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("mean_jaccard"),
        max(col("jaccard")).as("max_jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Dedup-METHOD agreement matrix — "which screens catch what": the
    * flagged-document sets of the three independent duplicate screens
    * (exact md5 keep-first, MinHash/LSH estimated-Jaccard ≥ 0.5,
    * SimHash Hamming ≤ [[HammingMax]] — each flag = the doc has a
    * LOWER-id duplicate partner under that method, the shared
    * keep-first convention) compared pairwise: per method pair, both
    * set sizes, the intersection, and the set Jaccard. The curation
    * question this answers before a 100 TB run: is the cheap exact
    * pass already catching most of what the fuzzy passes would, and do
    * the two fuzzy families agree enough to run just one.
    *
    * Plan: three flagged sets (each near-dup-bounded, built by the
    * already-capped screens), ONE checkpointed union tagged by method,
    * one id-keyed self-join for the intersections, and a 3-row literal
    * pair list — the [[graft.graph.Clouds.cloudOverlap]] shape.
    * `d_method_overlap`. */
  def methodOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Docs.docs(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("ch"))
    val exKeep = docs.groupBy(col("ch")).agg(min(col("doc_id")).as("keeper"))
    val exact = docs.join(exKeep, Seq("ch"))
      .filter(col("doc_id") > col("keeper"))
      .select(lit("exact").as("method"), col("doc_id"))
    val mh = minhashLsh(spark, dir)
      .select(lit("minhash").as("method"), col("b").as("doc_id")).distinct()
    val sh = simhashPairs(spark, dir)
      .select(lit("simhash").as("method"), col("b").as("doc_id")).distinct()
    val flags = exact.unionByName(mh).unionByName(sh)
      .localCheckpoint(true) // three screens run ONCE; read by 3 plans
    val sizes = flags.groupBy(col("method")).agg(count(lit(1)).as("n"))
    val inter = flags.as("x").join(flags.as("y"),
        col("x.doc_id") === col("y.doc_id") && col("x.method") < col("y.method"))
      .groupBy(col("x.method").as("method_a"), col("y.method").as("method_b"))
      .agg(count(lit(1)).as("n_both"))
    val pairs = Seq(("exact", "minhash"), ("exact", "simhash"),
      ("minhash", "simhash")).toDF("method_a", "method_b")
    val na = coalesce(col("n_a"), lit(0L))
    val nb = coalesce(col("n_b"), lit(0L))
    val nx = coalesce(col("n_both"), lit(0L))
    pairs
      .join(sizes.select(col("method").as("method_a"), col("n").as("n_a")),
        Seq("method_a"), "left_outer")
      .join(sizes.select(col("method").as("method_b"), col("n").as("n_b")),
        Seq("method_b"), "left_outer")
      .join(inter, Seq("method_a", "method_b"), "left_outer")
      .select(col("method_a"), col("method_b"),
        na.as("n_a"), nb.as("n_b"), nx.as("n_both"),
        when(na + nb - nx > 0,
          round(nx.cast("double") / (na + nb - nx), 6))
          .otherwise(lit(0.0)).as("jaccard"))
      .orderBy(col("method_a"), col("method_b"))
  }

  /** End-to-end curation FUNNEL report — the one-page number every
    * data-curation run publishes: how many documents and tokens
    * survive each sequential stage of the pipeline. Stages: raw →
    * exact dedup (md5 keeper) → near-dup dedup (cluster keeper; a
    * superset-stage by construction, since a cluster keeper is also
    * its exact group's min) → Gopher rule gate → deterministic mix
    * sampling. Each row is (stage_id, stage, n_docs, n_tokens) so the
    * drop per stage — the cost of each policy — is one subtraction.
    *
    * Plan: ONE pass assembles per-doc cumulative survival flags (two
    * keyed joins against the cluster assignment + exact-keeper
    * aggregate, the gopher and mix gates are narrow column
    * expressions), then an explode over the 5 stage structs and one
    * map-side-combined aggregate. Nothing here exceeds the cluster
    * chain it already rides. `d_funnel_report`. */
  def funnelReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Docs.docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(Docs.tokens).cast("long").as("n_toks"),
        md5(col("text")).as("ch"),
        pmod(md5Hash60(col("text")), lit(100L)).as("mix_bucket"))
    val exKeep = docs.groupBy(col("ch")).agg(min(col("doc_id")).as("ek"))
    val clus = dedupClusters(spark, dir)
      .select(col("doc_id"), col("keep").as("ckeep"))
    val gop = Text.gopherRules(spark, dir)
      .select(col("doc_id"), (col("keep") === 1).as("gkeep"))
    val rate = MixRates.foldLeft(lit(0L)) { case (acc, (l, r)) =>
      when(col("lang") === l, lit(r.toLong)).otherwise(acc)
    }
    val flags = docs
      .join(exKeep, Seq("ch"))
      .join(clus, Seq("doc_id"))
      .join(gop, Seq("doc_id"))
      .select(col("doc_id"), col("n_toks"),
        (col("doc_id") === col("ek")).as("k2"),
        col("ckeep").as("k3r"), col("gkeep").as("k4r"),
        (col("mix_bucket") < rate).as("k5r"))
      .select(col("n_toks"), col("k2"),
        (col("k2") && col("k3r")).as("k3"), col("k4r"), col("k5r"))
      .withColumn("k4", col("k3") && col("k4r"))
      .withColumn("k5", col("k4") && col("k5r"))
    flags
      .select(col("n_toks"), explode(array(
        struct(lit(1L).as("stage_id"), lit("raw").as("stage"),
          lit(true).as("in")),
        struct(lit(2L).as("stage_id"), lit("exact_dedup").as("stage"),
          col("k2").as("in")),
        struct(lit(3L).as("stage_id"), lit("near_dedup").as("stage"),
          col("k3").as("in")),
        struct(lit(4L).as("stage_id"), lit("quality_gate").as("stage"),
          col("k4").as("in")),
        struct(lit(5L).as("stage_id"), lit("mix_sample").as("stage"),
          col("k5").as("in")))).as("s"))
      .groupBy(col("s.stage_id").as("stage_id"), col("s.stage").as("stage"))
      // conditional sums, NOT filter-then-count: a stage that rejects
      // everything still reports its zero row (the fixture case)
      .agg(sum(when(col("s.in"), 1L).otherwise(0L)).as("n_docs"),
        sum(when(col("s.in"), col("n_toks")).otherwise(0L)).as("n_tokens"))
      .orderBy(col("stage_id"))
  }

  /** MinHash-LSH quality audit — recall AND precision of the banded
    * sketch pipeline against the exact df-capped n-gram Jaccard truth
    * at the same threshold (the dedup-side mirror of [[Similarity]]'s
    * `s_ann_recall`): one row with the true pair count, the LSH pair
    * count, their intersection, and recall/precision. This is the
    * number that justifies (or indicts) the banding parameters before
    * a full-corpus run — published recall for every sketch config is
    * standard curation practice.
    *
    * Plan: both pair sets are near-dup-bounded; a FULL OUTER join on
    * the canonical (a, b) key + one global aggregate — integer sums,
    * two guarded divisions. The truth side's gram self-join and the
    * sketch side's band join are the two registered plans themselves
    * ([[ngramJaccard]], [[minhashLsh]]), unchanged. `d_lsh_recall`. */
  def lshRecall(spark: SparkSession, dir: String,
                minSim: Double = 0.5): DataFrame = {
    // truth and sketch sides previously EACH rebuilt the df-capped
    // gram table (docs scan + token explode + df stoplist aggregate +
    // anti-join) from scratch inside one query — the r20 ANN-ladder
    // finding (guide §1.2: don't compute things twice). ONE gram
    // checkpoint now feeds the exact-Jaccard truth (3 plan references)
    // and the signature build; the signature checkpoint already
    // existed inside minhashLsh and moves here unchanged. The 1-row
    // audit result is materialized before both substrates are
    // released, so nothing stays pinned. Standalone keys
    // (d_ngram_jaccard, d_minhash_lsh) keep their own plans.
    val grams = dropHighDfGrams(Docs.gramTable(spark, dir)).localCheckpoint(true)
    val sig = minhashSignaturesOn(grams).localCheckpoint(true)
    val truth = ngramJaccardOn(grams, minSim)
      .select(col("a"), col("b"), lit(1L).as("t"))
    val got = minhashLshOnSig(sig, minSim)
      .select(col("a"), col("b"), lit(1L).as("g"))
    val out = truth.join(got, Seq("a", "b"), "full_outer")
      .agg(sum(col("t")).as("n_true"),
        sum(col("g")).as("n_lsh"),
        sum(col("t") * col("g")).as("n_common"))
      .select(
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_lsh"), lit(0L)).as("n_lsh"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        when(col("n_true") > 0,
          round(coalesce(col("n_common"), lit(0L)).cast("double") /
            col("n_true"), 6)).as("recall"),
        when(col("n_lsh") > 0,
          round(coalesce(col("n_common"), lit(0L)).cast("double") /
            col("n_lsh"), 6)).as("precision"))
      .localCheckpoint(true) // 1 row; pins nothing but itself
    graft.graph.Algorithms.releaseIterate(grams)
    graft.graph.Algorithms.releaseIterate(sig)
    out
  }

  /** Per-source n-gram NOVELTY — "how much genuinely new content does
    * each source add": every distinct corpus n-gram is attributed to
    * the source of its FIRST occurrence (min doc_id — the ingestion-
    * order proxy, the same ownership rule as [[substringDedup]]); per
    * source, the distinct grams it contains, the grams it introduced,
    * and the novelty ratio introduced/seen. A mirror-heavy source shows
    * a near-zero ratio — it re-serves grams some earlier source already
    * contributed — which is the "is this crawl worth ingesting" number.
    *
    * Plan: one narrow gram explode joined to a (doc_id, source)
    * projection, checkpointed once for its two consumers; `seen` is a
    * distinct + count per (source, gram) prefix, `introduced` is ONE
    * map-side-combined struct-min per gram (doc_id is unique, so the
    * argmin is total) re-agged by source — no pair products, nothing
    * beyond the gram stream itself. `d_novelty`. */
  def novelty(spark: SparkSession, dir: String): DataFrame = {
    val g = Docs.gramTable(spark, dir)
      .join(Docs.docs(spark, dir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .localCheckpoint(true) // shared by the seen and ownership aggregates
    val seen = g.select(col("source"), col("gram")).distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("n_grams_seen"))
    val introduced = g
      .groupBy(col("gram"))
      .agg(min(struct(col("doc_id"), col("source"))).as("o"))
      .groupBy(col("o.source").as("source"))
      .agg(count(lit(1)).as("n_grams_introduced"))
    seen.join(introduced, Seq("source"), "left_outer")
      .select(col("source"), col("n_grams_seen"),
        coalesce(col("n_grams_introduced"), lit(0L)).as("n_grams_introduced"))
      .withColumn("novelty_ratio",
        round(col("n_grams_introduced").cast("double") /
          col("n_grams_seen"), 6))
      .orderBy(col("source"))
  }

  /** Per-language token budget for [[tokenBudget]] — sized so the
    * biggest language (en, ~12k tokens at sf0.01) truncates while the
    * small ones keep everything: BOTH branches of the cut are exercised
    * by the gate. */
  val TokensPerLang = 5000L

  /** Distributed per-language running token sum — [[rankShuffle]]'s
    * offset-plus-local-rank idiom generalized from a hash-radix to a
    * DATA-DERIVED range partitioning, so no window task is ever
    * corpus-sized even when one language dominates the corpus:
    *
    *   1. `repartitionByRange` on (lang, quality desc, doc_id) — a
    *      strict total order (doc_id breaks every tie), so Spark's
    *      sampled range partitioner splits each language's rank order
    *      across ~`spark.sql.shuffle.partitions` ordered slices of
    *      ~n/P rows each;
    *   2. the local running sum is a window over (slice, lang) — each
    *      group is bounded by the slice size, never by the language;
    *   3. slice offsets are a (slice, lang) aggregate of ≤ P + #langs
    *      rows (languages are contiguous in range order): a bounded
    *      per-lang cumsum over slice ids, broadcast back;
    *   4. global cum = offset + local cum.
    *
    * The OUTPUT is partitioning-invariant: wherever the sampled range
    * boundaries fall, offset + local running sum telescopes to the
    * exact per-language prefix sum over the total order, so the DuckDB
    * oracle replays it as a plain per-language window and the keep set
    * is bit-identical on any cluster width. Cost vs the naive plan:
    * one extra bounded exchange (range + hash instead of hash alone) —
    * the price of turning the dominant language's single multi-TB
    * window task into n/P-row tasks. Expects (lang, quality_score,
    * doc_id, n_tokens) columns; appends `cum_tokens` and filters to
    * the ≤ `budget` prefix. */
  private[graft] def budgetCut(df: DataFrame, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(nParts,
        col("lang"), col("quality_score").desc, col("doc_id"))
      .withColumn("slice", spark_partition_id())
    val wLocal = Window.partitionBy(col("slice"), col("lang"))
      .orderBy(col("quality_score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = ranged.groupBy(col("slice"), col("lang"))
      .agg(sum(col("n_tokens")).as("slice_tokens"))
      .withColumn("offset",
        coalesce(sum(col("slice_tokens")).over(
          Window.partitionBy(col("lang")).orderBy(col("slice"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("slice"), col("lang"), col("offset"))
    ranged
      .withColumn("local_cum", sum(col("n_tokens")).over(wLocal))
      .join(broadcast(offsets), Seq("slice", "lang"))
      .withColumn("cum_tokens", col("offset") + col("local_cum"))
      .filter(col("cum_tokens") <= budget)
      .drop("slice", "local_cum", "offset")
  }

  /** Token-budget curation: fill each language's token budget with its
    * HIGHEST-QUALITY documents — the final selection step of a
    * pretraining data build ("x billion tokens per language, best
    * first"). Rank by (quality desc, doc_id) within language, running
    * token cumsum, keep while ≤ budget — computed by [[budgetCut]]'s
    * distributed prefix sum, so the per-language sort is spread over
    * range slices (never a single task, even for the dominant
    * language of a 100 TB corpus). The quality score is the
    * 4-dp-rounded [[Text.quality]] output, so the cut ranks replay
    * bit-for-bit cross-engine.
    *
    * Cut rule: STRICT PREFIX, not greedy fill — the kept set is the
    * longest rank-prefix whose cumulative tokens fit the budget. A doc
    * that overflows still contributes to `cum_tokens`, so it AND every
    * lower-ranked doc in that language are excluded, and the budget can
    * go slightly unfilled. Chosen deliberately over greedy
    * skip-and-continue: the prefix cut is a pure window predicate (one
    * pass, replays in any SQL engine), while greedy fill is an
    * inherently sequential scan whose state depends on every prior
    * skip decision — not expressible as a window, and it biases the
    * tail toward short low-quality docs. `d_token_budget`. */
  def tokenBudget(spark: SparkSession, dir: String,
                  budget: Long = TokensPerLang): DataFrame =
    budgetCut(
      Text.quality(spark, dir)
        .select(col("doc_id"), col("n_tokens"), col("quality_score"))
        .join(Docs.docs(spark, dir).select(col("doc_id"), col("lang")), Seq("doc_id")),
      budget)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("quality_score"), col("cum_tokens"))
      .orderBy(col("doc_id"))

  // ---- oracles ------------------------------------------------------

  /** [[rankShuffle]]'s radix-bucketed rank replayed in SQL: CTEs from a
    * `src`(doc_id, hkey) CTE to `rrk`(doc_id, …, shuffle_pos), deriving
    * the SAME corpus-scaled bucket width from COUNT(*) over `documents`
    * (the scalar-subquery idiom of [[Similarity]]'s SemKSql — IEEE
    * sqrt/ceil and the 2^60 div B integer width are bit-identical in
    * both engines). The oracle replays the radix STRUCTURE — bucket,
    * per-bucket rank, bounded offset cumsum — not just the equivalent
    * global ROW_NUMBER, so a green hash row proves the scaled plan.
    * `carry` = extra `src` columns to forward. */
  private def radixRankSql(src: String, carry: String*): String = {
    val fwd = carry.map(c => s"$c, ").mkString
    s"""nb AS (
         SELECT GREATEST($MinShuffleBuckets,
                  LEAST($MaxShuffleBuckets,
                        CAST(CEIL(SQRT(COUNT(*))) AS BIGINT))) AS b
         FROM documents),
       bkr AS (
         SELECT doc_id, ${fwd}hkey,
                hkey // ((CAST(1 AS BIGINT) << 60) // (SELECT b FROM nb))
                  AS bucket
         FROM $src),
       offr AS (
         SELECT bucket,
                CAST(COALESCE(SUM(COUNT(*)) OVER (ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS off
         FROM bkr GROUP BY bucket),
       rrk AS (
         SELECT bkr.doc_id, ${carry.map(c => s"bkr.$c, ").mkString}
                CAST(offr.off + ROW_NUMBER() OVER (PARTITION BY bkr.bucket
                  ORDER BY bkr.hkey, bkr.doc_id) - 1 AS BIGINT) AS shuffle_pos
         FROM bkr JOIN offr USING (bucket))"""
  }

  /** [[radixRankSql]]'s weighted sibling, replaying [[packRank]]: the
    * offset CTE carries BOTH the row-count and token-sum cumsums, and
    * `rrk` adds `start_pos` from the in-bucket running token sum.
    * `src` must be a CTE of (doc_id, n_tokens, hkey). */
  private def radixPackSql(src: String): String =
    s"""nb AS (
         SELECT GREATEST($MinShuffleBuckets,
                  LEAST($MaxShuffleBuckets,
                        CAST(CEIL(SQRT(COUNT(*))) AS BIGINT))) AS b
         FROM documents),
       bkr AS (
         SELECT doc_id, n_tokens, hkey,
                hkey // ((CAST(1 AS BIGINT) << 60) // (SELECT b FROM nb))
                  AS bucket
         FROM $src),
       offr AS (
         SELECT bucket,
                CAST(COALESCE(SUM(COUNT(*)) OVER (ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS off,
                CAST(COALESCE(SUM(SUM(n_tokens)) OVER (ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS tok_off
         FROM bkr GROUP BY bucket),
       rrk AS (
         SELECT bkr.doc_id, bkr.n_tokens,
                CAST(offr.off + ROW_NUMBER() OVER (PARTITION BY bkr.bucket
                  ORDER BY bkr.hkey, bkr.doc_id) - 1 AS BIGINT) AS shuffle_pos,
                CAST(offr.tok_off + SUM(bkr.n_tokens) OVER (
                  PARTITION BY bkr.bucket ORDER BY bkr.hkey, bkr.doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - bkr.n_tokens AS BIGINT) AS start_pos
         FROM bkr JOIN offr USING (bucket))"""

  /** DuckDB equivalent of [[Docs.gramTable]] as a CTE body. */
  private val GramCte =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       grams AS (
         SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, len(t) - 1),
                          i -> array_to_string(t[i:i+2], ' ')))) AS gram
         FROM toks)"""

  /** [[GramCte]] extended with the [[dropHighDfGrams]] replay: `kept` is
    * the gram table minus the df > [[GramDfCap]] stoplist — the dedup
    * oracles read `kept` where the Spark plans read the capped table, so
    * the hash gate proves the cap, not just the happy path. */
  private val KeptGramCte =
    s"""$GramCte,
       stopg AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) > $GramDfCap),
       kept AS (SELECT doc_id, gram FROM grams
                WHERE gram NOT IN (SELECT gram FROM stopg))"""

  /** [[KeptGramCte]] extended through the ≥0.5-Jaccard pair graph and
    * its recursive transitive closure `reach(u, v)` — the shared
    * prelude of every cluster-consuming oracle (d_dedup_clusters,
    * d_split_assign). Callers must open with `WITH RECURSIVE`. */
  private val ClusterReachCte =
    s"""$KeptGramCte,
       sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
       inter AS (
         SELECT g1.doc_id AS a, g2.doc_id AS b, COUNT(*) AS i
         FROM kept g1 JOIN kept g2
           ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
         GROUP BY g1.doc_id, g2.doc_id),
       pairs AS (
         SELECT a, b FROM inter
         JOIN sizes sa ON sa.doc_id = a
         JOIN sizes sb ON sb.doc_id = b
         WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.5),
       und AS (
         SELECT a AS u, b AS v FROM pairs
         UNION ALL SELECT b, a FROM pairs),
       reach(u, v) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u)"""

  /** SimHash fingerprint pipeline as a DuckDB CTE chain ending in
    * `fp(doc_id, simhash)` — replays [[simhash]]'s tf-weighted bit sums
    * and reassembly (disjoint bit fields, so `+` == bitwise OR). */
  private def simhashFpCte: String = {
    val sums = (0 until SimhashBits)
      .map(j => s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(", ")
    val assembled = (0 until SimhashBits)
      .map(j => s"(CASE WHEN s$j > 0 THEN CAST(1 AS BIGINT) << $j ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""simtoks AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       th AS (SELECT doc_id, ${hexFoldSql("token")} AS h FROM simtoks),
       sums AS (SELECT doc_id, $sums FROM th GROUP BY doc_id),
       fp AS (SELECT doc_id, $assembled AS simhash FROM sums)"""
  }

  /** MinHash+LSH oracle: replays shingle hash → 32 permutations → band
    * hashes → bucket join → signature-match estimate. Generated from the
    * same constants the Spark plan uses ([[permA]]/[[permB]]/[[P]]), so
    * the two engines cannot drift apart. */
  /** Replay of signatures → bands → candidates → estimates as a CTE
    * prelude ending in `est(a, b, est_jaccard)` — shared by the LSH
    * dedup oracle (≥ 0.5 cut) and the calibration audit (low cut +
    * exact compare). */
  /** grams → 32-perm signatures → band hashes as a CTE chain ending in
    * `bands(doc_id, band, bh)` (with `sig` in scope) — the shared
    * prelude of every MinHash oracle, generated from the same
    * constants the Spark plans use ([[permA]]/[[permB]]/[[P]]). */
  private def minhashSigBandsCte: String = {
    val mhs = (0 until NumPerm)
      .map(i => s"MIN((CAST(${permA(i)} AS BIGINT) * h + ${permB(i)}) % $P) AS mh$i")
      .mkString(", ")
    val bandSelects = (0 until NumBands).map { b =>
      val cols = (0 until RowsPerBand).map(r => s"mh${b * RowsPerBand + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, ${hexFoldSql(s"concat_ws('|', $cols)")} AS bh FROM sig"
    }.mkString(" UNION ALL ")
    s"""$KeptGramCte,
       gh AS (SELECT doc_id, ${hexFoldSql("gram")} % $P AS h FROM kept),
       sig AS (SELECT doc_id, $mhs FROM gh GROUP BY doc_id),
       bands AS ($bandSelects)"""
  }

  /** The 32-term signature match count between `sa` and `sb` aliases. */
  private def sigMatchesSql: String = (0 until NumPerm)
    .map(i => s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)")
    .mkString(" + ")

  private def minhashEstCtePrelude: String =
    s"""$minhashSigBandsCte,
       cand AS (
         SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         FROM bands x JOIN bands y
           ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
       est AS (
         SELECT a, b, CAST($sigMatchesSql AS DOUBLE) / $NumPerm AS est_jaccard
         FROM cand JOIN sig sa ON sa.doc_id = a JOIN sig sb ON sb.doc_id = b)"""

  /** `st_minhash_screen` replay: bands folded into the bounded bucket
    * space, the ≤[[BandBucketCap]] lowest-id witnesses per bucket
    * (ROW_NUMBER — each doc appears once per band, so the rank is
    * deterministic), the capped pair join, the integer signature-match
    * verify, then one MIN(witness) per flagged doc — the keep-first
    * verdict the streaming path reproduces under id-ordered arrival. */
  private[graft] def minhashScreenOracle: String =
    s"""WITH $minhashSigBandsCte,
       bb AS (SELECT doc_id, band, bh % $MinhashScreenBuckets AS bkt FROM bands),
       wit AS (SELECT doc_id, band, bkt FROM (
                 SELECT doc_id, band, bkt,
                        ROW_NUMBER() OVER (PARTITION BY band, bkt
                                           ORDER BY doc_id) AS rn
                 FROM bb) WHERE rn <= $BandBucketCap),
       scand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                 FROM wit x JOIN bb y
                   ON x.band = y.band AND x.bkt = y.bkt
                      AND x.doc_id < y.doc_id),
       ver AS (SELECT b AS doc_id, MIN(a) AS dup_of
               FROM scand
               JOIN sig sa ON sa.doc_id = a JOIN sig sb ON sb.doc_id = b
               WHERE $sigMatchesSql >= $MinhashMinMatches GROUP BY b)
       SELECT d.doc_id, v.dup_of, v.dup_of IS NULL AS kept
       FROM documents d LEFT JOIN ver v ON v.doc_id = d.doc_id
       ORDER BY d.doc_id"""

  private def minhashOracle: String =
    s"""WITH $minhashEstCtePrelude
       SELECT a, b, est_jaccard FROM est
       WHERE est_jaccard >= 0.5 ORDER BY a, b"""

  val oracle: Map[String, String] = Map(
    "d_bloom_dedup" ->
      s"""WITH h AS (SELECT doc_id, source, md5(text) AS ch,
                            ${hexFoldSql("text")} AS h
                     FROM documents),
         hp AS (SELECT doc_id, source, ch, (h % $BloomBits) AS h1,
                       (((h >> 17) % $BloomBits) | 1) AS h2
                FROM h),
         pos AS (SELECT doc_id, source, ch,
                        unnest(list_transform(range(0, $BloomK),
                          i -> (h1 + i * h2) % $BloomBits)) AS p
                 FROM hp),
         ref AS (SELECT (p >> 5) AS w,
                        bit_or(CAST(1 AS BIGINT) << CAST(p % $BloomWordBits AS INT)) AS bits
                 FROM pos WHERE source = 'src0' GROUP BY 1),
         refh AS (SELECT DISTINCT ch FROM h WHERE source = 'src0'),
         pr AS (SELECT doc_id, ch, (p >> 5) AS w,
                       CAST(1 AS BIGINT) << CAST(p % $BloomWordBits AS INT) AS b
                FROM pos WHERE source <> 'src0'),
         hits AS (SELECT pr.doc_id, pr.ch,
                         SUM(CASE WHEN (COALESCE(r.bits, 0) & pr.b) <> 0
                             THEN 1 ELSE 0 END) AS n_hits
                  FROM pr LEFT JOIN ref r ON r.w = pr.w GROUP BY 1, 2)
         SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits,
                CAST(n_hits = $BloomK AS INT) AS bloom_maybe_dup,
                CAST(ch IN (SELECT ch FROM refh) AS INT) AS true_dup
         FROM hits ORDER BY doc_id""",
    "d_incremental_dedup" ->
      """SELECT d.doc_id, d.source FROM documents d
         WHERE d.source <> 'src0' AND NOT EXISTS (
           SELECT 1 FROM documents e
           WHERE e.source = 'src0' AND md5(e.text) = md5(d.text))
         ORDER BY d.doc_id""",
    "d_containment" ->
      s"""WITH $KeptGramCte,
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
         inter AS (
           SELECT g1.doc_id AS a, g2.doc_id AS b, COUNT(*) AS i
           FROM kept g1 JOIN kept g2
             ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
           GROUP BY 1, 2)
         SELECT a, b, CAST(i AS BIGINT) AS i,
                ROUND(CAST(i AS DOUBLE) / CAST(sa.n AS DOUBLE), 6)
                  AS cont_a_in_b,
                ROUND(CAST(i AS DOUBLE) / CAST(sb.n AS DOUBLE), 6)
                  AS cont_b_in_a
         FROM inter
         JOIN sizes sa ON sa.doc_id = a
         JOIN sizes sb ON sb.doc_id = b
         WHERE ROUND(CAST(i AS DOUBLE) / CAST(sa.n AS DOUBLE), 6) >= $ContainmentTau
            OR ROUND(CAST(i AS DOUBLE) / CAST(sb.n AS DOUBLE), 6) >= $ContainmentTau
         ORDER BY a, b""",
    "d_cluster_stats" ->
      s"""WITH RECURSIVE $ClusterReachCte,
         clus AS (SELECT u AS doc_id, MIN(v) AS cluster_id
                  FROM reach GROUP BY u),
         szs AS (SELECT cluster_id, COUNT(*) AS sz FROM clus
                 GROUP BY cluster_id)
         SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
                CAST(SUM(sz) AS BIGINT) AS n_docs
         FROM szs GROUP BY sz ORDER BY cluster_size""",
    "d_incremental_neardup" ->
      s"""WITH $minhashEstCtePrelude,
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
         corpus AS (SELECT doc_id FROM documents WHERE source = 'src0'),
         batch AS (SELECT doc_id, source FROM documents
                   WHERE source <> 'src0'),
         xc AS (SELECT DISTINCT bx.doc_id AS b_id, by2.doc_id AS c_id
                FROM bands bx JOIN bands by2
                  ON bx.band = by2.band AND bx.bh = by2.bh
                JOIN batch bb ON bb.doc_id = bx.doc_id
                JOIN corpus cc ON cc.doc_id = by2.doc_id),
         xinter AS (SELECT gb.doc_id AS b_id, gc.doc_id AS c_id,
                           COUNT(*) AS i
                    FROM kept gb JOIN kept gc ON gb.gram = gc.gram
                    JOIN xc ON xc.b_id = gb.doc_id AND xc.c_id = gc.doc_id
                    GROUP BY 1, 2),
         ver AS (SELECT b_id, MIN(c_id) AS dup_of
                 FROM xinter
                 JOIN sizes sa ON sa.doc_id = b_id
                 JOIN sizes sb ON sb.doc_id = c_id
                 WHERE CAST(i AS DOUBLE) /
                       CAST(sa.n + sb.n - i AS DOUBLE) >= 0.5
                 GROUP BY b_id)
         SELECT b.doc_id, b.source, v.dup_of, v.dup_of IS NULL AS kept
         FROM batch b LEFT JOIN ver v ON v.b_id = b.doc_id
         ORDER BY b.doc_id""",
    "d_method_overlap" -> {
      val nBands = HammingMax + 1
      val bandBits = SimhashBits / nBands
      val mask = (1L << bandBits) - 1
      s"""WITH $minhashEstCtePrelude,
         $simhashFpCte,
         sbanded AS (
           SELECT doc_id, simhash, bb.b AS band,
                  (simhash >> (bb.b * $bandBits)) & $mask AS bits
           FROM fp, (SELECT unnest(range($nBands)) AS b) bb),
         swit AS (
           SELECT doc_id, simhash, band, bits FROM (
             SELECT doc_id, simhash, band, bits,
                    ROW_NUMBER() OVER (PARTITION BY band, bits
                      ORDER BY doc_id) AS rn
             FROM sbanded) WHERE rn <= $BandBucketCap),
         exflag AS (
           SELECT doc_id FROM (
             SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS kpr
             FROM documents) WHERE doc_id > kpr),
         mhflag AS (
           SELECT DISTINCT b AS doc_id FROM est WHERE est_jaccard >= 0.5),
         shflag AS (
           SELECT DISTINCT y.doc_id AS doc_id
           FROM swit x JOIN sbanded y
             ON x.band = y.band AND x.bits = y.bits AND x.doc_id < y.doc_id
           WHERE bit_count(xor(x.simhash, y.simhash)) <= $HammingMax),
         mflags AS (
           SELECT 'exact' AS method, doc_id FROM exflag
           UNION ALL SELECT 'minhash', doc_id FROM mhflag
           UNION ALL SELECT 'simhash', doc_id FROM shflag),
         msizes AS (SELECT method, COUNT(*) AS n FROM mflags GROUP BY method),
         minter AS (
           SELECT x.method AS method_a, y.method AS method_b,
                  COUNT(*) AS n_both
           FROM mflags x JOIN mflags y
             ON x.doc_id = y.doc_id AND x.method < y.method
           GROUP BY 1, 2),
         mpairs AS (
           SELECT * FROM (VALUES ('exact', 'minhash'), ('exact', 'simhash'),
             ('minhash', 'simhash')) t(method_a, method_b))
         SELECT p.method_a, p.method_b,
                CAST(COALESCE(sa.n, 0) AS BIGINT) AS n_a,
                CAST(COALESCE(sb.n, 0) AS BIGINT) AS n_b,
                CAST(COALESCE(i.n_both, 0) AS BIGINT) AS n_both,
                CASE WHEN COALESCE(sa.n, 0) + COALESCE(sb.n, 0)
                          - COALESCE(i.n_both, 0) > 0
                     THEN ROUND(CAST(COALESCE(i.n_both, 0) AS DOUBLE) /
                            (COALESCE(sa.n, 0) + COALESCE(sb.n, 0)
                             - COALESCE(i.n_both, 0)), 6)
                     ELSE 0.0 END AS jaccard
         FROM mpairs p
         LEFT JOIN msizes sa ON sa.method = p.method_a
         LEFT JOIN msizes sb ON sb.method = p.method_b
         LEFT JOIN minter i ON i.method_a = p.method_a
                           AND i.method_b = p.method_b
         ORDER BY p.method_a, p.method_b"""
    },
    "d_incremental_simhash" -> {
      val nBands = HammingMax + 1
      val bandBits = SimhashBits / nBands
      val mask = (1L << bandBits) - 1
      s"""WITH $simhashFpCte,
         banded AS (
           SELECT doc_id, simhash, bb.b AS band,
                  (simhash >> (bb.b * $bandBits)) & $mask AS bits
           FROM fp, (SELECT unnest(range($nBands)) AS b) bb),
         corpus AS (SELECT doc_id FROM documents WHERE source = 'src0'),
         batch AS (SELECT doc_id, source FROM documents
                   WHERE source <> 'src0'),
         cb AS (
           SELECT doc_id, simhash, band, bits FROM (
             SELECT b.doc_id, b.simhash, b.band, b.bits,
                    ROW_NUMBER() OVER (PARTITION BY b.band, b.bits
                      ORDER BY b.doc_id) AS rn
             FROM banded b JOIN corpus c ON c.doc_id = b.doc_id)
           WHERE rn <= $BandBucketCap),
         bb2 AS (
           SELECT b.doc_id, b.simhash, b.band, b.bits
           FROM banded b JOIN batch t ON t.doc_id = b.doc_id),
         ver AS (
           SELECT x.doc_id AS b_id, MIN(y.doc_id) AS dup_of
           FROM bb2 x JOIN cb y ON x.band = y.band AND x.bits = y.bits
           WHERE bit_count(xor(x.simhash, y.simhash)) <= $HammingMax
           GROUP BY x.doc_id)
         SELECT b.doc_id, b.source, v.dup_of, v.dup_of IS NULL AS kept
         FROM batch b LEFT JOIN ver v ON v.b_id = b.doc_id
         ORDER BY b.doc_id"""
    },
    "d_sample_mix" -> {
      val rateCase = MixRates
        .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }.mkString(" ")
      s"""SELECT doc_id, lang,
                 ${hexFoldSql("text")} % 100 AS mix_bucket,
                 CAST(CASE $rateCase ELSE 0 END AS BIGINT) AS keep_rate
          FROM documents
          WHERE ${hexFoldSql("text")} % 100 < CASE $rateCase ELSE 0 END
          ORDER BY doc_id"""
    },
    "d_substring_dedup" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         wins AS (
           SELECT DISTINCT doc_id, ${hexFoldSql("w")} AS h FROM (
             SELECT doc_id, unnest(CASE WHEN len(t) >= $SubstrWindow
               THEN list_transform(range(1, len(t) - ${SubstrWindow - 2}),
                                   i -> array_to_string(t[i:i+${SubstrWindow - 1}], ' '))
               ELSE [array_to_string(t, ' ')] END) AS w
             FROM toks)),
         own AS (SELECT h, MIN(doc_id) AS owner FROM wins GROUP BY h)
         SELECT w.doc_id,
                CAST(COUNT(*) AS BIGINT) AS n_windows,
                CAST(SUM(CASE WHEN w.doc_id > o.owner THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_dup_windows,
                ROUND(CAST(SUM(CASE WHEN w.doc_id > o.owner THEN 1 ELSE 0 END)
                           AS DOUBLE) / COUNT(*), 6) AS dup_share,
                CAST(MAX(CASE WHEN w.doc_id > o.owner THEN 1 ELSE 0 END) AS INT)
                  AS flagged
         FROM wins w JOIN own o USING (h)
         GROUP BY w.doc_id ORDER BY doc_id""",
    "d_importance_weights" -> {
      val wSql =
        s"""ROUND((CAST(target_mass AS DOUBLE) * CAST((SELECT nr FROM m) AS DOUBLE)) /
                  (CAST(raw_mass AS DOUBLE) * CAST((SELECT nt FROM m) AS DOUBLE)), 6)"""
      s"""WITH toks AS (
           SELECT doc_id, ${hexFoldSql("text")} % 1000000 AS gate,
                  unnest(string_split(text, ' ')) AS tok
           FROM documents),
         tb AS (SELECT doc_id, gate, ${hexFoldSql("tok")} % $DsirBuckets AS bucket
                FROM toks),
         hist AS (SELECT bucket,
                         SUM(CASE WHEN doc_id < $DsirTargetDocs THEN 1 ELSE 0 END) AS ct,
                         SUM(CASE WHEN doc_id >= $DsirTargetDocs THEN 1 ELSE 0 END) AS cr
                  FROM tb GROUP BY bucket),
         m AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM hist),
         s AS (SELECT t.doc_id,
                      CAST(COUNT(*) AS BIGINT) AS n_tokens,
                      MIN(t.gate) AS gate,
                      CAST(SUM(h.ct) AS BIGINT) AS target_mass,
                      CAST(SUM(h.cr) AS BIGINT) AS raw_mass
               FROM tb t JOIN hist h USING (bucket)
               WHERE t.doc_id >= $DsirTargetDocs
               GROUP BY t.doc_id)
         SELECT doc_id, n_tokens, target_mass, raw_mass, $wSql AS weight,
                CAST(CAST(gate AS DOUBLE) < $wSql * 1000000.0 AS INT) AS keep
         FROM s ORDER BY doc_id"""
    },
    "d_minhash_lsh" -> minhashOracle,
    "d_shuffle_index" ->
      s"""WITH k AS (
           SELECT doc_id,
                  ${hexFoldSql("CAST(doc_id AS VARCHAR) || '|' || '42'")} AS hkey
           FROM documents),
         ${radixRankSql("k")}
         SELECT doc_id, shuffle_pos FROM rrk ORDER BY doc_id""",
    "d_corpus_report" ->
      """WITH t AS (
           SELECT doc_id, lang, source, md5(text) AS h,
                  string_split(text, ' ') AS toks
           FROM documents),
         d AS (
           SELECT doc_id, lang, source, h,
                  CAST(len(toks) AS BIGINT) AS n_tokens,
                  ROUND(LEAST(1.0, CAST(len(toks) AS DOUBLE) / 400.0) *
                        (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)),
                        4) AS quality_score
           FROM t)
         SELECT lang, source,
                CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique,
                CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
                CAST(SUM(CAST(quality_score AS DECIMAL(18,4))) AS DOUBLE)
                  / COUNT(*) AS mean_quality,
                ROUND(1.0 - CAST(COUNT(DISTINCT h) AS DOUBLE) / COUNT(*), 4)
                  AS dup_rate
         FROM d GROUP BY lang, source ORDER BY lang, source""",
    "d_epoch_schedule" -> {
      val h = graft.Hashing.hexFoldSql(
        "CAST(doc_id AS VARCHAR) || '|' || 'epoch'")
      s"""WITH d AS (SELECT doc_id, source FROM documents),
         ps AS (SELECT source, COUNT(*) AS n_docs FROM d GROUP BY source),
         t AS (SELECT SUM(n_docs) AS n_total, COUNT(*) AS n_sources FROM ps),
         wf AS (
           SELECT source, n_docs,
                  LEAST($EpochMaxFactor, GREATEST($EpochMinFactor,
                    (CAST(n_total AS DOUBLE) / CAST(n_sources AS DOUBLE))
                      / CAST(n_docs AS DOUBLE))) AS f
           FROM ps CROSS JOIN t),
         r AS (
           SELECT d.source, wf.n_docs, wf.f,
                  CAST(FLOOR(wf.f) AS BIGINT) +
                  CASE WHEN CAST($h AS DOUBLE) / 1152921504606846976.0
                            < wf.f - FLOOR(wf.f)
                       THEN 1 ELSE 0 END AS rep
           FROM d JOIN wf USING (source))
         SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
                ROUND(f, 6) AS epoch_factor,
                CAST(SUM(rep) AS BIGINT) AS n_repeats,
                ROUND(CAST(SUM(rep) AS DOUBLE) / CAST(n_docs AS DOUBLE), 4)
                  AS realized_factor
         FROM r GROUP BY source, n_docs, f ORDER BY source"""
    },
    "d_contrib_cap" ->
      s"""WITH r AS (
           SELECT event_type, CAST(value AS DECIMAL(12,2)) AS v,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY epoch_us(ts), event_id) AS rnk
           FROM events)
         SELECT event_type,
                COUNT(*) AS n_events,
                CAST(SUM(CASE WHEN rnk <= $ContribCapK THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_kept,
                CAST(ROUND(SUM(v), 2) AS DOUBLE) AS sum_value,
                CAST(ROUND(SUM(CASE WHEN rnk <= $ContribCapK THEN v
                                    ELSE CAST(0 AS DECIMAL(12,2)) END), 2)
                     AS DOUBLE) AS kept_sum_value,
                ROUND(CAST(SUM(CASE WHEN rnk <= $ContribCapK THEN 1 ELSE 0 END)
                             AS DOUBLE) / COUNT(*), 6) AS kept_share
         FROM r GROUP BY event_type ORDER BY event_type""",
    "d_mix_weights" ->
      """WITH pl AS (
           SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY lang),
         tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                        CAST(COUNT(*) AS BIGINT) AS n_langs FROM pl)
         SELECT lang, n_docs, n_tokens,
                ROUND(CAST(n_tokens AS DOUBLE)
                  / (SELECT total_tokens FROM tot), 4) AS token_share,
                ROUND(LEAST(1.0, (1.0 / (SELECT n_langs FROM tot)) /
                  (CAST(n_tokens AS DOUBLE) / (SELECT total_tokens FROM tot))),
                  4) AS weight
         FROM pl ORDER BY lang""",
    // replays packRank's weighted radix prefix sum STRUCTURE — bucket,
    // two-column bounded offset cumsum, in-bucket running token sum —
    // then seqPack's integer bin arithmetic on top
    "d_seq_pack" ->
      s"""WITH k AS (
           SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                  ${hexFoldSql("CAST(doc_id AS VARCHAR) || '|' || '42'")} AS hkey
           FROM documents),
         ${radixPackSql("k")}
         SELECT doc_id, n_tokens, shuffle_pos, start_pos,
                start_pos // $PackContext AS bin_id,
                start_pos % $PackContext AS bin_offset,
                (start_pos + n_tokens - 1) // $PackContext
                  - start_pos // $PackContext + 1 AS n_bins
         FROM rrk ORDER BY doc_id""",
    "d_curation_e2e" ->
      s"""WITH keep AS (
           SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
               FROM documents),
         q AS (
           SELECT doc_id, lang,
                  CAST(len(toks) AS BIGINT) AS n_tokens,
                  ROUND(LEAST(1.0, CAST(len(toks) AS DOUBLE) / 400.0) *
                        (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)), 4)
                    AS quality_score
           FROM t
           WHERE EXISTS (SELECT 1 FROM keep k WHERE k.doc_id = t.doc_id)),
         c AS (
           SELECT doc_id, lang, n_tokens,
                  CAST(SUM(n_tokens) OVER (PARTITION BY lang
                    ORDER BY quality_score DESC, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_tokens
           FROM q),
         kept AS (
           SELECT doc_id, lang, n_tokens FROM c WHERE cum_tokens <= $TokensPerLang),
         kk AS (
           SELECT doc_id, lang, n_tokens,
                  ${hexFoldSql("CAST(doc_id AS VARCHAR) || '|' || '42'")} AS hkey
           FROM kept),
         ${radixRankSql("kk", "lang", "n_tokens")}
         SELECT doc_id, lang, n_tokens, shuffle_pos FROM rrk
         ORDER BY doc_id""",
    "d_minhash_est" ->
      s"""WITH $minhashEstCtePrelude,
         est25 AS (SELECT * FROM est WHERE est_jaccard >= 0.25),
         cdocs AS (SELECT a AS doc_id FROM est25
                   UNION SELECT b FROM est25),
         ck AS (SELECT k.* FROM kept k
                WHERE EXISTS (SELECT 1 FROM cdocs c WHERE c.doc_id = k.doc_id)),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM ck GROUP BY doc_id),
         inter AS (
           SELECT g1.doc_id AS a, g2.doc_id AS b, COUNT(*) AS i
           FROM ck g1 JOIN ck g2
             ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
           GROUP BY g1.doc_id, g2.doc_id)
         SELECT e.a, e.b, e.est_jaccard,
                ROUND(CAST(COALESCE(i.i, 0) AS DOUBLE) /
                      CAST(sa.n + sb.n - COALESCE(i.i, 0) AS DOUBLE), 6) AS jaccard,
                ROUND(ABS(e.est_jaccard -
                      CAST(COALESCE(i.i, 0) AS DOUBLE) /
                      CAST(sa.n + sb.n - COALESCE(i.i, 0) AS DOUBLE)), 6) AS abs_err
         FROM est25 e
         LEFT JOIN inter i ON i.a = e.a AND i.b = e.b
         JOIN sizes sa ON sa.doc_id = e.a
         JOIN sizes sb ON sb.doc_id = e.b
         ORDER BY e.a, e.b""",
    "d_segment_dedup" ->
      s"""WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         segt AS (
           SELECT doc_id,
                  CAST(CEIL(CAST(len(t) AS DOUBLE) / $SegTokens) AS INTEGER)
                    AS n_segments, t
           FROM toks),
         segs AS (
           SELECT doc_id, n_segments,
                  unnest(list_transform(range(n_segments),
                    i -> array_to_string(t[i*$SegTokens + 1 : i*$SegTokens + $SegTokens], ' ')))
                    AS seg_text
           FROM segt),
         boiler AS (
           SELECT seg_text FROM segs
           GROUP BY seg_text HAVING COUNT(DISTINCT doc_id) > $SegDfCap),
         keptseg AS (
           SELECT doc_id, COUNT(*) AS n_kept FROM segs
           WHERE seg_text NOT IN (SELECT seg_text FROM boiler)
           GROUP BY doc_id)
         SELECT s.doc_id, CAST(s.n_segments AS BIGINT) AS n_segments,
                COALESCE(k.n_kept, 0) AS n_kept,
                ROUND(CAST(COALESCE(k.n_kept, 0) AS DOUBLE) /
                      CAST(s.n_segments AS DOUBLE), 6) AS kept_ratio
         FROM (SELECT DISTINCT doc_id, n_segments FROM segs) s
         LEFT JOIN keptseg k ON k.doc_id = s.doc_id
         ORDER BY s.doc_id""",
    "d_simhash" ->
      s"""WITH $simhashFpCte
         SELECT doc_id, simhash, simhash >> 48 AS bucket FROM fp
         ORDER BY doc_id""",
    "d_simhash_pairs" -> {
      val nBands = HammingMax + 1
      val bandBits = SimhashBits / nBands
      val mask = (1L << bandBits) - 1
      s"""WITH $simhashFpCte,
         banded AS (
           SELECT doc_id, simhash, bb.b AS band,
                  (simhash >> (bb.b * $bandBits)) & $mask AS bits
           FROM fp, (SELECT unnest(range($nBands)) AS b) bb),
         wit AS (
           SELECT doc_id, simhash, band, bits FROM (
             SELECT doc_id, simhash, band, bits,
                    ROW_NUMBER() OVER (PARTITION BY band, bits
                      ORDER BY doc_id) AS rn
             FROM banded) WHERE rn <= $BandBucketCap)
         SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
         FROM wit x JOIN banded y
           ON x.band = y.band AND x.bits = y.bits AND x.doc_id < y.doc_id
         WHERE bit_count(xor(x.simhash, y.simhash)) <= $HammingMax
         ORDER BY a, b"""
    },
    "d_exact_dedup" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_doc_id,
                COUNT(*) AS n_copies
         FROM documents GROUP BY md5(text) ORDER BY keep_doc_id""",
    "d_ngram_jaccard" ->
      s"""WITH $KeptGramCte,
          sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
          inter AS (
            SELECT g1.doc_id AS a, g2.doc_id AS b, COUNT(*) AS i
            FROM kept g1 JOIN kept g2
              ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
            GROUP BY g1.doc_id, g2.doc_id)
          SELECT a, b,
                 ROUND(CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE), 6) AS jaccard
          FROM inter
          JOIN sizes sa ON sa.doc_id = a
          JOIN sizes sb ON sb.doc_id = b
          WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.5
          ORDER BY a, b""",
    // transitive closure over the pair graph (tiny: only near-dup pairs),
    // then min id per reachable set = the cluster label
    "d_dedup_clusters" ->
      s"""WITH RECURSIVE $ClusterReachCte
          SELECT u AS doc_id, MIN(v) AS cluster_id, u = MIN(v) AS keep
          FROM reach GROUP BY u ORDER BY doc_id""",
    "d_source_overlap" ->
      s"""WITH $KeptGramCte,
          sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
          inter AS (
            SELECT g1.doc_id AS a, g2.doc_id AS b, COUNT(*) AS i
            FROM kept g1 JOIN kept g2
              ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
            GROUP BY g1.doc_id, g2.doc_id),
          pairs AS (
            SELECT a, b,
              ROUND(CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE), 6)
                AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.5),
          sp AS (
            SELECT LEAST(da.source, db.source) AS source_a,
                   GREATEST(da.source, db.source) AS source_b, jaccard
            FROM pairs
            JOIN documents da ON da.doc_id = pairs.a
            JOIN documents db ON db.doc_id = pairs.b)
          SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                 CAST(SUM(CAST(jaccard AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*) AS mean_jaccard,
                 MAX(jaccard) AS max_jaccard
          FROM sp GROUP BY source_a, source_b
          ORDER BY source_a, source_b""",
    "d_temperature_mix" ->
      s"""WITH perl AS (
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                     AS n_tokens
            FROM documents GROUP BY lang),
          tot AS (
            SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   list(n_tokens ORDER BY lang) AS ls
            FROM perl),
          zc AS (
            SELECT total_tokens,
              list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(ls, x ->
                  pow(CAST(x AS DOUBLE) / total_tokens, $MixTemperature))),
                (a, b) -> a + b) AS z
            FROM tot)
          SELECT lang, n_docs, n_tokens,
            ROUND(CAST(n_tokens AS DOUBLE) / total_tokens, 6) AS token_share,
            ROUND(pow(CAST(n_tokens AS DOUBLE) / total_tokens,
                      $MixTemperature) / z, 6) AS temp_share,
            ROUND(pow(CAST(n_tokens AS DOUBLE) / total_tokens,
                      $MixTemperature) / z /
                  (CAST(n_tokens AS DOUBLE) / total_tokens), 6) AS boost
          FROM perl, zc ORDER BY lang""",
    "d_funnel_report" -> {
      val rateCase = MixRates
        .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }.mkString(" ")
      val stopList = Text.Stopwords.head._2.map(w => s"'$w'").mkString(",")
      s"""WITH RECURSIVE $ClusterReachCte,
          clus AS (SELECT u AS doc_id, u = MIN(v) AS ckeep
                   FROM reach GROUP BY u),
          base AS (
            SELECT doc_id, lang, string_split(text, ' ') AS tk,
                   md5(text) AS ch, ${hexFoldSql("text")} % 100 AS mixb
            FROM documents),
          ex AS (SELECT ch, MIN(doc_id) AS ek FROM base GROUP BY ch),
          gop AS (
            SELECT doc_id,
              (len(tk) BETWEEN ${Text.GopherMinTokens}
                           AND ${Text.GopherMaxTokens})
              AND (CAST(list_sum(list_transform(tk, w -> len(w))) AS DOUBLE)
                     / len(tk)
                   BETWEEN ${Text.GopherMinMeanWordLen}
                       AND ${Text.GopherMaxMeanWordLen})
              AND (CAST(len(list_filter(tk,
                     w -> contains(w, '#') OR contains(w, '...'))) AS DOUBLE)
                     / len(tk) <= ${Text.GopherMaxSymbolRatio})
              AND (CAST(len(list_filter(tk,
                     w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
                     / len(tk) >= ${Text.GopherMinAlphaShare})
              AND (len(list_filter(list_distinct(tk),
                     w -> w IN ($stopList))) >= ${Text.GopherMinStopHits})
              AS gkeep
            FROM base),
          fl AS (
            SELECT b.doc_id, CAST(len(tk) AS BIGINT) AS n_toks,
                   (b.doc_id = e.ek) AS k2,
                   ((b.doc_id = e.ek) AND c.ckeep) AS k3,
                   ((b.doc_id = e.ek) AND c.ckeep AND g.gkeep) AS k4,
                   ((b.doc_id = e.ek) AND c.ckeep AND g.gkeep AND
                    (b.mixb < CASE $rateCase ELSE 0 END)) AS k5
            FROM base b
            JOIN ex e USING (ch)
            JOIN clus c ON c.doc_id = b.doc_id
            JOIN gop g ON g.doc_id = b.doc_id)
          SELECT CAST(1 AS BIGINT) AS stage_id, 'raw' AS stage,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) AS n_tokens FROM fl
          UNION ALL
          SELECT 2, 'exact_dedup',
                 CAST(SUM(CASE WHEN k2 THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(SUM(CASE WHEN k2 THEN n_toks ELSE 0 END) AS BIGINT)
          FROM fl
          UNION ALL
          SELECT 3, 'near_dedup',
                 CAST(SUM(CASE WHEN k3 THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(SUM(CASE WHEN k3 THEN n_toks ELSE 0 END) AS BIGINT)
          FROM fl
          UNION ALL
          SELECT 4, 'quality_gate',
                 CAST(SUM(CASE WHEN k4 THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(SUM(CASE WHEN k4 THEN n_toks ELSE 0 END) AS BIGINT)
          FROM fl
          UNION ALL
          SELECT 5, 'mix_sample',
                 CAST(SUM(CASE WHEN k5 THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(SUM(CASE WHEN k5 THEN n_toks ELSE 0 END) AS BIGINT)
          FROM fl
          ORDER BY stage_id"""
    },
    "d_lsh_recall" ->
      s"""WITH $minhashEstCtePrelude,
          lshp AS (SELECT a, b FROM est WHERE est_jaccard >= 0.5),
          sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
          inter AS (
            SELECT g1.doc_id AS a, g2.doc_id AS b, COUNT(*) AS i
            FROM kept g1 JOIN kept g2
              ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
            GROUP BY g1.doc_id, g2.doc_id),
          truth AS (
            SELECT a, b FROM inter
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.5),
          j AS (
            SELECT COALESCE(t.one, 0) AS t, COALESCE(g.one, 0) AS g
            FROM (SELECT a, b, 1 AS one FROM truth) t
            FULL OUTER JOIN (SELECT a, b, 1 AS one FROM lshp) g
              USING (a, b)),
          agg AS (SELECT CAST(SUM(t) AS BIGINT) AS n_true,
                         CAST(SUM(g) AS BIGINT) AS n_lsh,
                         CAST(SUM(t * g) AS BIGINT) AS n_common
                  FROM j)
          SELECT n_true, n_lsh, n_common,
                 CASE WHEN n_true > 0
                      THEN ROUND(CAST(n_common AS DOUBLE) / n_true, 6) END
                   AS recall,
                 CASE WHEN n_lsh > 0
                      THEN ROUND(CAST(n_common AS DOUBLE) / n_lsh, 6) END
                   AS precision
          FROM agg""",
    "d_novelty" ->
      s"""WITH $GramCte,
          g AS (SELECT gr.gram, gr.doc_id, d.source
                FROM grams gr JOIN documents d USING (doc_id)),
          seen AS (
            SELECT source, COUNT(*) AS n_grams_seen
            FROM (SELECT DISTINCT source, gram FROM g) GROUP BY source),
          own AS (SELECT gram, MIN(doc_id) AS od FROM g GROUP BY gram),
          intro AS (
            SELECT d.source, COUNT(*) AS n_grams_introduced
            FROM own JOIN documents d ON d.doc_id = own.od
            GROUP BY d.source)
          SELECT s.source, CAST(s.n_grams_seen AS BIGINT) AS n_grams_seen,
                 CAST(COALESCE(i.n_grams_introduced, 0) AS BIGINT)
                   AS n_grams_introduced,
                 ROUND(CAST(COALESCE(i.n_grams_introduced, 0) AS DOUBLE)
                       / s.n_grams_seen, 6) AS novelty_ratio
          FROM seen s LEFT JOIN intro i ON i.source = s.source
          ORDER BY s.source""",
    "d_dup_inflation" ->
      s"""WITH RECURSIVE $ClusterReachCte,
          clus AS (SELECT u AS doc_id, u = MIN(v) AS keep
                   FROM reach GROUP BY u),
          tk AS (SELECT doc_id, source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
                 FROM documents),
          agg AS (
            SELECT source, COUNT(*) AS n_docs,
              SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS n_dup_docs,
              SUM(n_toks) AS n_tokens,
              SUM(CASE WHEN NOT keep THEN n_toks ELSE 0 END) AS dup_tokens
            FROM clus JOIN tk USING (doc_id) GROUP BY source)
          SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
                 CAST(n_dup_docs AS BIGINT) AS n_dup_docs,
                 CAST(n_tokens AS BIGINT) AS n_tokens,
                 CAST(dup_tokens AS BIGINT) AS dup_tokens,
                 CASE WHEN n_tokens > dup_tokens
                      THEN ROUND(CAST(n_tokens AS DOUBLE) /
                                 CAST(n_tokens - dup_tokens AS DOUBLE), 6)
                      ELSE NULL END AS inflation
          FROM agg ORDER BY source""",
    "d_split_assign" ->
      s"""WITH RECURSIVE $ClusterReachCte,
          clus AS (SELECT u AS doc_id, MIN(v) AS cluster_id
                   FROM reach GROUP BY u),
          bkt AS (SELECT doc_id, cluster_id,
                    ${hexFoldSql("'split|' || CAST(cluster_id AS VARCHAR)")} % 100 AS b
                  FROM clus)
          SELECT doc_id, cluster_id,
                 CASE WHEN b < $SplitTrainPct THEN 'train'
                      WHEN b < ${SplitTrainPct + SplitValPct} THEN 'val'
                      ELSE 'test' END AS split
          FROM bkt ORDER BY doc_id""",
    "d_token_budget" ->
      s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
                     FROM documents),
         q AS (
           SELECT doc_id, lang,
                  CAST(len(toks) AS BIGINT) AS n_tokens,
                  ROUND(LEAST(1.0, CAST(len(toks) AS DOUBLE) / 400.0) *
                        (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)), 4)
                    AS quality_score
           FROM t),
         c AS (
           SELECT doc_id, lang, n_tokens, quality_score,
                  CAST(SUM(n_tokens) OVER (PARTITION BY lang
                    ORDER BY quality_score DESC, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_tokens
           FROM q)
         SELECT doc_id, lang, n_tokens, quality_score, cum_tokens
         FROM c WHERE cum_tokens <= $TokensPerLang ORDER BY doc_id""",
    "d_quality_keeper" ->
      s"""WITH RECURSIVE $KeptGramCte,
          sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
          inter AS (
            SELECT g1.doc_id AS a, g2.doc_id AS b, COUNT(*) AS i
            FROM kept g1 JOIN kept g2
              ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id
            GROUP BY g1.doc_id, g2.doc_id),
          pairs AS (
            SELECT a, b FROM inter
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.5),
          und AS (
            SELECT a AS u, b AS v FROM pairs
            UNION ALL SELECT b, a FROM pairs),
          reach(u, v) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
          comp AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u),
          q AS (
            SELECT doc_id,
                   ROUND(LEAST(1.0, CAST(len(t) AS DOUBLE) / 400.0) *
                         (CAST(len(list_distinct(t)) AS DOUBLE) / len(t)), 4)
                     AS quality_score
            FROM toks),
          r AS (
            SELECT c.cluster_id, q.doc_id, q.quality_score,
                   ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                     ORDER BY q.quality_score DESC, q.doc_id) AS rn,
                   COUNT(*) OVER (PARTITION BY c.cluster_id) AS nm
            FROM comp c JOIN q USING (doc_id))
          SELECT cluster_id, CAST(nm AS BIGINT) AS n_members,
                 doc_id AS keep_doc_id, quality_score AS best_quality
          FROM r WHERE rn = 1 ORDER BY cluster_id""",
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d_exact_dedup"   -> (exactDedup _),
    "d_minhash_lsh"   -> ((s: SparkSession, d: String) => minhashLsh(s, d)),
    "d_simhash"       -> (simhash _),
    "d_simhash_pairs" -> ((s, d) => simhashPairs(s, d)),
    "d_ngram_jaccard" -> ((s: SparkSession, d: String) => ngramJaccard(s, d)),
    "d_dedup_clusters" -> ((s: SparkSession, d: String) => dedupClusters(s, d)),
    "d_split_assign"  -> (splitAssign _),
    "d_dup_inflation" -> (dupInflation _),
    "d_quality_keeper" -> ((s: SparkSession, d: String) => qualityKeeper(s, d)),
    "d_token_budget"  -> ((s: SparkSession, d: String) => tokenBudget(s, d)),
    "d_sample_mix"    -> (sampleMix _),
    "d_incremental_dedup" -> ((s: SparkSession, d: String) => incrementalDedup(s, d)),
    "d_incremental_neardup" -> ((s: SparkSession, d: String) => incrementalNeardup(s, d)),
    "d_incremental_simhash" -> ((s: SparkSession, d: String) => incrementalSimhash(s, d)),
    "d_method_overlap" -> (methodOverlap _),
    "d_containment" -> ((s: SparkSession, d: String) => containment(s, d)),
    "d_cluster_stats" -> (clusterStats _),
    "d_bloom_dedup" -> ((s: SparkSession, d: String) => bloomDedup(s, d)),
    "d_substring_dedup" -> ((s: SparkSession, d: String) => substringDedup(s, d)),
    "d_importance_weights" -> ((s: SparkSession, d: String) => importanceWeights(s, d)),
    "d_minhash_est"   -> ((s: SparkSession, d: String) => minhashEstimateAudit(s, d)),
    "d_segment_dedup" -> ((s: SparkSession, d: String) => segmentDedup(s, d)),
    "d_shuffle_index" -> ((s: SparkSession, d: String) => shuffleIndex(s, d)),
    "d_seq_pack"      -> ((s: SparkSession, d: String) => seqPack(s, d)),
    "d_curation_e2e"  -> ((s: SparkSession, d: String) => curationE2e(s, d)),
    "d_corpus_report" -> (corpusReport _),
    "d_mix_weights"   -> (mixWeights _),
    "d_epoch_schedule" -> (epochSchedule _),
    "d_contrib_cap"   -> (contribCap _),
    "d_temperature_mix" -> ((s: SparkSession, d: String) => temperatureMix(s, d)),
    "d_source_overlap" -> ((s: SparkSession, d: String) => sourceOverlap(s, d)),
    "d_novelty"       -> (novelty _),
    "d_lsh_recall"    -> ((s: SparkSession, d: String) => lshRecall(s, d)),
    "d_funnel_report" -> (funnelReport _),
  )
}
