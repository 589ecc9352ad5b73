package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.Gates
import org.apache.spark.sql.functions._

/** Text-analysis operators for an LLM training-data pipeline, over the
  * `documents` table: language ID, quality scoring, token counting and
  * rolling-hash fingerprinting.
  *
  * All four are pure `functions._` column pipelines — single narrow pass
  * over the scan, no shuffle (the final orderBy exists only for the
  * deterministic oracle dump), no UDFs, fully inside whole-stage codegen.
  * At 100 TB these are scan-bound map stages, exactly what you want.
  *
  * Every double op is a single division (or one multiply) followed by
  * `round(_, 4)`, mirrored verbatim in the DuckDB oracle so the gate
  * hash-matches bit-for-bit.
  */
object Text {

  /** Per-language stopword marker lists for the n-gram/stopword
    * language-ID heuristic. Tie-break priority: en > de > es > fr > zh
    * (mirrored in the oracle CASE order). */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "los", "las", "y", "es", "una"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "zh" -> Seq("的", "是", "了", "在", "我", "不"),
  )

  private def toksOf(df: DataFrame): DataFrame =
    df.withColumn("toks", Docs.tokens)

  private def hits(words: Seq[String]): Column =
    size(filter(col("toks"), t => t.isin(words: _*)))

  /** Stopword-count argmax language ID. `t_langid`. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val scored = Stopwords.foldLeft(toksOf(Docs.docs(spark, dir))) {
      case (df, (lang, words)) => df.withColumn(s"${lang}_hits", hits(words).cast("long"))
    }
    val Seq(en, de, es, fr, zh) = Stopwords.map { case (l, _) => col(s"${l}_hits") }
    scored.select(
      col("doc_id"), col("lang"),
      en, de, es, fr, zh,
      when(en >= de && en >= es && en >= fr && en >= zh, "en")
        .when(de >= es && de >= fr && de >= zh, "de")
        .when(es >= fr && es >= zh, "es")
        .when(fr >= zh, "fr")
        .otherwise("zh").as("pred_lang"))
      .orderBy(col("doc_id"))
  }

  /** Language-label audit: the declared-vs-predicted confusion matrix
    * over the [[langId]] classifier — the first check a multilingual
    * corpus gets (mislabeled shards show up as off-diagonal mass long
    * before a downstream model does). One classifier pass + one
    * (declared, predicted) count + a 5-row margin join; the share is
    * one rounded division from integers. `t_lang_confusion`. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val counts = langId(spark, dir)
      .select(col("lang").as("declared"), col("pred_lang"))
      .groupBy(col("declared"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
    val margins = counts.groupBy(col("declared"))
      .agg(sum(col("n_docs")).as("n_declared"))
    counts.join(broadcast(margins), Seq("declared"))
      .select(col("declared"), col("pred_lang"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_declared").cast("double"), 4)
          .as("share"),
        (col("declared") === col("pred_lang")).as("agree"))
      .orderBy(col("declared"), col("pred_lang"))
  }

  /** T5-style span-corruption SCHEDULE (Raffel 2020 §3.1.4 shape):
    * deterministic non-overlapping mask spans at a 15% token rate —
    * each full 20-token chunk masks one 3-token span at a
    * (doc, chunk)-salted offset, so spans never overlap BY
    * CONSTRUCTION, every cluster/retry (and the oracle) derives the
    * identical schedule, and the masked targets ride along for the
    * denoising writer. Pure narrow map: no shuffle before the
    * presentation sort. `d_span_mask`. */
  val SpanChunk = 20
  val SpanLen = 3

  def spanMask(spark: SparkSession, dir: String): DataFrame = {
    val nChunks = (size(col("toks")) / SpanChunk).cast("long")
    toksOf(Docs.docs(spark, dir))
      .select(col("doc_id"), col("toks"), nChunks.as("n_chunks"))
      .filter(col("n_chunks") > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("span_id"))
      .select(col("doc_id"), col("span_id"),
        (col("span_id") * SpanChunk +
          pmod(graft.Hashing.hash60(
            concat_ws("|", col("doc_id"), col("span_id"), lit("mask"))),
            lit((SpanChunk - SpanLen + 1).toLong))).as("start_tok"),
        col("toks"))
      .select(col("doc_id"), col("span_id"), col("start_tok"),
        lit(SpanLen.toLong).as("span_len"),
        concat_ws(" ", slice(col("toks"), (col("start_tok") + 1).cast("int"),
          lit(SpanLen))).as("masked"))
      .orderBy(col("doc_id"), col("span_id"))
  }

  /** Document quality score from length / type-token ratio / stopword
    * ratio. `t_quality`. */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val enWords = Stopwords.head._2
    toksOf(Docs.docs(spark, dir))
      .select(col("doc_id"), col("n_chars"), col("toks"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_types"),
        hits(enWords).cast("long").as("n_stop"))
      .select(col("doc_id"), col("n_chars"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens"), 4).as("ttr"),
        round(col("n_stop").cast("double") / col("n_tokens"), 4).as("stop_ratio"),
        round(col("n_chars").cast("double") / col("n_tokens"), 4).as("chars_per_token"),
        round(least(lit(1.0), col("n_tokens").cast("double") / 400.0) *
          (col("n_types").cast("double") / col("n_tokens")), 4).as("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** Token counting: whitespace tokens + a BPE-ish subword estimate
    * (⌈len/4⌉ pieces per word — the classic chars-per-token heuristic).
    * `t_tokens`. */
  def tokens(spark: SparkSession, dir: String): DataFrame =
    toksOf(Docs.docs(spark, dir))
      .select(col("doc_id"), col("n_chars"),
        size(col("toks")).cast("long").as("n_ws_tokens"),
        aggregate(
          transform(col("toks"), t => ceil(length(t) / lit(4.0)).cast("long")),
          lit(0L), (acc, x) => acc + x).as("n_subword_tokens"))
      .orderBy(col("doc_id"))

  /** Per-language tokenizer-fertility audit — the "how many subword
    * pieces does a word cost in each language" table every
    * multilingual-tokenizer evaluation publishes (high fertility marks
    * languages the vocabulary underserves, which inflates their
    * effective sequence lengths and training cost). Reuses
    * [[tokens]]'s exact whitespace/⌈len/4⌉-subword counts, grouped by
    * the declared `lang`: doc/token/char totals plus
    * fertility = subword/word and chars-per-subword ratios.
    *
    * Plan shape: one narrow per-doc map (the same codegen'd array fold
    * `t_tokens` uses — no explode, no UDF) into one |langs|-key hash
    * aggregate with map-side partials — a single bounded shuffle, flat
    * at any corpus size. All sums are integers; the two emitted ratios
    * are single round-6 divisions of those integers, so the oracle
    * replays them bit-for-bit. `t_fertility`. */
  def fertility(spark: SparkSession, dir: String): DataFrame =
    toksOf(Docs.docs(spark, dir))
      .select(col("lang"), col("n_chars"),
        size(col("toks")).cast("long").as("ws"),
        aggregate(
          transform(col("toks"), t => ceil(length(t) / lit(4.0)).cast("long")),
          lit(0L), (acc, x) => acc + x).as("sub"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("n_ws_tokens"),
        sum(col("sub")).as("n_subword_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_ws_tokens"),
        col("n_subword_tokens"), col("n_chars"),
        round(col("n_subword_tokens").cast("double") /
          col("n_ws_tokens").cast("double"), 6).as("fertility"),
        round(col("n_chars").cast("double") /
          col("n_subword_tokens").cast("double"), 6).as("chars_per_subword"))
      .orderBy(col("lang"))

  /** Lexical-diversity profile — the type/token signals a pretraining
    * quality filter cuts on (template-generated and keyword-stuffed
    * text shows an anomalously LOW type-token ratio; a high hapax share
    * marks natural prose): distinct-token count, total tokens, hapax
    * count (tokens occurring exactly once), TTR and hapax share. One
    * explode + one (doc, token) count + one per-doc re-agg — two keyed
    * shuffles, integer counts, two single rounded divisions (exact
    * cross-engine). `t_ttr`. */
  def typeTokenRatio(spark: SparkSession, dir: String): DataFrame = {
    val tf = toksOf(Docs.docs(spark, dir))
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
    tf.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
        round(col("n_types").cast("double") / col("n_tokens").cast("double"), 6)
          .as("ttr"),
        round(col("n_hapax").cast("double") / col("n_types").cast("double"), 6)
          .as("hapax_share"))
      .orderBy(col("doc_id"))
  }

  /** Character-level Shannon entropy per document, in bits — the
    * gibberish / binary-paste detector classic web-corpus filters cut
    * on (flagging both very LOW entropy — repeated characters,
    * template padding — and very HIGH — compressed or base64 blobs).
    * Identity: H = (ln n − (Σ c·ln c)/n) / ln 2 over per-character
    * counts c, total chars n. Exactness: the Σ c·ln c fold runs over
    * counts SORTED BY CHARACTER — a deterministic operand sequence
    * both engines replay step for step (the [[fingerprint]] fold
    * idiom), so the only cross-engine freedom is libm's ln (±1 ulp on
    * small-integer arguments, absorbed by the round-6). Plan shape:
    * one explode + one (doc, char) count + one per-doc re-agg — two
    * keyed shuffles; the fold is a narrow O(alphabet) map, no UDFs.
    * `t_entropy`. */
  def entropy(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Docs.docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(length(col("ch")) > 0)
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
    cnt.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("k"),
        sort_array(collect_list(struct(col("ch"), col("c")))).as("cs"))
      .select(col("doc_id"),
        col("n").as("n_chars_used"), col("k").as("n_distinct_chars"),
        round((log(col("n").cast("double")) -
          aggregate(
            transform(col("cs"), x => x.getField("c").cast("double")),
            lit(0.0), (acc, c) => acc + c * log(c)) / col("n").cast("double")) /
          log(lit(2.0)), 6).as("entropy_bits"))
      .orderBy(col("doc_id"))
  }

  /** Rolling polynomial hash over the token stream (mod 2^31−1, so the
    * accumulator stays < 2^62 and ANSI long arithmetic cannot overflow):
    * fp := (fp·1000003 + code(tok)) mod P, an order-sensitive document
    * fingerprint. `t_fingerprint`. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val P = 2147483647L
    toksOf(Docs.docs(spark, dir))
      .select(col("doc_id"),
        aggregate(
          transform(col("toks"), t => (ascii(t) * lit(31L) + length(t)).cast("long")),
          lit(0L), (acc, c) => pmod(acc * lit(1000003L) + c, lit(P))).as("fingerprint"))
      .withColumn("bucket", pmod(col("fingerprint"), lit(1024L)))
      .orderBy(col("doc_id"))
  }

  /** Vocabulary statistics: the k most frequent tokens per language —
    * the corpus-wide aggregation a tokenizer-training run performs
    * before fitting merges. One map-side-combined groupBy on
    * (lang, token); the per-language top-k then goes through the native
    * two-phase [[graft.plans.TopKPerGroup]] heap operator when the
    * session has the strategy registered (bounded state, no per-group
    * sort), with the plain window formulation as the strategy-less
    * fallback — identical results, the (count desc, token) order is
    * total. `t_vocab_topk`. */
  def vocabTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val counts = Docs.docs(spark, dir)
      .select(col("lang"), explode(Docs.tokens).as("token"))
      .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("n"))
    graft.plans.TopKPerGroup.rankTopK(counts, Seq("lang"),
        Seq("n" -> true, "token" -> false), k)
      .select(col("lang"), col("token"), col("n"), col("rnk"))
      .orderBy(col("lang"), col("rnk"))
  }

  /** Boilerplate detection: the word n-grams shared by the MOST distinct
    * documents — repeated navigation chrome, license headers and
    * templates surface at the top, which is what a cleaning pass strips
    * before training. One map-side-combined groupBy on the gram (each
    * (doc, gram) is already distinct in [[Docs.gramTable]], so the count
    * IS the document frequency), then a global top-k on a total order.
    * `t_boilerplate`. */
  def boilerplate(spark: SparkSession, dir: String, k: Int = 25): DataFrame =
    Docs.gramTable(spark, dir)
      .groupBy(col("gram")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("gram"))
      .limit(k)

  /** Benchmark-contamination screen: for every corpus document, how much
    * of a (small, fixed) benchmark set's n-grams it contains. The
    * benchmark gram set is bounded by construction → broadcast; the
    * corpus side streams through one semi-join-shaped equi-join on the
    * gram key and aggregates per (document, benchmark doc) — never a
    * pair product. Output: (doc, benchmark doc) pairs whose overlap
    * ratio ≥ τ — exactly the report a decontamination pass acts on.
    * `d_contamination`. */
  def contamination(spark: SparkSession, dir: String,
                    nBench: Int = 10, minOverlap: Double = 0.5): DataFrame = {
    val grams = Docs.gramTable(spark, dir)
    val bench = grams.filter(col("doc_id") < nBench)
      .select(col("doc_id").as("bench_id"), col("gram"))
    val benchSizes = bench.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_bench_grams"))
    val overlap = grams.filter(col("doc_id") >= nBench)
      .join(broadcast(bench), Seq("gram"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
    val ratio = col("n_shared").cast("double") / col("n_bench_grams")
    overlap.join(broadcast(benchSizes), Seq("bench_id"))
      .filter(ratio >= minOverlap)
      .select(col("doc_id"), col("bench_id"), col("n_shared"),
        round(ratio, 4).as("overlap_ratio"))
      .orderBy(col("doc_id"), col("bench_id"))
  }

  /** Vocabulary-rarity quality signal: a document's mean corpus-wide
    * token frequency. Low = rare/misspelled/garbage vocabulary, high =
    * common-word prose — the cheap integer-only stand-in for an LM
    * perplexity filter (no floats until the single final division, so
    * cross-engine parity is unconditional). Two shuffles: the corpus
    * term-frequency aggregate, and the token-keyed join back (the vocab
    * table is unbounded at corpus scale, so it is NOT broadcast — AQE
    * may choose to at small SF). `t_rarity`. */
  def rarity(spark: SparkSession, dir: String): DataFrame = {
    val toks = Docs.docs(spark, dir)
      .select(col("doc_id"), explode(Docs.tokens).as("token"))
    val freq = toks.groupBy(col("token")).agg(count(lit(1)).as("tf"))
    toks.join(freq, Seq("token"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("tf")).as("freq_sum"))
      .select(col("doc_id"), col("n_tokens"), col("freq_sum"),
        round(col("freq_sum").cast("double") / col("n_tokens"), 4).as("avg_token_freq"))
      .orderBy(col("doc_id"))
  }

  /** Within-document repetition score (the Gopher-style quality rule:
    * heavily self-repeating documents are template/spam shaped): the
    * fraction of a document's word 3-grams that are repeats of an
    * earlier gram, plus the highest single-gram multiplicity. Counts
    * NON-distinct grams — [[Docs.gramTable]] deliberately dedups, so
    * this op builds the raw gram stream and aggregates twice ((doc,
    * gram) then doc), both map-side combined on the same key prefix.
    * All counts are integers; the one division is the final ratio.
    * Docs shorter than 3 tokens have no grams and drop out (mirrored in
    * the oracle). `t_repetition`. */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val gramsAll = Docs.docs(spark, dir)
      .select(col("doc_id"), Docs.tokens.as("toks"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(toks) >= 3 THEN
             transform(sequence(1, size(toks) - 2),
                       i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))
           ELSE array() END""")).as("gram"))
    gramsAll
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"),
        count(lit(1)).as("n_distinct_grams"),
        max(col("c")).as("max_gram_freq"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct_grams"),
        col("max_gram_freq"),
        round((col("n_grams") - col("n_distinct_grams")).cast("double") /
          col("n_grams"), 4).as("dup_gram_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Most DISTINCTIVE terms per document: the k tokens with the lowest
    * corpus-wide document frequency — the integer-exact stand-in for
    * per-doc TF-IDF keywords (df ordering is what IDF orders by; no
    * logs, so cross-engine parity is unconditional). Corpus df is one
    * map-side-combined aggregate over the distinct (doc, token) table;
    * the per-doc top-k runs through the native
    * [[graft.plans.TopKPerGroup]] heap operator (≤ k rows per doc per
    * partition shuffled, no per-group sort) — the vocabulary join is
    * token-keyed and SF-proportional, NOT broadcast.
    * `t_distinctive_terms`. */
  def distinctiveTerms(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val docToks = Docs.docs(spark, dir)
      .select(col("doc_id"), explode(array_distinct(Docs.tokens)).as("token"))
    val df = docToks.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val ranked = graft.plans.TopKPerGroup.rankTopK(
      docToks.join(df, Seq("token")),
      Seq("doc_id"), Seq("df" -> false, "token" -> false), k)
    ranked.select(col("doc_id"), col("token"), col("df"), col("rnk"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** Corpus length-distribution histogram: document token counts in
    * fixed 50-token buckets per language — the shape/coverage audit run
    * before setting sequence-length and packing parameters for a
    * training run. Integer floor-bucketing (`DIV`), one map-side-
    * combined aggregate; at 100 TB this is a scan-bound map + a
    * (lang × bucket)-keyed shuffle of a few hundred rows.
    * `t_token_histogram`. */
  def tokenHistogram(spark: SparkSession, dir: String, width: Int = 50): DataFrame =
    toksOf(Docs.docs(spark, dir))
      .select(col("lang"), size(col("toks")).cast("long").as("n"))
      .withColumn("bucket_start", expr(s"n DIV $width * $width"))
      .groupBy(col("lang"), col("bucket_start"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n")).as("min_tokens"),
        max(col("n")).as("max_tokens"))
      .orderBy(col("lang"), col("bucket_start"))

  /** BPE merge-pair statistics: corpus-wide counts of ADJACENT token
    * pairs, top-k — the statistic a BPE/WordPiece training step ranks to
    * pick its next merge ([[vocabTopK]] counts unigrams; [[boilerplate]]
    * counts distinct-per-doc grams — this op counts raw occurrences,
    * which is what merge selection needs). Narrow gram explosion +
    * one map-side-combined count + a global top-k on a total order.
    * `t_bpe_pairs`. */
  def bpePairs(spark: SparkSession, dir: String, k: Int = 25): DataFrame =
    toksOf(Docs.docs(spark, dir))
      .select(explode(expr(
        """CASE WHEN size(toks) >= 2 THEN
             transform(sequence(1, size(toks) - 1),
                       i -> concat_ws(' ', toks[i-1], toks[i]))
           ELSE array() END""")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)

  /** Merge rounds for [[bpeTrain]]. */
  val MergeCount = 8

  /** BPE merge TRAINER — the iterative loop [[bpePairs]] is one round
    * of: count adjacent token pairs corpus-wide, pick the most frequent
    * (freq desc, then (left, right) binary-lexicographic — a total
    * order both engines replay), MERGE every non-overlapping occurrence
    * left-to-right, repeat [[MergeCount]] rounds. Emits the merge table
    * (round, merge_left, merge_right, freq) a BPE tokenizer consumes.
    *
    * Spark-first shape: the corpus state between rounds is each doc's
    * token sequence rendered as ONE delimiter-wrapped string
    * `<t1><t2>…` — the round's merge is then a plain string
    * `replace("<l><r>" → "<l r>")`, a narrow codegen'd map whose
    * LEFT-TO-RIGHT NON-OVERLAPPING greed is identical in the JVM and
    * DuckDB (and `><` boundaries make cross-token false matches
    * impossible; tokens containing a delimiter are dropped up front —
    * none in this corpus — by the same filter in both engines). Each
    * round costs one pair-count aggregate (map-side combined; the
    * driver reads back exactly ONE row — the argmax — the bounded
    * scalar every iterative trainer reads per round) and one narrow
    * replace pass, checkpointed so round r never replays rounds 1..r-1.
    * Rounds stop early if no pair remains. The Lloyd-unroll pattern
    * makes the DuckDB oracle replay the identical rounds as a CTE
    * chain. `t_bpe_train`. */
  def bpeTrain(spark: SparkSession, dir: String, rounds: Int = MergeCount): DataFrame = {
    import spark.implicits._
    // LAZY iterate checkpoints: each round's argmax collect is a full
    // pass over the current corpus string anyway, so it doubles as the
    // materialization action for the (lazy) checkpoint — the
    // checkpointCounted fusion (Algorithms.scala) with the collect as
    // the probe. The former eager checkpoint paid a separate
    // materialization job per round; fusing halves the trainer's
    // action count (t_bpe_train/t_bpe_encode were round-TAX-bound:
    // 32 jobs for 2.5 s of task time at sf0.1). The predecessor is
    // released only AFTER the collect has pinned every partition of
    // its successor.
    var corpus = Docs.docs(spark, dir)
      .select(concat(lit("<"),
        array_join(filter(split(col("text"), " "),
          t => !t.contains("<") && !t.contains(">")), "><"),
        lit(">")).as("s"))
      .localCheckpoint(false)
    // BOUNDED-COLLECT SHORTCUT (the boruvkaMstLocal class of gate):
    // below [[Gates.bytes]] the whole merge-round stack —
    // 2 corpus-pass actions per round — runs in one driver loop over
    // the collected wrapped strings ([[bpeTrainLocal]] replays the
    // split / pair-count / (freq desc, l, r) argmax / left-to-right
    // non-overlapping replace semantics op for op, so the merge table
    // is identical by construction; TextSpec pins local ==
    // distributed). The byte probe materializes the corpus checkpoint
    // — the same full pass round 1's argmax would have paid.
    val bytes = corpus.agg(coalesce(sum(length(col("s"))), lit(0L)))
      .collect()(0).getLong(0)
    if (bytes <= Gates.bytes) {
      val rows = corpus.collect().map(_.getString(0))
      graft.graph.Algorithms.releaseIterate(corpus)
      return bpeTrainLocal(rows, rounds)
        .toDF("round", "merge_left", "merge_right", "freq")
        .orderBy(col("round"))
    }
    var prev: DataFrame = null
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = corpus
        .select(split(expr("substring(s, 2, length(s) - 2)"), "><").as("t"))
        .select(explode(expr(
          "transform(slice(t, 1, size(t) - 1), (x, i) -> named_struct('l', x, 'r', t[i + 1]))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("l"), col("r"))
        .limit(1).collect()
      // the collect materialized `corpus` in full (the pair aggregate
      // reads every partition); its predecessor is now superseded
      graft.graph.Algorithms.releaseIterate(prev)
      prev = corpus
      if (top.isEmpty || top(0).getLong(2) == 0L) exhausted = true
      else {
        val (l, rt, freq) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r.toLong, l, rt, freq))
        corpus = corpus
          .select(replace(col("s"), lit(s"<$l><$rt>"), lit(s"<$l $rt>")).as("s"))
          .localCheckpoint(false)
      }
      r += 1
    }
    graft.graph.Algorithms.releaseIterate(prev)
    // the merge table is driver-local — the final corpus iterate has
    // nothing left to serve; release it or every train call pins one
    // corpus-sized block set for the session
    graft.graph.Algorithms.releaseIterate(corpus)
    merges.toSeq.toDF("round", "merge_left", "merge_right", "freq")
      .orderBy(col("round"))
  }

  /** Driver-local twin of [[bpeTrain]]'s round loop (gated there).
    * Replays the distributed semantics operation for operation on the
    * collected wrapped strings: per round, tokens = the wrapped
    * string's interior split on `><` with trailing empties KEPT
    * (Spark/DuckDB `split` limit −1 — empty tokens from doubled
    * spaces are real tokens), pair counts = exact integer adjacent
    * counts, argmax = (freq desc, then l, r in unsigned UTF-8 byte
    * order — UTF8String/DuckDB binary collation, NOT Java UTF-16
    * `compareTo`), merge = the left-to-right non-overlapping scan the
    * string `replace("<l><r>" → "<l r>")` performs (the replacement's
    * interior can never seed a new match: tokens contain no `<`/`>`),
    * and the same exhaustion exit. */
  private def bpeTrainLocal(rows: Array[String], rounds: Int)
      : Seq[(Long, String, String, Long)] = {
    var docs: Array[Array[String]] = rows.map { s =>
      s.substring(1, s.length - 1).split("><", -1)
    }
    // unsigned UTF-8 byte order — the cross-engine string total order
    def utf8Lt(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val counts = new java.util.HashMap[(String, String), Long]()
      var d = 0
      while (d < docs.length) {
        val t = docs(d)
        var i = 0
        while (i < t.length - 1) {
          val k = (t(i), t(i + 1))
          // missing key unboxes to 0L (BoxesRunTime.unboxToLong(null))
          counts.put(k, counts.get(k) + 1L)
          i += 1
        }
        d += 1
      }
      if (counts.isEmpty) exhausted = true
      else {
        var bl: String = null; var br: String = null; var bf = 0L
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val (l, rt) = e.getKey
          val f = e.getValue
          if (bl == null || f > bf ||
            (f == bf && (utf8Lt(l, bl) ||
              (l == bl && utf8Lt(rt, br))))) {
            bl = l; br = rt; bf = f
          }
        }
        merges += ((r.toLong, bl, br, bf))
        docs = docs.map { t =>
          if (t.length < 2) t
          else {
            val out = new scala.collection.mutable.ArrayBuffer[String](t.length)
            var i = 0
            while (i < t.length) {
              if (i < t.length - 1 && t(i) == bl && t(i + 1) == br) {
                out += s"$bl $br"; i += 2
              } else { out += t(i); i += 1 }
            }
            out.toArray
          }
        }
      }
      r += 1
    }
    merges.toSeq
  }

  /** BPE ENCODER — [[bpeTrain]]'s merge table applied to every document:
    * the merge table (≤ [[MergeCount]] rows — it IS the trained model,
    * bounded by construction) is collected once and unrolled into a
    * chain of literal `replace`s over each doc's delimiter-wrapped
    * token string, in training order — the same greedy left-to-right
    * non-overlapping semantics as the trainer's corpus pass, now
    * per-document. Emits the per-doc whitespace-token count, the
    * post-merge BPE token count, and tokens-per-word (the compression
    * a tokenizer buys — the number a context-length planner feeds on).
    *
    * Scale shape: training cost is [[bpeTrain]]'s bounded loop; the
    * ENCODE itself is one narrow codegen'd map over the scan — zero
    * shuffles, the merge table rides in as string literals. At 100 TB
    * this is exactly how a trained tokenizer deploys: broadcast the
    * model, map the corpus. `t_bpe_encode`. */
  def bpeEncode(spark: SparkSession, dir: String,
                rounds: Int = MergeCount): DataFrame = {
    val merges = bpeTrain(spark, dir, rounds)
      .select(col("merge_left"), col("merge_right")).collect()
    val wrapped = Docs.docs(spark, dir)
      .select(col("doc_id"),
        filter(split(col("text"), " "),
          t => !t.contains("<") && !t.contains(">")).as("w"))
      .select(col("doc_id"), size(col("w")).cast("long").as("n_ws_tokens"),
        concat(lit("<"), array_join(col("w"), "><"), lit(">")).as("s"))
    val encoded = merges.foldLeft(wrapped) { (df, m) =>
      val (l, r) = (m.getString(0), m.getString(1))
      df.withColumn("s", replace(col("s"), lit(s"<$l><$r>"), lit(s"<$l $r>")))
    }
    val nBpe = size(split(expr("substring(s, 2, length(s) - 2)"), "><")).cast("long")
    encoded.select(col("doc_id"), col("n_ws_tokens"),
      when(col("n_ws_tokens") === 0, 0L).otherwise(nBpe).as("n_bpe_tokens"),
      when(col("n_ws_tokens") === 0, lit(null).cast("double"))
        .otherwise(round(nBpe.cast("double") / col("n_ws_tokens"), 6))
        .as("tokens_per_word"))
      .orderBy(col("doc_id"))
  }

  // ---- PII detection / redaction -------------------------------------

  /** PII patterns — deliberately restricted to regex constructs with
    * identical semantics in Java regex (Spark codegen) and RE2 (DuckDB):
    * character classes, bounded/unbounded greedy quantifiers, literal
    * escapes. No lookaround, no backreferences, no `\b` (RE2 and Java
    * agree on it, but the patterns don't need it). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val IpRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val PhoneRe = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"

  /** PII scan + redaction over any (doc_id, text) frame — the
    * compliance pass every crawl corpus runs before training: count
    * emails / IPv4s / phone-shaped spans, and replace them with typed
    * placeholder tags. Redaction order matters and is fixed (emails →
    * IPs → phones): an email's host or an IP could otherwise be
    * partially eaten by the looser phone pattern. Pure codegen'd
    * `regexp_extract_all` / `regexp_replace` column expressions — a
    * scan-bound narrow map at any corpus size. The redacted corpus is
    * the real product; the gate row carries its md5 + length rather
    * than re-emitting the text (narrow output at 100 TB). */
  private[graft] def piiScan(docs: DataFrame): DataFrame = {
    val clean = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        IpRe, "<IP>"),
      PhoneRe, "<PHONE>")
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(IpRe), lit(0)))
        .cast("long").as("n_ips"),
      size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0)))
        .cast("long").as("n_phones"),
      md5(clean).as("redacted_md5"),
      length(clean).cast("long").as("n_chars_redacted"))
  }

  /** [[piiScan]] on the corpus. The synthetic documents contain no PII
    * — every count is legitimately 0 and redacted_md5 = md5(text) —
    * which the oracle independently confirms; TextSpec drives the
    * match/redact semantics on planted emails/IPs/phones.
    * `t_pii_redact`. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame =
    piiScan(Docs.docs(spark, dir)).orderBy(col("doc_id"))

  /** Quantization scale for [[bigramLm]]'s per-bigram probability: the
    * conditional p = c(prev,cur)/c(prev·) is one correctly-rounded IEEE
    * division of two exact integers (bit-identical in both engines),
    * then frozen at 12 dp as a DECIMAL so the PER-DOC sum is exact and
    * order-independent — the repo-wide "no float sums across rows"
    * rule, without giving up a real probability model. */
  val BigramPScale = 12

  /** Self-trained bigram language-model score per document — the CCNet
    * / Gopher-style "how predictable is this text under a corpus LM"
    * quality signal (CCNet scores wiki-LM perplexity; here the LM is
    * the corpus itself, which flags template/spam text as
    * high-probability outliers and garbled text as low): per doc, the
    * mean conditional probability of its token bigrams,
    * p(cur|prev) = c(prev,cur) / c(prev,·), both counts from the whole
    * corpus. No logs — log-perplexity would sum transcendentals whose
    * cross-engine bit-equality is not guaranteed; the arithmetic mean
    * of [[BigramPScale]]-quantized conditionals carries the same
    * ordering signal with unconditional gate parity.
    *
    * Plan: one narrow bigram explode; the LM "training" is ONE
    * map-side-combined (prev,cur) aggregate (checkpointed — the model
    * table is distinct-bigram-bounded, NOT corpus-bounded) re-agged to
    * the prev margin; scoring re-joins the stream to the model on the
    * token keys — vocabulary-keyed shuffles that scale with corpus
    * content, deliberately NOT broadcast. Docs under 2 tokens have no
    * bigrams and drop out (mirrored in the oracle). `t_bigram_lm`. */
  /** The self-trained bigram model's per-occurrence conditional
    * probability stream (doc_id, q): bigrams exploded once
    * (checkpointed — the stream fans into the model build and the
    * scoring probe), counts aggregated into the model, every
    * occurrence scored with its [[BigramPScale]]-quantized
    * P(cur|prev). Shared by [[bigramLm]] (average quality score) and
    * [[pplFilter]] (negative-log-likelihood tertile cut). */
  private def bigramQ(spark: SparkSession, dir: String): DataFrame = {
    val bg = Docs.docs(spark, dir)
      .select(col("doc_id"), Docs.tokens.as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(toks) - 1),
                     i -> struct(toks[i-1] AS prev, toks[i] AS cur))"""))
        .as("bg"))
      .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
      .localCheckpoint(true)
    val cb = bg.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("cb"))
      .localCheckpoint(true) // the trained model; reused by margin + probe
    val cp = cb.groupBy(col("prev")).agg(sum(col("cb")).as("cp"))
    bg.join(cb, Seq("prev", "cur")).join(cp, Seq("prev"))
      .select(col("doc_id"),
        round(col("cb").cast("double") / col("cp").cast("double"), BigramPScale)
          .cast(s"decimal(${BigramPScale + 2},$BigramPScale)").as("q"))
  }

  def bigramLm(spark: SparkSession, dir: String): DataFrame = {
    bigramQ(spark, dir)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("qs"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("qs").cast("double") / col("n_bigrams"), 6).as("avg_bigram_p"))
      .orderBy(col("doc_id"))
  }

  /** Floor on a quantized conditional before its log: a true
    * P(cur|prev) below 0.5·10⁻¹² rounds to decimal 0 at corpus scale
    * (cp > 10¹² occurrences of one prev), and log(0) would poison the
    * document's whole score. Applied identically in the oracle. */
  val PplQFloor = 1e-12

  /** CCNet-style perplexity filter (Wenzek et al. 2020): score every
    * document by its per-bigram negative log-likelihood under the
    * self-trained model, then cut the corpus into head / middle / tail
    * TERTILES and keep head+middle — the corpus-relative "perplexity
    * buckets" gate that, unlike [[gopherRules]]' absolute thresholds,
    * adapts to whatever distribution the crawl has.
    *
    * Exactness: per-doc NLL folds log(q) over the SORTED per-doc q
    * list (the [[entropy]] ordered-fold contract — a groupBy SUM of
    * doubles is addition-order-nondeterministic, a sequential fold
    * over one sorted array is bit-reproducible in both engines),
    * rounded to 6 dp. Tertile boundaries are VALUE-based order
    * statistics (smallest score with cum·3 ≥ n, then ≥ 2n), computed
    * from a (score → count) histogram whose only unpartitioned window
    * runs over DISTINCT 6-dp scores — bounded far below corpus rows —
    * and broadcast back as two scalars; boundary ties share a bucket,
    * so no doc-id tiebreak enters the semantics. Documents too short
    * to score (< 2 tokens) surface as `unscored`, keep = false.
    * `d_ppl_filter`. */
  def pplFilter(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ln2 = math.log(2.0)
    val scored = bigramQ(spark, dir)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sort_array(collect_list(col("q"))).as("qs"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-aggregate(col("qs"), lit(0.0),
            (a, q) => a + log(greatest(q.cast("double"), lit(PplQFloor)))) /
          (col("n_bigrams") * lit(ln2)), 6).as("nll_bits"))
      .localCheckpoint(true) // fans into the histogram AND the verdict
    val n = scored.count()
    val cum = scored.groupBy(col("nll_bits")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.orderBy(col("nll_bits"))
          .rowsBetween(Window.unboundedPreceding, 0)))
    val cuts = cum.filter(col("cum") * 3 >= n)
      .agg(min(col("nll_bits")).as("t1"))
      .crossJoin(cum.filter(col("cum") * 3 >= 2 * n)
        .agg(min(col("nll_bits")).as("t2")))
    Docs.docs(spark, dir).select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left_outer")
      .crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("n_bigrams"), col("nll_bits"),
        when(col("nll_bits").isNull, "unscored")
          .when(col("nll_bits") <= col("t1"), "head")
          .when(col("nll_bits") <= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
      .withColumn("keep", col("bucket").isin("head", "middle"))
      .orderBy(col("doc_id"))
  }

  // ---- Gopher-style rule filter --------------------------------------

  /** Rule thresholds for [[gopherRules]] — the named per-document
    * heuristics of Gopher's quality pipeline (Rae et al. 2021,
    * "Scaling Language Models", table A1), with the word-count band
    * rescaled to the synthetic corpus' 10–99-token documents (the
    * paper's 50..100k band would pass everything; the RULES, not the
    * constants, are the operator). */
  val GopherMinTokens = 20L
  val GopherMaxTokens = 80L
  val GopherMinMeanWordLen = 3.0
  val GopherMaxMeanWordLen = 10.0
  val GopherMaxSymbolRatio = 0.1
  val GopherMinAlphaShare = 0.8
  val GopherMinStopHits = 2L

  /** Gopher-style rule-based quality filter — the industry-standard
    * NAMED-RULE gate (vs [[quality]]'s scalar score): each document
    * carries one boolean per rule — word-count band, mean-word-length
    * band, symbol-to-word ratio cap ('#'/'…' words), minimum share of
    * words containing an alphabetic character, and a ≥2-distinct-
    * stopwords floor — plus the all-rules `keep` verdict, so a curation
    * run can report WHICH rule rejected how much (the per-rule ablation
    * every data paper publishes), not just how much was rejected.
    *
    * Exactness: every ratio is a single division of two exact integers,
    * compared UNROUNDED (bit-identical cross-engine); the emitted copies
    * are round-4 display values. Plan: one narrow scan-bound map over
    * the token array, no shuffle, no UDFs — the final orderBy exists
    * only for the oracle dump. `t_gopher_rules`. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val enWords = Stopwords.head._2
    val mwl = col("sum_wlen").cast("double") / col("n_tokens")
    val symR = col("n_symbol").cast("double") / col("n_tokens")
    val alphaS = col("n_alpha").cast("double") / col("n_tokens")
    toksOf(Docs.docs(spark, dir))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        aggregate(transform(col("toks"), t => length(t).cast("long")),
          lit(0L), (acc, x) => acc + x).as("sum_wlen"),
        size(filter(col("toks"),
          t => t.contains("#") || t.contains("..."))).cast("long").as("n_symbol"),
        size(filter(col("toks"), t => t.rlike("[a-z]"))).cast("long").as("n_alpha"),
        size(filter(array_distinct(col("toks")),
          t => t.isin(enWords: _*))).cast("long").as("n_stop"))
      .select(col("doc_id"), col("n_tokens"),
        round(mwl, 4).as("mean_word_len"),
        round(symR, 4).as("symbol_ratio"),
        round(alphaS, 4).as("alpha_share"),
        col("n_stop"),
        (col("n_tokens") >= GopherMinTokens &&
          col("n_tokens") <= GopherMaxTokens).cast("int").as("pass_len"),
        (mwl >= GopherMinMeanWordLen &&
          mwl <= GopherMaxMeanWordLen).cast("int").as("pass_word_len"),
        (symR <= GopherMaxSymbolRatio).cast("int").as("pass_symbol"),
        (alphaS >= GopherMinAlphaShare).cast("int").as("pass_alpha"),
        (col("n_stop") >= GopherMinStopHits).cast("int").as("pass_stop"))
      .withColumn("keep",
        (col("pass_len") + col("pass_word_len") + col("pass_symbol") +
          col("pass_alpha") + col("pass_stop") === 5).cast("int"))
      .orderBy(col("doc_id"))
  }

  // ---- Zipf fit ------------------------------------------------------

  /** Vocabulary head size for [[zipfSlope]]'s least-squares fit. */
  val ZipfTopK = 256

  /** Zipf's-law fit over the corpus vocabulary — the one-row
    * "does this corpus look like natural language" diagnostic (natural
    * text shows log-frequency ≈ −1·log-rank; template-generated or
    * boilerplate-flooded corpora bend the head of the curve): ordinary
    * least squares of ln(freq) on ln(rank) over the [[ZipfTopK]] head.
    *
    * Scale shape: the vocabulary count is one map-side-combined
    * aggregate; the head extraction is a global top-k on the
    * (freq desc, token) total order — Spark's TakeOrdered partial
    * top-k, NEVER a full sort — and everything after runs on ≤ k rows.
    * Determinism: the four OLS sums fold over the head SORTED BY RANK
    * (the [[entropy]] sorted-fold idiom), so both engines accumulate
    * the same libm values in the same sequence; slope/intercept are
    * round-4, far above ulp noise. `t_zipf_slope`. */
  def zipfSlope(spark: SparkSession, dir: String, k: Int = ZipfTopK): DataFrame = {
    val head = Docs.docs(spark, dir)
      .select(explode(Docs.tokens).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)
    val fold = head
      .agg(count(lit(1)).as("k"),
        // ascending struct sort on (−n, token) = the (n desc, token)
        // rank order; the positional transform index is then the rank
        sort_array(collect_list(struct((-col("n")).as("neg"), col("token"),
          col("n")))).as("xs"))
      .select(col("k"),
        expr("transform(xs, (x, i) -> struct(CAST(i + 1 AS DOUBLE) AS r, CAST(x.n AS DOUBLE) AS f))").as("ps"))
    fold.select(col("k").as("n_points"),
      aggregate(transform(col("ps"), p => log(p.getField("r"))),
        lit(0.0), (a, x) => a + x).as("sx"),
      aggregate(transform(col("ps"), p => log(p.getField("f"))),
        lit(0.0), (a, x) => a + x).as("sy"),
      aggregate(transform(col("ps"),
        p => log(p.getField("r")) * log(p.getField("f"))),
        lit(0.0), (a, x) => a + x).as("sxy"),
      aggregate(transform(col("ps"),
        p => log(p.getField("r")) * log(p.getField("r"))),
        lit(0.0), (a, x) => a + x).as("sxx"))
      .select(col("n_points"),
        round((col("n_points") * col("sxy") - col("sx") * col("sy")) /
          (col("n_points") * col("sxx") - col("sx") * col("sx")), 4).as("slope"),
        round((col("sy") - ((col("n_points") * col("sxy") - col("sx") * col("sy")) /
          (col("n_points") * col("sxx") - col("sx") * col("sx"))) * col("sx")) /
          col("n_points"), 4).as("intercept"))
  }

  // ---- oracles -------------------------------------------------------

  private val ToksCte =
    """WITH t AS (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS toks
                  FROM documents)"""

  private def hitsSql(words: Seq[String]): String =
    s"CAST(len(list_filter(toks, w -> w IN (${words.map(w => s"'$w'").mkString(",")}))) AS BIGINT)"

  /** Mirror of [[Docs.gramTable]] (same CTE as Dedup's oracles). */
  private val GramCte =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       grams AS (
         SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, len(t) - 1),
                          i -> array_to_string(t[i:i+2], ' ')))) AS gram
         FROM toks)"""

  /** [[bpeTrain]] unrolled to `rounds` CTE steps (the Lloyd-unroll
    * pattern): per round, re-split the wrapped corpus, count adjacent
    * pairs, MATERIALIZE the (freq desc, l, r) argmax, and apply the
    * replace — identical left-to-right non-overlapping semantics in
    * both engines. */
  /** The trainer's corpus-state + argmax CTE chain (`s0`, then
    * `p_i/m_i/s_i` per round) — shared by the trainer oracle and the
    * encoder oracle, so the two replays cannot drift apart. */
  private def bpeChainCtes(rounds: Int): String = {
    val wrap =
      """s0 AS MATERIALIZED (
        SELECT '<' || array_to_string(list_filter(string_split(text, ' '),
          t -> NOT contains(t, '<') AND NOT contains(t, '>')), '><') || '>' AS s
        FROM documents)"""
    val steps = (1 to rounds).map { i =>
      s"""p$i AS (
           SELECT p[1] AS l, p[2] AS r, COUNT(*) AS freq FROM (
             SELECT unnest(list_transform(range(1, len(t)),
               j -> [t[j], t[j + 1]])) AS p
             FROM (SELECT string_split(s[2:-2], '><') AS t FROM s${i - 1}))
           GROUP BY 1, 2),
         m$i AS MATERIALIZED (
           SELECT l, r, freq FROM p$i ORDER BY freq DESC, l, r LIMIT 1),
         s$i AS MATERIALIZED (
           SELECT replace(s,
             '<' || (SELECT l FROM m$i) || '><' || (SELECT r FROM m$i) || '>',
             '<' || (SELECT l FROM m$i) || ' ' || (SELECT r FROM m$i) || '>') AS s
           FROM s${i - 1})"""
    }
    s"$wrap,\n${steps.mkString(",\n")}"
  }

  private def bpeTrainOracle(rounds: Int): String = {
    val out = (1 to rounds).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS round, l AS merge_left,
                 r AS merge_right, freq FROM m$i""").mkString(" UNION ALL ")
    s"WITH ${bpeChainCtes(rounds)}\n$out ORDER BY round"
  }

  /** [[bpeEncode]] replay: the trainer chain yields the merge table
    * (`m1..mN`); a parallel doc-keyed chain `e0..eN` applies the same
    * literal replaces per document, then counts `><`-separated pieces. */
  private def bpeEncodeOracle(rounds: Int): String = {
    val docChain = (1 to rounds).map { i =>
      s"""e$i AS (
           SELECT doc_id, n_ws_tokens, replace(s,
             '<' || (SELECT l FROM m$i) || '><' || (SELECT r FROM m$i) || '>',
             '<' || (SELECT l FROM m$i) || ' ' || (SELECT r FROM m$i) || '>') AS s
           FROM e${i - 1})"""
    }.mkString(",\n")
    val nBpe = "CAST(len(string_split(s[2:-2], '><')) AS BIGINT)"
    s"""WITH ${bpeChainCtes(rounds)},
       e0 AS (
         SELECT doc_id, CAST(len(w) AS BIGINT) AS n_ws_tokens,
                '<' || array_to_string(w, '><') || '>' AS s
         FROM (SELECT doc_id, list_filter(string_split(text, ' '),
                 t -> NOT contains(t, '<') AND NOT contains(t, '>')) AS w
               FROM documents)),
       $docChain
       SELECT doc_id, n_ws_tokens,
              CASE WHEN n_ws_tokens = 0 THEN CAST(0 AS BIGINT)
                   ELSE $nBpe END AS n_bpe_tokens,
              CASE WHEN n_ws_tokens = 0 THEN NULL
                   ELSE ROUND(CAST($nBpe AS DOUBLE) / n_ws_tokens, 6)
              END AS tokens_per_word
       FROM e$rounds ORDER BY doc_id"""
  }

  /** Per-source corpus drift: Jensen–Shannon divergence between each
    * source's unigram distribution P and the corpus distribution Q —
    * the mixture-audit a pretraining run does before setting sampling
    * weights (a source whose JSD is near ln 2 contributes vocabulary
    * the rest of the corpus never uses; near 0 it is redundant).
    *
    * Exactness: the naive JSD sums over the FULL corpus vocabulary for
    * every source (a vocab × sources blow-up). The absent-term part
    * collapses in closed form — for t ∉ source, m = q/2 so the term is
    * q/2·ln 2 — giving
    *   JSD = ln2/2 + Σ_{t ∈ source} [p·ln(p/m) + q·ln(q/m) − q·ln 2]/2
    * over PRESENT terms only: the plan stays two keyed counts + one
    * join on the term, nothing quadratic. The Σ fold runs over terms
    * SORTED BY TOKEN per source (the [[entropy]] ordered-fold
    * contract) so both engines replay the identical IEEE sequence.
    * Memory contract: one (tok, p, q) struct list per source —
    * vocabulary-sized, the same bound as the corpus-wide [[vocabTopK]]
    * aggregate's input. `t_source_divergence`. */
  def sourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val tf = toksOf(Docs.docs(spark, dir))
      .select(col("source"), explode(col("toks")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // feeds both the corpus margin and the join
    val corpus = tf.groupBy(col("tok")).agg(sum(col("c")).as("ct"))
    val totals = tf.groupBy(col("source")).agg(sum(col("c")).as("ns"),
      count(lit(1)).as("n_terms"))
    val n = corpus.agg(sum(col("ct")).as("n"))
    val terms = tf.join(corpus, Seq("tok"))
      .join(broadcast(totals), Seq("source"))
      .crossJoin(broadcast(n))
      .select(col("source"), col("n_terms"), col("ns"), col("tok"),
        (col("c").cast("double") / col("ns").cast("double")).as("p"),
        (col("ct").cast("double") / col("n").cast("double")).as("q"))
    val ln2 = log(lit(2.0))
    terms
      .groupBy(col("source"))
      .agg(first(col("n_terms")).as("n_terms"), first(col("ns")).as("n_tokens"),
        sort_array(collect_list(struct(col("tok"), col("p"), col("q")))).as("ts"))
      .select(col("source"), col("n_terms"), col("n_tokens"),
        round((ln2 + aggregate(col("ts"), lit(0.0), (acc, t) => {
          val p = t.getField("p"); val q = t.getField("q")
          val m = (p + q) / lit(2.0)
          acc + (p * log(p / m) + q * log(q / m) - q * ln2)
        }) ) / lit(2.0), 6).as("jsd"))
      .orderBy(col("source"))
  }

  /** Readability scoring — Flesch reading ease + Flesch–Kincaid grade
    * per document, the classic cheap quality gate (too-easy = template
    * spam, unreadable = OCR garbage). Sentences = runs of [.!?]
    * (floored at 1 — a fragment with no terminator is one sentence);
    * syllables = vowel-group runs per word, floored at 1 (the standard
    * heuristic). Everything is per-row codegen'd string/regexp work —
    * no shuffle at all until the final presentation sort; at 100 TB
    * this is a pure narrow map over the corpus scan. Both engines
    * evaluate the identical formula term order on integer counts, so
    * round-4 hash-matches. `t_readability`. */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    val nSents = greatest(lit(1L),
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("long"))
    toksOf(Docs.docs(spark, dir))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        nSents.as("n_sents"),
        aggregate(
          transform(col("toks"), w => greatest(lit(1L),
            size(regexp_extract_all(lower(w), lit("[aeiouy]+"), lit(0))).cast("long"))),
          lit(0L), (acc, x) => acc + x).as("n_syllables"))
      .select(col("doc_id"), col("n_words"), col("n_sents"), col("n_syllables"),
        round(lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sents").cast("double"))
          - lit(84.6) * (col("n_syllables").cast("double") / col("n_words").cast("double")),
          4).as("flesch_ease"),
        round(lit(0.39) * (col("n_words").cast("double") / col("n_sents").cast("double"))
          + lit(11.8) * (col("n_syllables").cast("double") / col("n_words").cast("double"))
          - lit(15.59), 4).as("fk_grade"))
      .orderBy(col("doc_id"))
  }

  val oracle: Map[String, String] = Map(
    "t_source_divergence" ->
      """WITH tf AS (
           SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
         cnt AS (SELECT source, tok, COUNT(*) AS c FROM tf GROUP BY 1, 2),
         corpus AS (SELECT tok, SUM(c) AS ct FROM cnt GROUP BY 1),
         totals AS (
           SELECT source, SUM(c) AS ns, COUNT(*) AS n_terms
           FROM cnt GROUP BY 1),
         nn AS (SELECT SUM(ct) AS n FROM corpus),
         terms AS (
           SELECT c.source, t.n_terms, t.ns, c.tok,
                  CAST(c.c AS DOUBLE) / CAST(t.ns AS DOUBLE) AS p,
                  CAST(co.ct AS DOUBLE) / CAST(nn.n AS DOUBLE) AS q
           FROM cnt c JOIN corpus co USING (tok)
           JOIN totals t USING (source) CROSS JOIN nn),
         lists AS (
           SELECT source, ANY_VALUE(n_terms) AS n_terms, ANY_VALUE(ns) AS ns,
                  list(struct_pack(tok := tok, p := p, q := q) ORDER BY tok) AS ts
           FROM terms GROUP BY source)
         SELECT source, CAST(n_terms AS BIGINT) AS n_terms,
                CAST(ns AS BIGINT) AS n_tokens,
                ROUND((LN(2) + list_reduce(
                  list_prepend(CAST(0 AS DOUBLE), list_transform(ts, t ->
                    t.p * LN(t.p / ((t.p + t.q) / 2))
                    + t.q * LN(t.q / ((t.p + t.q) / 2))
                    - t.q * LN(2))),
                  (acc, x) -> acc + x)) / 2, 6) AS jsd
         FROM lists ORDER BY source""",
    "t_readability" ->
      """WITH base AS (
           SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
         counts AS (
           SELECT doc_id,
                  CAST(len(toks) AS BIGINT) AS n_words,
                  GREATEST(CAST(1 AS BIGINT),
                    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
                    AS n_sents,
                  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(toks, w -> GREATEST(CAST(1 AS BIGINT),
                      CAST(len(regexp_extract_all(lower(w), '[aeiouy]+'))
                           AS BIGINT)))),
                    (acc, x) -> acc + x) AS BIGINT) AS n_syllables
           FROM base)
         SELECT doc_id, n_words, n_sents, n_syllables,
                ROUND(206.835
                      - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE))
                      - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)),
                      4) AS flesch_ease,
                ROUND(0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE))
                      + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
                      - 15.59, 4) AS fk_grade
         FROM counts ORDER BY doc_id""",
    "t_bigram_lm" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                        FROM documents WHERE len(string_split(text, ' ')) >= 2),
         bg AS (
           SELECT doc_id,
                  unnest(list_transform(range(1, len(t)),
                    i -> struct_pack(prev := t[i], cur := t[i + 1]))) AS b
           FROM toks),
         s AS (SELECT doc_id, b.prev AS prev, b.cur AS cur FROM bg),
         cb AS (SELECT prev, cur, COUNT(*) AS cb FROM s GROUP BY 1, 2),
         cp AS (SELECT prev, SUM(cb) AS cp FROM cb GROUP BY 1),
         scored AS (
           SELECT s.doc_id,
                  CAST(ROUND(CAST(cb.cb AS DOUBLE) / CAST(cp.cp AS DOUBLE),
                             $BigramPScale)
                       AS DECIMAL(${BigramPScale + 2},$BigramPScale)) AS q
           FROM s JOIN cb USING (prev, cur) JOIN cp USING (prev))
         SELECT doc_id, COUNT(*) AS n_bigrams,
                ROUND(CAST(SUM(q) AS DOUBLE) / COUNT(*), 6) AS avg_bigram_p
         FROM scored GROUP BY doc_id ORDER BY doc_id""",
    "d_ppl_filter" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                        FROM documents WHERE len(string_split(text, ' ')) >= 2),
         bg AS (
           SELECT doc_id,
                  unnest(list_transform(range(1, len(t)),
                    i -> struct_pack(prev := t[i], cur := t[i + 1]))) AS b
           FROM toks),
         s AS (SELECT doc_id, b.prev AS prev, b.cur AS cur FROM bg),
         cb AS (SELECT prev, cur, COUNT(*) AS cb FROM s GROUP BY 1, 2),
         cp AS (SELECT prev, SUM(cb) AS cp FROM cb GROUP BY 1),
         qq AS (
           SELECT s.doc_id,
                  CAST(ROUND(CAST(cb.cb AS DOUBLE) / CAST(cp.cp AS DOUBLE),
                             $BigramPScale)
                       AS DECIMAL(${BigramPScale + 2},$BigramPScale)) AS q
           FROM s JOIN cb USING (prev, cur) JOIN cp USING (prev)),
         sc AS (
           SELECT doc_id, COUNT(*) AS n_bigrams,
                  ROUND(-list_reduce(
                      list_prepend(CAST(0 AS DOUBLE), list_sort(list(q))),
                      (acc, x) -> acc +
                        LN(GREATEST(CAST(x AS DOUBLE), $PplQFloor)))
                    / (COUNT(*) * LN(CAST(2.0 AS DOUBLE))), 6) AS nll_bits
           FROM qq GROUP BY doc_id),
         nn AS (SELECT COUNT(*) AS n FROM sc),
         hist AS (SELECT nll_bits, COUNT(*) AS c FROM sc GROUP BY 1),
         cum AS (
           SELECT nll_bits, SUM(c) OVER (ORDER BY nll_bits
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM hist),
         cuts AS (
           SELECT (SELECT MIN(nll_bits) FROM cum, nn WHERE cum * 3 >= n) AS t1,
                  (SELECT MIN(nll_bits) FROM cum, nn WHERE cum * 3 >= 2 * n) AS t2)
         SELECT d.doc_id, sc.n_bigrams, sc.nll_bits,
                CASE WHEN sc.nll_bits IS NULL THEN 'unscored'
                     WHEN sc.nll_bits <= cuts.t1 THEN 'head'
                     WHEN sc.nll_bits <= cuts.t2 THEN 'middle'
                     ELSE 'tail' END AS bucket,
                (CASE WHEN sc.nll_bits IS NULL THEN 'unscored'
                      WHEN sc.nll_bits <= cuts.t1 THEN 'head'
                      WHEN sc.nll_bits <= cuts.t2 THEN 'middle'
                      ELSE 'tail' END) IN ('head', 'middle') AS keep
         FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
         CROSS JOIN cuts
         ORDER BY d.doc_id""",
    "t_bpe_train" -> bpeTrainOracle(MergeCount),
    "t_bpe_encode" -> bpeEncodeOracle(MergeCount),
    // the regex literals are shared constants: identical pattern text
    // reaches Java regex (Spark) and RE2 (DuckDB); 'g' makes DuckDB's
    // regexp_replace global like Spark's
    "t_pii_redact" ->
      s"""WITH red AS (
           SELECT doc_id,
                  regexp_replace(regexp_replace(regexp_replace(text,
                    '$EmailRe', '<EMAIL>', 'g'),
                    '$IpRe', '<IP>', 'g'),
                    '$PhoneRe', '<PHONE>', 'g') AS clean,
                  text
           FROM documents)
         SELECT doc_id,
                CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
                CAST(len(regexp_extract_all(text, '$IpRe')) AS BIGINT) AS n_ips,
                CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_phones,
                md5(clean) AS redacted_md5,
                CAST(length(clean) AS BIGINT) AS n_chars_redacted
         FROM red ORDER BY doc_id""",
    "t_boilerplate" ->
      s"""WITH $GramCte
         SELECT gram, COUNT(*) AS n_docs FROM grams
         GROUP BY gram ORDER BY n_docs DESC, gram LIMIT 25""",
    "d_contamination" ->
      s"""WITH $GramCte,
         b AS (SELECT doc_id AS bench_id, gram FROM grams WHERE doc_id < 10),
         bs AS (SELECT bench_id, COUNT(*) AS n_bench_grams FROM b GROUP BY bench_id),
         ov AS (
           SELECT g.doc_id, b.bench_id, COUNT(*) AS n_shared
           FROM grams g JOIN b USING (gram)
           WHERE g.doc_id >= 10 GROUP BY g.doc_id, b.bench_id)
         SELECT ov.doc_id, ov.bench_id, ov.n_shared,
                ROUND(CAST(ov.n_shared AS DOUBLE) / bs.n_bench_grams, 4) AS overlap_ratio
         FROM ov JOIN bs USING (bench_id)
         WHERE CAST(ov.n_shared AS DOUBLE) / bs.n_bench_grams >= 0.5
         ORDER BY doc_id, bench_id""",
    "t_bpe_pairs" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
         p AS (
           SELECT unnest(list_transform(range(1, len(t)),
                         i -> array_to_string(t[i:i+1], ' '))) AS pair
           FROM toks)
         SELECT pair, COUNT(*) AS n FROM p
         GROUP BY pair ORDER BY n DESC, pair LIMIT 25""",
    "t_token_histogram" ->
      """WITH n AS (
           SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
           FROM documents)
         SELECT lang, n // 50 * 50 AS bucket_start,
                COUNT(*) AS n_docs,
                MIN(n) AS min_tokens,
                MAX(n) AS max_tokens
         FROM n GROUP BY lang, n // 50 * 50
         ORDER BY lang, bucket_start""",
    "t_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         gr AS (
           SELECT doc_id, unnest(
             list_transform(range(1, len(t) - 1),
                            i -> array_to_string(t[i:i+2], ' '))) AS gram
           FROM toks),
         c AS (SELECT doc_id, gram, COUNT(*) AS c FROM gr GROUP BY doc_id, gram)
         SELECT doc_id,
                CAST(SUM(c) AS BIGINT) AS n_grams,
                COUNT(*) AS n_distinct_grams,
                CAST(MAX(c) AS BIGINT) AS max_gram_freq,
                ROUND(CAST(SUM(c) - COUNT(*) AS DOUBLE) / SUM(c), 4) AS dup_gram_ratio
         FROM c GROUP BY doc_id ORDER BY doc_id""",
    "t_distinctive_terms" ->
      """WITH tok AS (
           SELECT DISTINCT doc_id, token FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)),
         dfreq AS (SELECT token, COUNT(*) AS df FROM tok GROUP BY token),
         r AS (
           SELECT doc_id, token, df,
                  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY df, token) AS BIGINT) AS rnk
           FROM tok JOIN dfreq USING (token))
         SELECT doc_id, token, df, rnk FROM r WHERE rnk <= 3
         ORDER BY doc_id, rnk""",
    "t_rarity" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         freq AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY token)
         SELECT doc_id,
                CAST(COUNT(*) AS BIGINT) AS n_tokens,
                CAST(SUM(tf) AS BIGINT) AS freq_sum,
                ROUND(CAST(SUM(tf) AS DOUBLE) / COUNT(*), 4) AS avg_token_freq
         FROM tok JOIN freq USING (token)
         GROUP BY doc_id ORDER BY doc_id""",
    "t_vocab_topk" ->
      """WITH tok AS (
           SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
         c AS (SELECT lang, token, COUNT(*) AS n FROM tok GROUP BY lang, token),
         r AS (
           SELECT lang, token, n,
                  CAST(ROW_NUMBER() OVER (PARTITION BY lang
                       ORDER BY n DESC, token) AS BIGINT) AS rnk
           FROM c)
         SELECT lang, token, n, rnk FROM r WHERE rnk <= 5 ORDER BY lang, rnk""",
    "t_langid" -> {
      val hs = Stopwords.map { case (l, ws) => s"${hitsSql(ws)} AS ${l}_hits" }.mkString(",\n ")
      s"""$ToksCte,
         scored AS (SELECT doc_id, lang, $hs FROM t)
         SELECT doc_id, lang, en_hits, de_hits, es_hits, fr_hits, zh_hits,
           CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits AND en_hits >= zh_hits THEN 'en'
                WHEN de_hits >= es_hits AND de_hits >= fr_hits AND de_hits >= zh_hits THEN 'de'
                WHEN es_hits >= fr_hits AND es_hits >= zh_hits THEN 'es'
                WHEN fr_hits >= zh_hits THEN 'fr'
                ELSE 'zh' END AS pred_lang
         FROM scored ORDER BY doc_id"""
    },
    "t_lang_confusion" -> {
      val hs = Stopwords.map { case (l, ws) => s"${hitsSql(ws)} AS ${l}_hits" }.mkString(",\n ")
      s"""$ToksCte,
         scored AS (SELECT doc_id, lang, $hs FROM t),
         pred AS (
           SELECT lang AS declared,
             CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits AND en_hits >= zh_hits THEN 'en'
                  WHEN de_hits >= es_hits AND de_hits >= fr_hits AND de_hits >= zh_hits THEN 'de'
                  WHEN es_hits >= fr_hits AND es_hits >= zh_hits THEN 'es'
                  WHEN fr_hits >= zh_hits THEN 'fr'
                  ELSE 'zh' END AS pred_lang
           FROM scored),
         c AS (
           SELECT declared, pred_lang, COUNT(*) AS n_docs
           FROM pred GROUP BY 1, 2),
         m AS (SELECT declared, SUM(n_docs) AS n_declared FROM c GROUP BY 1)
         SELECT c.declared, c.pred_lang, CAST(c.n_docs AS BIGINT) AS n_docs,
                ROUND(CAST(c.n_docs AS DOUBLE) / CAST(m.n_declared AS DOUBLE), 4)
                  AS share,
                c.declared = c.pred_lang AS agree
         FROM c JOIN m USING (declared)
         ORDER BY declared, pred_lang"""
    },
    "d_span_mask" -> {
      val h = graft.Hashing.hexFoldSql(
        "CAST(doc_id AS VARCHAR) || '|' || CAST(span_id AS VARCHAR) || '|' || 'mask'")
      s"""$ToksCte,
         c AS (
           SELECT doc_id, toks, CAST(len(toks) // $SpanChunk AS BIGINT) AS n_chunks
           FROM t WHERE len(toks) // $SpanChunk > 0),
         s AS (
           SELECT doc_id, toks, unnest(range(0, n_chunks)) AS span_id FROM c),
         m AS (
           SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
                  CAST(span_id * $SpanChunk
                       + ($h % ${SpanChunk - SpanLen + 1}) AS BIGINT) AS start_tok,
                  toks
           FROM s)
         SELECT doc_id, span_id, start_tok,
                CAST($SpanLen AS BIGINT) AS span_len,
                array_to_string(toks[start_tok + 1 : start_tok + $SpanLen], ' ')
                  AS masked
         FROM m ORDER BY doc_id, span_id"""
    },
    "t_quality" ->
      s"""$ToksCte,
         counted AS (
           SELECT doc_id, n_chars,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
             ${hitsSql(Stopwords.head._2)} AS n_stop
           FROM t)
         SELECT doc_id, n_chars, n_tokens, n_types,
           ROUND(CAST(n_types AS DOUBLE) / n_tokens, 4) AS ttr,
           ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 4) AS stop_ratio,
           ROUND(CAST(n_chars AS DOUBLE) / n_tokens, 4) AS chars_per_token,
           ROUND(LEAST(1.0, CAST(n_tokens AS DOUBLE) / 400.0) *
                 (CAST(n_types AS DOUBLE) / n_tokens), 4) AS quality_score
         FROM counted ORDER BY doc_id""",
    "t_tokens" ->
      s"""$ToksCte
         SELECT doc_id, n_chars,
           CAST(len(toks) AS BIGINT) AS n_ws_tokens,
           CAST(list_sum(list_transform(toks,
                w -> CAST(ceil(len(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_subword_tokens
         FROM t ORDER BY doc_id""",
    "t_fertility" ->
      s"""$ToksCte,
         per AS (
           SELECT lang, n_chars,
             CAST(len(toks) AS BIGINT) AS ws,
             CAST(list_sum(list_transform(toks,
                  w -> CAST(ceil(len(w) / 4.0) AS BIGINT))) AS BIGINT) AS sub
           FROM t)
         SELECT lang, COUNT(*) AS n_docs,
                CAST(SUM(ws) AS BIGINT) AS n_ws_tokens,
                CAST(SUM(sub) AS BIGINT) AS n_subword_tokens,
                CAST(SUM(n_chars) AS BIGINT) AS n_chars,
                ROUND(CAST(SUM(sub) AS DOUBLE) / CAST(SUM(ws) AS DOUBLE), 6)
                  AS fertility,
                ROUND(CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(sub) AS DOUBLE), 6)
                  AS chars_per_subword
         FROM per GROUP BY lang ORDER BY lang""",
    "t_ttr" ->
      s"""$ToksCte,
         tf AS (
           SELECT doc_id, tok, COUNT(*) AS c
           FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
           GROUP BY doc_id, tok)
         SELECT doc_id,
                CAST(SUM(c) AS BIGINT) AS n_tokens,
                COUNT(*) AS n_types,
                CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
                ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS ttr,
                ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
                      CAST(COUNT(*) AS DOUBLE), 6) AS hapax_share
         FROM tf GROUP BY doc_id ORDER BY doc_id""",
    "t_entropy" ->
      """WITH chars AS (
           SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
           FROM documents),
         cnt AS (
           SELECT doc_id, ch, COUNT(*) AS c FROM chars
           WHERE length(ch) > 0 GROUP BY doc_id, ch),
         lists AS (
           SELECT doc_id, SUM(c) AS n, COUNT(*) AS k,
                  list(c ORDER BY ch) AS cs
           FROM cnt GROUP BY doc_id),
         folded AS (
           SELECT doc_id, n, k,
             list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                 list_transform(cs, c -> CAST(c AS DOUBLE))),
               (acc, c) -> acc + c * LN(c)) AS s
           FROM lists)
         SELECT doc_id, CAST(n AS BIGINT) AS n_chars_used,
                CAST(k AS BIGINT) AS n_distinct_chars,
                ROUND((LN(CAST(n AS DOUBLE)) - s / CAST(n AS DOUBLE))
                      / LN(CAST(2.0 AS DOUBLE)), 6) AS entropy_bits
         FROM folded ORDER BY doc_id""",
    "t_fingerprint" ->
      s"""$ToksCte,
         fp AS (
           SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(toks, w -> CAST(ascii(w)*31 + len(w) AS BIGINT))),
               (acc, c) -> (acc * 1000003 + c) % 2147483647) AS fingerprint
           FROM t)
         SELECT doc_id, fingerprint, fingerprint % 1024 AS bucket
         FROM fp ORDER BY doc_id""",
    "t_gopher_rules" -> {
      val stopList = Stopwords.head._2.map(w => s"'$w'").mkString(",")
      s"""$ToksCte,
         r AS (
           SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(list_sum(list_transform(toks, w -> len(w))) AS BIGINT)
               AS sum_wlen,
             CAST(len(list_filter(toks,
               w -> contains(w, '#') OR contains(w, '...'))) AS BIGINT)
               AS n_symbol,
             CAST(len(list_filter(toks,
               w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha,
             CAST(len(list_filter(list_distinct(toks),
               w -> w IN ($stopList))) AS BIGINT) AS n_stop
           FROM t),
         f AS (
           SELECT doc_id, n_tokens,
             ROUND(CAST(sum_wlen AS DOUBLE) / n_tokens, 4) AS mean_word_len,
             ROUND(CAST(n_symbol AS DOUBLE) / n_tokens, 4) AS symbol_ratio,
             ROUND(CAST(n_alpha AS DOUBLE) / n_tokens, 4) AS alpha_share,
             n_stop,
             CAST(n_tokens BETWEEN $GopherMinTokens AND $GopherMaxTokens
                  AS INTEGER) AS pass_len,
             CAST(CAST(sum_wlen AS DOUBLE) / n_tokens
                  BETWEEN $GopherMinMeanWordLen AND $GopherMaxMeanWordLen
                  AS INTEGER) AS pass_word_len,
             CAST(CAST(n_symbol AS DOUBLE) / n_tokens <= $GopherMaxSymbolRatio
                  AS INTEGER) AS pass_symbol,
             CAST(CAST(n_alpha AS DOUBLE) / n_tokens >= $GopherMinAlphaShare
                  AS INTEGER) AS pass_alpha,
             CAST(n_stop >= $GopherMinStopHits AS INTEGER) AS pass_stop
           FROM r)
         SELECT *, CAST(pass_len + pass_word_len + pass_symbol + pass_alpha
                        + pass_stop = 5 AS INTEGER) AS keep
         FROM f ORDER BY doc_id"""
    },
    "t_zipf_slope" ->
      s"""WITH tok AS (
           SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         c AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token),
         top AS (SELECT token, n FROM c ORDER BY n DESC, token LIMIT $ZipfTopK),
         l AS (SELECT COUNT(*) AS k,
                 list(struct_pack(r := CAST(rnk AS DOUBLE),
                                  f := CAST(n AS DOUBLE)) ORDER BY rnk) AS ps
               FROM (SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, token)
                              AS rnk
                     FROM top)),
         s AS (SELECT k,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(ps, p -> ln(p.r))), (a, b) -> a + b) AS sx,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(ps, p -> ln(p.f))), (a, b) -> a + b) AS sy,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(ps, p -> ln(p.r) * ln(p.f))), (a, b) -> a + b)
             AS sxy,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(ps, p -> ln(p.r) * ln(p.r))), (a, b) -> a + b)
             AS sxx
           FROM l)
         SELECT CAST(k AS BIGINT) AS n_points,
                ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 4) AS slope,
                ROUND((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx)
                      / k, 4) AS intercept
         FROM s""",
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t_langid"      -> (langId _),
    "t_quality"     -> (quality _),
    "t_tokens"      -> (tokens _),
    "t_fertility"   -> (fertility _),
    "t_fingerprint" -> (fingerprint _),
    "t_entropy"     -> (entropy _),
    "t_vocab_topk"  -> ((s: SparkSession, d: String) => vocabTopK(s, d)),
    "t_boilerplate" -> ((s: SparkSession, d: String) => boilerplate(s, d)),
    "d_contamination" -> ((s: SparkSession, d: String) => contamination(s, d)),
    "t_rarity"      -> (rarity _),
    "t_repetition"  -> (repetition _),
    "t_distinctive_terms" -> ((s: SparkSession, d: String) => distinctiveTerms(s, d)),
    "t_token_histogram" -> ((s: SparkSession, d: String) => tokenHistogram(s, d)),
    "t_bpe_pairs"   -> ((s: SparkSession, d: String) => bpePairs(s, d)),
    "t_bpe_train"   -> ((s: SparkSession, d: String) => bpeTrain(s, d)),
    "t_bpe_encode"  -> ((s: SparkSession, d: String) => bpeEncode(s, d)),
    "t_ttr"         -> (typeTokenRatio _),
    "t_pii_redact"  -> (piiRedact _),
    "t_bigram_lm"   -> (bigramLm _),
    "d_ppl_filter"  -> (pplFilter _),
    "t_gopher_rules" -> (gopherRules _),
    "t_zipf_slope"  -> ((s: SparkSession, d: String) => zipfSlope(s, d)),
    "t_source_divergence" -> (sourceDivergence _),
    "t_readability" -> (readability _),
    "t_lang_confusion" -> (langConfusion _),
    "d_span_mask"   -> (spanMask _),
  )
}
