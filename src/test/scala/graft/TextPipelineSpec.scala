package graft

import graft.pipeline.Text

class TextPipelineSpec extends SparkSpec {

  private lazy val dir = TestSession.docsFixture(Seq(
    (0L, "the cat and the dog of a house is big", "en", "s", 37L),
    (1L, "der hund und die katze ist ein tier", "de", "s", 35L),
    (2L, "le chat et la maison est une idée les amis", "fr", "s", 42L),
    (3L, "word word word", "xx", "s", 14L)))

  test("character entropy: zero for uniform text, hand-computed for known mixes") {
    val d = TestSession.docsFixture(Seq(
      (0L, "aaaa", "en", "s", 4L),      // one symbol → 0 bits
      (1L, "abcab", "en", "s", 5L),     // 2/5,2/5,1/5 → 1.521928 bits
      (2L, "abcdefgh", "en", "s", 8L))) // 8 uniform symbols → exactly 3 bits
    val r = rowsOf(Text.entropy(spark, d))
      .map(row => row.getLong(0) ->
        (row.getLong(1), row.getLong(2), row.getDouble(3))).toMap
    assert(r(0L) == ((4L, 1L, 0.0)))
    assert(r(1L) == ((5L, 3L, 1.521928)))
    assert(r(2L) == ((8L, 8L, 3.0)))
  }

  test("language ID picks the language whose stopwords dominate") {
    val pred = rowsOf(Text.langId(spark, dir))
      .map(r => r.getLong(0) -> r.getString(r.fieldIndex("pred_lang"))).toMap
    assert(pred(0L) == "en")
    assert(pred(1L) == "de")
    assert(pred(2L) == "fr")
    assert(pred(3L) == "en", "no stopword hits ⇒ tie broken toward en")
  }

  test("quality metrics: counts, ratios and score bounds") {
    val r = rowsOf(Text.quality(spark, dir)).map(r => r.getLong(0) -> r).toMap
    val doc0 = r(0L)
    assert(doc0.getLong(doc0.fieldIndex("n_tokens")) == 10)
    assert(doc0.getLong(doc0.fieldIndex("n_types")) == 9, "'the' repeats")
    val rep = r(3L)
    assert(rep.getDouble(rep.fieldIndex("ttr")) < doc0.getDouble(doc0.fieldIndex("ttr")),
      "pure repetition scores a lower type-token ratio")
    r.values.foreach { row =>
      val q = row.getDouble(row.fieldIndex("quality_score"))
      assert(q >= 0.0 && q <= 1.0)
    }
  }

  test("token counting: whitespace and ceil(len/4) subword estimates") {
    val r = rowsOf(Text.tokens(spark, dir)).map(r => r.getLong(0) -> r).toMap
    val doc3 = r(3L) // "word word word": 3 tokens of length 4 ⇒ 3 subwords
    assert(doc3.getLong(doc3.fieldIndex("n_ws_tokens")) == 3)
    assert(doc3.getLong(doc3.fieldIndex("n_subword_tokens")) == 3)
    val doc1 = r(1L) // lens 3,4,3,3,5,3,3,4 ⇒ ceil/4 = 1,1,1,1,2,1,1,1 = 9
    assert(doc1.getLong(doc1.fieldIndex("n_subword_tokens")) == 9)
  }

  test("type-token ratio: exact counts on hand-checkable docs") {
    val r = rowsOf(Text.typeTokenRatio(spark, dir)).map(x => x.getLong(0) -> x).toMap
    // doc 3 "word word word": 3 tokens, 1 type, 0 hapax
    val d3 = r(3L)
    assert(d3.getLong(1) == 3L && d3.getLong(2) == 1L && d3.getLong(3) == 0L)
    assert(d3.getDouble(4) == math.rint(1.0 / 3.0 * 1e6) / 1e6 && d3.getDouble(5) == 0.0)
    // doc 0 "the cat and the dog of a house is big": 10 tokens, 9 types
    // (only "the" repeats), 8 hapax
    val d0 = r(0L)
    assert(d0.getLong(1) == 10L && d0.getLong(2) == 9L && d0.getLong(3) == 8L)
    r.values.foreach { row =>
      assert(row.getDouble(4) > 0.0 && row.getDouble(4) <= 1.0)
      assert(row.getDouble(5) >= 0.0 && row.getDouble(5) <= 1.0)
    }
  }

  test("vocab top-k ranks the most frequent tokens per language, tie-broken lexically") {
    val r = rowsOf(Text.vocabTopK(spark, dir, k = 2))
    val en = r.filter(_.getString(0) == "en").sortBy(_.getLong(3))
    assert(en.map(_.getString(1)) == Seq("the", "a"),
      "'the' appears twice; ties at 1 resolve to the lexically-first token")
    r.groupBy(_.getString(0)).values.foreach { rs =>
      assert(rs.map(_.getLong(3)).sorted == (1L to rs.size.toLong))
      assert(rs.size <= 2)
    }
  }

  test("boilerplate surfaces the gram shared by the most documents") {
    val d = TestSession.docsFixture(Seq(
      (0L, "all rights reserved header one", "en", "s", 30L),
      (1L, "all rights reserved header two", "en", "s", 30L),
      (2L, "all rights reserved other text", "en", "s", 30L),
      (3L, "completely unrelated content here", "en", "s", 33L)))
    val top = rowsOf(Text.boilerplate(spark, d))
    assert(top.head.getString(0) == "all rights reserved" &&
      top.head.getLong(1) == 3L, s"got ${top.head}")
  }

  test("contamination screen flags the doc that copies a benchmark doc") {
    // doc 0 is 'benchmark'; doc 10 copies most of it, doc 11 is clean
    val d = TestSession.docsFixture(Seq(
      (0L, "the quick brown fox jumps over the lazy dog today", "en", "s", 49L),
      (10L, "intro the quick brown fox jumps over the lazy dog", "en", "s", 49L),
      (11L, "nothing in common with anything benchmark related at all", "en", "s", 56L)))
    val hits = rowsOf(Text.contamination(spark, d))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((10L, 0L)), s"only the copying doc is flagged, got $hits")
    val ratio = rowsOf(Text.contamination(spark, d)).head
    assert(ratio.getDouble(ratio.fieldIndex("overlap_ratio")) > 0.5)
  }

  test("stratified sample mix is reproducible and honours per-language rates") {
    val once = rowsOf(pipeline.Dedup.sampleMix(spark, SF)).map(_.getLong(0))
    val again = rowsOf(pipeline.Dedup.sampleMix(spark, SF)).map(_.getLong(0))
    assert(once == again, "content-hash gating must be reproducible")
    assert(once.nonEmpty)
    val byLang = rowsOf(pipeline.Dedup.sampleMix(spark, SF)).groupBy(_.getString(1))
    val total = rowsOf(Tables.documents(spark, SF).groupBy("lang").count())
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // en keeps everything; zh keeps roughly a quarter (hash-binomial)
    assert(byLang("en").size == total("en"), "rate 100 keeps every en doc")
    val zhRate = byLang.get("zh").map(_.size).getOrElse(0).toDouble / total("zh")
    assert(zhRate > 0.05 && zhRate < 0.5, s"zh keep rate ~0.25, got $zhRate")
    rowsOf(pipeline.Dedup.sampleMix(spark, SF)).foreach { r =>
      assert(r.getLong(r.fieldIndex("mix_bucket")) <
        r.getLong(r.fieldIndex("keep_rate")))
    }
  }

  test("rarity score averages corpus token frequencies exactly") {
    val d = TestSession.docsFixture(Seq(
      (0L, "common common common", "en", "s", 19L),
      (1L, "common rareword", "en", "s", 15L)))
    // corpus tf: common=4, rareword=1
    val r = rowsOf(Text.rarity(spark, d)).map(x => x.getLong(0) -> x).toMap
    assert(r(0L).getDouble(r(0L).fieldIndex("avg_token_freq")) == 4.0)
    assert(r(1L).getDouble(r(1L).fieldIndex("avg_token_freq")) == 2.5,
      "(4 + 1) / 2 tokens")
  }

  test("bigram LM: mean conditional probability on hand-counted bigrams") {
    val r = rowsOf(Text.bigramLm(spark, dir)).map(x => x.getLong(0) -> x).toMap
    // doc 3 "word word word": both bigrams are (word,word), the only
    // continuation of "word" ⇒ p = 1 for each, mean 1.0
    assert(r(3L).getLong(1) == 2)
    assert(r(3L).getDouble(2) == 1.0)
    // doc 0: "the" continues two ways (cat, dog) ⇒ those two bigrams
    // score 1/2; the other 7 prevs are unambiguous ⇒ (7 + 2·0.5)/9
    assert(r(0L).getLong(1) == 9)
    assert(math.abs(r(0L).getDouble(2) - 8.0 / 9) < 1e-6)
    // single-token / empty docs drop out, all probabilities in (0, 1]
    r.values.foreach { row =>
      val p = row.getDouble(2)
      assert(p > 0.0 && p <= 1.0, s"p out of range: $p")
    }
  }

  test("perplexity filter: NLL ranks the self-repeating doc head, tertiles partition, short docs unscored") {
    val fx = TestSession.docsFixture(Seq(
      (0L, "the cat and the dog of a house is big", "en", "s", 37L),
      (1L, "der hund und die katze ist ein tier", "de", "s", 35L),
      (2L, "le chat et la maison est une idée les amis", "fr", "s", 42L),
      (3L, "word word word", "xx", "s", 14L),
      (4L, "solo", "xx", "s", 4L)))
    val r = rowsOf(Text.pplFilter(spark, fx)).map(x => x.getLong(0) -> x).toMap
    assert(r.keySet == Set(0L, 1L, 2L, 3L, 4L), "every document gets a verdict")
    // doc 3: every bigram has p=1 => NLL exactly 0, the global minimum
    // => head bucket, kept
    assert(r(3L).getDouble(2) == 0.0)
    assert(r(3L).getString(3) == "head" && r(3L).getBoolean(4))
    // doc 4 is a single token: no bigrams => unscored, dropped
    assert(r(4L).isNullAt(2) && r(4L).getString(3) == "unscored" && !r(4L).getBoolean(4))
    // value-based tertiles over the 4 scored docs: every bucket named,
    // scored docs' nll non-negative, and the tail holds the max NLL
    val scored = Seq(0L, 1L, 2L, 3L).map(r)
    scored.foreach(x => assert(x.getDouble(2) >= 0.0))
    val maxDoc = scored.maxBy(_.getDouble(2))
    assert(maxDoc.getString(3) == "tail" && !maxDoc.getBoolean(4))
    // verdict agrees with a driver-side replay of the value tertiles
    val nlls = scored.map(_.getDouble(2)).sorted
    val n = nlls.size
    val t1 = nlls(math.ceil(n / 3.0).toInt - 1)
    val t2 = nlls(math.ceil(2 * n / 3.0).toInt - 1)
    scored.foreach { x =>
      val want = if (x.getDouble(2) <= t1) "head"
        else if (x.getDouble(2) <= t2) "middle" else "tail"
      assert(x.getString(3) == want, s"doc ${x.getLong(0)}")
    }
  }

  test("repetition score counts repeated 3-grams exactly on a planted template") {
    val d = TestSession.docsFixture(Seq(
      (0L, "a b c a b c a b c", "en", "s", 17L), // 7 grams, 3 distinct
      (1L, "one two three four five", "en", "s", 23L), // 3 grams, all distinct
      (2L, "xx yy", "en", "s", 5L))) // < 3 tokens → no grams, drops out
    val r = rowsOf(Text.repetition(spark, d)).map(x => x.getLong(0) -> x).toMap
    assert(r.keySet == Set(0L, 1L), "short doc has no grams")
    assert(r(0L).getLong(r(0L).fieldIndex("n_grams")) == 7L)
    assert(r(0L).getLong(r(0L).fieldIndex("n_distinct_grams")) == 3L)
    assert(r(0L).getLong(r(0L).fieldIndex("max_gram_freq")) == 3L)
    assert(r(0L).getDouble(r(0L).fieldIndex("dup_gram_ratio")) == 0.5714)
    assert(r(1L).getDouble(r(1L).fieldIndex("dup_gram_ratio")) == 0.0)
    assert(r(1L).getLong(r(1L).fieldIndex("max_gram_freq")) == 1L)
  }

  test("distinctive terms rank each doc's rarest corpus tokens first") {
    val d = TestSession.docsFixture(Seq(
      (0L, "shared shared unique0", "en", "s", 20L),
      (1L, "shared unique1 other", "en", "s", 19L),
      (2L, "shared other", "en", "s", 12L)))
    // corpus df: shared=3, other=2, unique0=1, unique1=1
    val r = rowsOf(Text.distinctiveTerms(spark, d, k = 2))
    val byDoc = r.groupBy(_.getLong(0))
    assert(byDoc(0L).map(x => (x.getString(1), x.getLong(2))).toList ==
      List(("unique0", 1L), ("shared", 3L)), "doc 0: unique token outranks shared")
    assert(byDoc(1L).map(_.getString(1)).toList == List("unique1", "other"))
    byDoc.values.foreach { rows =>
      assert(rows.map(_.getLong(rows.head.fieldIndex("rnk"))).sorted ==
        (1L to rows.size.toLong), "rnk is 1..k per doc")
      val dfs = rows.sortBy(_.getLong(rows.head.fieldIndex("rnk")))
        .map(_.getLong(rows.head.fieldIndex("df")))
      assert(dfs == dfs.sorted, "df non-decreasing down the ranking")
    }
  }

  test("token histogram buckets partition the corpus and bound their members") {
    val r = rowsOf(Text.tokenHistogram(spark, SF))
    assert(r.nonEmpty)
    assert(r.map(_.getLong(r.head.fieldIndex("n_docs"))).sum ==
      Tables.documents(spark, SF).count(), "every doc lands in one bucket")
    r.foreach { row =>
      val b = row.getLong(1)
      assert(b % 50 == 0, "bucket starts on the 50-token grid")
      val lo = row.getLong(row.fieldIndex("min_tokens"))
      val hi = row.getLong(row.fieldIndex("max_tokens"))
      assert(lo >= b && hi < b + 50 && lo <= hi, s"members inside [$b, ${b + 50})")
    }
  }

  test("BPE pair counts tally raw adjacent occurrences, not per-doc distinct") {
    val d = TestSession.docsFixture(Seq(
      (0L, "a b a b a b", "en", "s", 11L), // pairs: (a b)x3, (b a)x2
      (1L, "a b c", "en", "s", 5L),        // (a b)x1, (b c)x1
      (2L, "x", "en", "s", 1L)))           // single token → no pairs
    val r = rowsOf(Text.bpePairs(spark, d))
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    assert(r == Map("a b" -> 4L, "b a" -> 2L, "b c" -> 1L),
      s"raw occurrence counts across the corpus, got $r")
  }

  test("BPE trainer replays known merges: greedy non-overlapping, lexicographic ties, merged tokens re-pair") {
    val d = TestSession.docsFixture(Seq(
      (0L, "a a a a", "en", "s", 7L),
      (1L, "a a b b", "en", "s", 7L)))
    val r = rowsOf(Text.bpeTrain(spark, d, rounds = 3))
      .map(row => (row.getLong(0), row.getString(1), row.getString(2), row.getLong(3)))
    // r1: (a,a) freq 4 (OVERLAPPING count: doc0 has 3, doc1 has 1);
    //     greedy non-overlapping merge -> doc0 = [a a, a a], doc1 = [a a, b, b]
    // r2: all pairs freq 1; lexicographic tiebreak picks ('a a','a a')
    //     -> doc0 = [a a a a]
    // r3: remaining pairs ('a a','b') and ('b','b') -> lex min ('a a','b')
    assert(r == Seq(
      (1L, "a", "a", 4L),
      (2L, "a a", "a a", 1L),
      (3L, "a a", "b", 1L)),
      s"merge table must replay the hand-computed rounds, got $r")
  }

  test("BPE trainer: gated local rounds equal the distributed loop") {
    // random corpus with repeated bigrams, doubled spaces (empty
    // tokens), dropped <>-tokens and ties; the merge TABLE (round,
    // left, right, freq) must match row for row
    val rng = new scala.util.Random(31)
    val words = Vector("a", "b", "ab", "ba", "c", "", "zz")
    val docs = (0L until 40L).map { i =>
      val n = 1 + rng.nextInt(12)
      val t = (0 until n).map(_ => words(rng.nextInt(words.length)))
        .mkString(" ") + (if (i % 7 == 0) " <bad> ok" else "")
      (i, t, "en", "s", n.toLong)
    }
    val d = TestSession.docsFixture(docs)
    def tbl(df: org.apache.spark.sql.DataFrame) = rowsOf(df)
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val loc = tbl(Text.bpeTrain(spark, d, rounds = 5))
    val dist = Gates.within(bytes = -1L)(tbl(Text.bpeTrain(spark, d, rounds = 5)))
    assert(loc == dist, s"gated local merges must equal distributed:\n$loc\n$dist")
  }

  test("BPE encode applies the trained merges per doc: hand-computed token counts") {
    val d = TestSession.docsFixture(Seq(
      (0L, "a a a a", "en", "s", 7L),
      (1L, "a a b b", "en", "s", 7L)))
    // merges (see trainer spec): r1 (a,a), r2 (a a,a a), r3 (a a,b)
    // doc0: <a><a><a><a> -> <a a><a a> -> <a a a a>           = 1 token
    // doc1: <a><a><b><b> -> <a a><b><b> -> ... -> <a a b><b>  = 2 tokens
    val r = rowsOf(Text.bpeEncode(spark, d, rounds = 3))
      .map(row => (row.getLong(0), row.getLong(1), row.getLong(2), row.getDouble(3)))
    assert(r == Seq((0L, 4L, 1L, 0.25), (1L, 4L, 2L, 0.5)),
      s"encode must replay the trained merges per document, got $r")
  }

  test("rolling fingerprint is order-sensitive and deterministic") {
    val swapped = TestSession.docsFixture(Seq(
      (0L, "alpha beta gamma", "en", "s", 16L),
      (1L, "gamma beta alpha", "en", "s", 16L),
      (2L, "alpha beta gamma", "en", "s", 16L)))
    val fp = rowsOf(Text.fingerprint(spark, swapped))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(0L) == fp(2L), "same text ⇒ same fingerprint")
    assert(fp(0L) != fp(1L), "rolling hash is order-sensitive")
    val P = 2147483647L
    fp.values.foreach(v => assert(v >= 0 && v < P))
  }

  test("piiScan counts and redacts planted emails, IPs and phones; clean text untouched") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{md5, lit}
    val docs = Seq(
      (0L, "contact john.doe@example.com or jane@sub.example.org today"),
      (1L, "server 192.168.0.1 and 10.0.0.255 up"),
      (2L, "call +1 (555) 123-4567 now"),
      (3L, "nothing sensitive here at all")).toDF("doc_id", "text")
    val r = rowsOf(graft.pipeline.Text.piiScan(docs))
      .map(row => row.getLong(0) -> row).toMap
    def counts(id: Long) = {
      val row = r(id)
      (row.getLong(row.fieldIndex("n_emails")), row.getLong(row.fieldIndex("n_ips")),
        row.getLong(row.fieldIndex("n_phones")))
    }
    assert(counts(0L) == ((2L, 0L, 0L)))
    assert(counts(1L) == ((0L, 2L, 0L)))
    assert(counts(2L) == ((0L, 0L, 1L)))
    assert(counts(3L) == ((0L, 0L, 0L)))
    // redaction replaces each span with its typed tag — md5 of the
    // expected literal, computed through the same engine
    def md5Of(s: String): String =
      docs.sparkSession.range(1).select(md5(lit(s)).as("h")).head().getString(0)
    def red(id: Long) = r(id).getString(r(id).fieldIndex("redacted_md5"))
    assert(red(0L) == md5Of("contact <EMAIL> or <EMAIL> today"))
    assert(red(1L) == md5Of("server <IP> and <IP> up"))
    assert(red(2L) == md5Of("call <PHONE> now"))
    assert(red(3L) == md5Of("nothing sensitive here at all"), "clean text is byte-identical")
    assert(r(2L).getLong(r(2L).fieldIndex("n_chars_redacted")) == "call <PHONE> now".length)
  }

  test("gopher rules: per-rule flags and the all-rules keep verdict") {
    // doc 0: 24 solid tokens + 'the' + 'a' → in the 20..80 band, 2
    // distinct stopwords, no symbols, all-alpha → keep
    val good = (Seq.fill(24)("word") ++ Seq("the", "a")).mkString(" ")
    // doc 1: 3 tokens → fails the length band AND the stopword floor
    val short = "word word word"
    // doc 2: 26 tokens but 6 are '#' → symbol ratio 6/26 > 0.1 and
    // alpha share 20/26 < 0.8 → fails both content rules
    val symb = (Seq.fill(20)("word") ++ Seq.fill(6)("#")).mkString(" ")
    val d = TestSession.docsFixture(Seq(
      (0L, good, "en", "s", good.length.toLong),
      (1L, short, "en", "s", short.length.toLong),
      (2L, symb, "en", "s", symb.length.toLong)))
    val r = rowsOf(Text.gopherRules(spark, d)).map(x => x.getLong(0) -> x).toMap
    def flags(id: Long): (Int, Int, Int, Int, Int, Int) = {
      val row = r(id)
      def f(c: String) = row.getInt(row.fieldIndex(c))
      (f("pass_len"), f("pass_word_len"), f("pass_symbol"), f("pass_alpha"),
        f("pass_stop"), f("keep"))
    }
    assert(flags(0L) == ((1, 1, 1, 1, 1, 1)))
    assert(flags(1L) == ((0, 1, 1, 1, 0, 0)))
    assert(flags(2L) == ((1, 1, 0, 0, 0, 0)))
    assert(r(0L).getLong(r(0L).fieldIndex("n_stop")) == 2L)
    assert(r(2L).getDouble(r(2L).fieldIndex("symbol_ratio")) == 0.2308)
  }

  test("zipf slope: exact −1 fit on a perfect power-law vocabulary") {
    // frequencies 12, 6, 4, 3 at ranks 1..4 satisfy f·r = 12 exactly,
    // so ln f = ln 12 − 1·ln r and OLS recovers slope −1, intercept ln 12
    val text = (Seq.fill(12)("t1") ++ Seq.fill(6)("t2") ++
      Seq.fill(4)("t3") ++ Seq.fill(3)("t4")).mkString(" ")
    val d = TestSession.docsFixture(Seq((0L, text, "en", "s", text.length.toLong)))
    val row = rowsOf(Text.zipfSlope(spark, d)).head
    assert(row.getLong(row.fieldIndex("n_points")) == 4L)
    assert(row.getDouble(row.fieldIndex("slope")) == -1.0)
    assert(row.getDouble(row.fieldIndex("intercept")) == 2.4849) // ln 12
  }

  test("source divergence: zero for a single source, full-vocab brute force otherwise") {
    val one = TestSession.docsFixture(Seq((0L, "a b a", "en", "s0", 5L)))
    val r0 = rowsOf(Text.sourceDivergence(spark, one)).head
    assert(r0.getDouble(r0.fieldIndex("jsd")) == 0.0) // P = Q exactly
    // two sources with different mixes: compare against the NAIVE
    // full-vocabulary JSD (this checks the closed-form absent-term
    // collapse, not just self-consistency)
    val d = TestSession.docsFixture(Seq(
      (0L, "x x x x", "en", "A", 7L),
      (1L, "y y x y", "en", "B", 7L)))
    val rows = rowsOf(Text.sourceDivergence(spark, d))
      .map(r => r.getString(r.fieldIndex("source")) ->
        r.getDouble(r.fieldIndex("jsd"))).toMap
    val corpus = Map("x" -> 5.0 / 8, "y" -> 3.0 / 8)
    def jsd(p: Map[String, Double]): Double = corpus.keys.map { t =>
      val pt = p.getOrElse(t, 0.0); val qt = corpus(t); val m = (pt + qt) / 2
      (if (pt > 0) pt * math.log(pt / m) else 0.0) + qt * math.log(qt / m)
    }.sum / 2
    assert(math.abs(rows("A") - jsd(Map("x" -> 1.0))) < 1e-6)
    assert(math.abs(rows("B") - jsd(Map("x" -> 0.25, "y" -> 0.75))) < 1e-6)
    rows.values.foreach(v => assert(v >= 0.0 && v <= math.log(2) + 1e-9))
  }

  test("lang confusion: planted mislabel lands off-diagonal, shares sum to 1 per declared") {
    val d = TestSession.docsFixture(Seq(
      (0L, "the cat of the house is a thing", "en", "s", 30L),
      (1L, "le chat et la maison est une chose", "en", "s", 34L), // French text declared en
      (2L, "der hund und die katze ist ein tier", "de", "s", 36L)))
    val rows = rowsOf(Text.langConfusion(spark, d))
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(rows(("en", "en")) == ((1L, 0.5, true)))
    assert(rows(("en", "fr")) == ((1L, 0.5, false))) // the planted mislabel
    assert(rows(("de", "de")) == ((1L, 1.0, true)))
    val perDeclared = rows.toSeq.groupBy(_._1._1)
      .view.mapValues(_.map(_._2._2).sum).toMap
    perDeclared.values.foreach(s => assert(math.abs(s - 1.0) < 1e-9))
  }

  test("span mask: one non-overlapping 3-token span per full 20-token chunk") {
    val toks45 = (0 until 45).map(i => s"w$i").mkString(" ")
    val short = (0 until 19).map(i => s"s$i").mkString(" ")
    val d = TestSession.docsFixture(Seq(
      (0L, toks45, "en", "s", toks45.length.toLong),
      (1L, short, "en", "s", short.length.toLong)))
    val rows = rowsOf(Text.spanMask(spark, d))
    assert(rows.forall(_.getLong(0) == 0L), "sub-chunk doc yields no spans")
    assert(rows.length == 2) // floor(45/20) chunks
    rows.foreach { r =>
      val span = r.getLong(r.fieldIndex("span_id"))
      val start = r.getLong(r.fieldIndex("start_tok"))
      assert(start >= span * 20 && start <= span * 20 + 17, "offset in [0,17]")
      assert(r.getLong(r.fieldIndex("span_len")) == 3L)
      val expect = (start until start + 3).map(i => s"w$i").mkString(" ")
      assert(r.getString(r.fieldIndex("masked")) == expect)
    }
    val starts = rows.map(_.getLong(rows.head.fieldIndex("start_tok"))).sorted
    assert(starts.sliding(2).forall { case Seq(a, b) => b >= a + 3; case _ => true },
      "spans never overlap")
  }

  test("readability: hand-computed Flesch scores, sentence floor at 1") {
    val d = TestSession.docsFixture(Seq(
      (0L, "hello world. it is sunny!", "en", "s", 25L),
      (1L, "no terminator here", "en", "s", 18L)))
    val r = rowsOf(Text.readability(spark, d)).map(x => x.getLong(0) -> x).toMap
    val a = r(0L)
    assert(a.getLong(a.fieldIndex("n_words")) == 5L)
    assert(a.getLong(a.fieldIndex("n_sents")) == 2L)
    assert(a.getLong(a.fieldIndex("n_syllables")) == 7L)
    assert(a.getDouble(a.fieldIndex("flesch_ease")) == 85.8575)
    assert(a.getDouble(a.fieldIndex("fk_grade")) == 1.905)
    val b = r(1L)
    assert(b.getLong(b.fieldIndex("n_sents")) == 1L) // floored, no [.!?]
  }

  test("fertility reconciles with t_tokens per-doc counts grouped by lang") {
    val perDoc = rowsOf(Text.tokens(spark, SF))
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    val langOf = rowsOf(graft.pipeline.Docs.docs(spark, SF)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("lang")))
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = perDoc.toSeq.groupBy { case (id, _) => langOf(id) }
      .view.mapValues { xs =>
        (xs.size.toLong, xs.map(_._2._1).sum, xs.map(_._2._2).sum)
      }.toMap
    val r = rowsOf(Text.fertility(spark, SF))
    assert(r.map(_.getString(0)).toSet == expect.keySet)
    r.foreach { row =>
      val (nDocs, ws, sub) = expect(row.getString(row.fieldIndex("lang")))
      assert(row.getLong(row.fieldIndex("n_docs")) == nDocs)
      assert(row.getLong(row.fieldIndex("n_ws_tokens")) == ws)
      assert(row.getLong(row.fieldIndex("n_subword_tokens")) == sub)
      val fert = row.getDouble(row.fieldIndex("fertility"))
      assert(fert == BigDecimal(sub.toDouble / ws)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(fert >= 1.0, "a word is at least one subword piece")
    }
  }
}
