package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.Gates
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The reference's query surface, re-expressed Spark-first over the
  * [[TestGraph]] mapping. Each entry cites the Cypher it re-implements.
  *
  * Oracle SQL shares one CTE prelude ([[Clouds.OracleCte]]) that
  * recomputes the TestGraph verbatim, so the DuckDB gate checks the
  * whole pipeline — graph construction included.
  */
object Clouds {
  import TestGraph._

  // Every operator takes the seed taxon/genus and distance threshold as
  // parameters (the reference scripts take them as CLI args,
  // phageclouds_gdb.py:46-47); the defaults are the oracle-checked
  // instance the driver gate runs.

  /** gdb.py:56 / family.py:94 seed rule: NCBI genomes whose taxonomy
    * contains `key`. */
  private def ncbi(key: String)(g: DataFrame): DataFrame =
    g.filter(col("source") === Ncbi && col("taxonomy").contains(key))

  /** host.py:57 seed rule: genomes infecting host genus `genus` (a semi
    * join to the broadcast `hosts` dimension), minus GTDB when `harsh`. */
  private def infecting(spark: SparkSession, dir: String, genus: String, harsh: Boolean)(
      g: DataFrame): DataFrame = {
    val inf = g.join(broadcast(hosts(spark, dir).filter(col("genus") === genus)),
      col("hostkey") === col("host_id"), "left_semi")
    if (harsh) inf.filter(col("source") =!= Gtdb) else inf
  }

  /** gdb.py:56-58 — `MATCH (a:PhageGenome {source:'NCBI'})-[r:sharesDNA]->(b)
    * WHERE a.taxonomy CONTAINS t AND r.distance <= d RETURN a,b`. */
  def taxonCloud(spark: SparkSession, dir: String,
                 taxon: String = Taxon, threshold: Double = QueryThreshold): DataFrame = {
    val g = genomes(spark, dir)
    dnaPairs(ncbi(taxon)(g), g, threshold)
      .select(col("src").as("seed_phage"), col("dst").as("target_phage"))
      .orderBy(col("seed_phage"), col("target_phage"))
  }

  /** The taxon seed genomes (gdb.py:56) as [[phageNodes]] rows. */
  private def seeds(spark: SparkSession, dir: String, taxon: String): DataFrame =
    ncbi(taxon)(phageNodes(spark, dir))

  /** A cloud's genome ids, for all three seed rules: the 1-hop joins the
    * seed rows, as `src`, to the genome rows `g` on the sharesDNA bucket
    * ([[TestGraph.dnaPairs]]); the ids are both hop ends plus, when
    * `keepSeeds`, every seed (family.py:94's OPTIONAL MATCH). */
  private def cloudIds(g: DataFrame, seedRule: DataFrame => DataFrame,
                       threshold: Double, keepSeeds: Boolean): DataFrame = {
    val s = seedRule(g)
    val hop = dnaPairs(s, g, threshold).select(explode(array(col("src"), col("dst"))).as("id"))
    (if (keepSeeds) hop.union(s.select(col("id"))) else hop).distinct()
  }

  /** One cloud request: `rows` (the genome scan semi-joined to
    * [[cloudIds]] on `id`), projected to nodes by `nodesOf` and
    * self-joined to the [[induced]] edges by `edgesOf`. */
  private[graft] final case class CloudPlan(rows: DataFrame, nodesOf: DataFrame => DataFrame,
                                            edgesOf: DataFrame => DataFrame) {
    def nodes: DataFrame = nodesOf(rows)
    def edges: DataFrame = edgesOf(rows)
  }

  private def plan(spark: SparkSession, dir: String, seedRule: DataFrame => DataFrame,
                   threshold: Double, keepSeeds: Boolean = false)(
      nodesOf: DataFrame => DataFrame, edgesOf: DataFrame => DataFrame): CloudPlan = {
    val g = genomes(spark, dir)
    CloudPlan(g.join(cloudIds(g, seedRule, threshold, keepSeeds), Seq("id"), "left_semi"),
      nodesOf, edgesOf)
  }

  /** The edges among a cloud's rows (gdb.py:64-67): the sharesDNA bucket
    * self-join of those rows alone. Exact, since a sharesDNA edge is a
    * same-bucket pair passing a per-pair filter; Catalyst cannot derive
    * it (a semi-join on `src`, `dst` does not push through a self-join).
    * `valued` adds the pyvis value `thres − distance + 0.1`. */
  private def induced(threshold: Double, valued: Boolean)(rows: DataFrame): DataFrame = {
    val e = dnaPairs(rows, rows, threshold).select(col("src"), col("dst"), col("distance"))
    (if (valued) e.withColumn("value", lit(threshold) - col("distance") + lit(0.1)) else e)
      .orderBy(col("src"), col("dst"))
  }

  private[graft] def taxonPlan(spark: SparkSession, dir: String,
                               taxon: String, threshold: Double): CloudPlan =
    plan(spark, dir, ncbi(taxon), threshold)(
      _.select(
        col("id").as("phage"), col("source"), col("genome_size"),
        col("taxonomy").contains(taxon).as("is_taxon"),
        when(col("source") === Ncbi && col("taxonomy").contains(taxon), "green")
          .when(col("source") === Ncbi, "red")
          .when(col("source") === Tara, "cyan")
          .when(col("source") === GpdIsolate, "pink")
          .when(col("source") === GpdMetagenome, "purple")
          .otherwise("yellow").as("color"),
        floor(col("genome_size") / SizeScaleFactor).cast("long").as("size"))
        .orderBy(col("phage")),
      induced(threshold, valued = true))

  // Each cloud view plans its own request ([[CloudPlan]]): 1-hop, cloud
  // rows, then their projection or [[induced]] edges; no call shares.

  /** gdb.py:71-100 — induced node metadata + viz colour/size enrichment. */
  def cloudNodes(spark: SparkSession, dir: String,
                 taxon: String = Taxon, threshold: Double = QueryThreshold): DataFrame =
    taxonPlan(spark, dir, taxon, threshold).nodes

  /** gdb.py:64-67 + 112-116 — induced-subgraph edges at the threshold,
    * with the pyvis edge value `thres − distance + 0.1`. */
  def cloudEdges(spark: SparkSession, dir: String,
                 taxon: String = Taxon, threshold: Double = QueryThreshold): DataFrame =
    taxonPlan(spark, dir, taxon, threshold).edges

  /** family.py:94 — OPTIONAL MATCH + collect-union-dedup:
    * `MATCH (p {source:'NCBI'}) WHERE p.taxonomy CONTAINS f
    *  OPTIONAL MATCH (p)-[r]->(q) WHERE r.distance <= d
    *  RETURN target_phages + [x IN connected WHERE NOT x IN target]`. */
  def familyCloud(spark: SparkSession, dir: String,
                  family: String = Family, threshold: Double = QueryThreshold): DataFrame =
    cloudIds(genomes(spark, dir), ncbi(family), threshold, keepSeeds = true)
      .select(col("id").as("phage_node"))
      .orderBy(col("phage_node"))

  private[graft] def familyPlan(spark: SparkSession, dir: String, family: String,
                                threshold: Double, colorRank: String = "family",
                                lineageLookup: Option[DataFrame] = None): CloudPlan = {
    require(colorRank == "family" || colorRank == "genus",
      s"colorRank must be 'family' or 'genus', got '$colorRank'")
    // the lookup is source-pluggable, like the reference's CSV taxid
    // file (family.py:102): any DataFrame with
    // (host_id, genus_name, family_key, family_name) works — CSV, JDBC,
    // parquet; default is the nation→region dimension join.
    val look = lineageLookup.getOrElse(lineage(spark, dir))
    val paletteKey =
      if (colorRank == "genus") col("host_id") else col("family_key")
    plan(spark, dir, ncbi(family), threshold, keepSeeds = true)(
      _.join(broadcast(look), col("hostkey") === col("host_id"), "left_outer")
        .select(
          col("id").as("phage"), col("source"), col("genome_size"),
          col("taxonomy").as("lineage"),
          col("genus_name").as("target_taxon"),
          when(col("source") === Ncbi,
            concat(lit("C"), paletteKey.cast("string")))
            .otherwise("#FFFFFF").as("color"))
        .orderBy(col("phage")),
      induced(threshold, valued = true))
  }

  /** family.py:97-105 — the family cloud's node metadata, enriched with
    * the two-level lineage lookup (accession→taxid→rank in the reference,
    * hostkey→nation→region here): NCBI nodes get a palette id per lineage
    * bucket (`color_phage_tax`), everything else is white. `colorRank`
    * mirrors the reference's `-t subfamily|genus` flag (family.py:83):
    * "family" colours by the region key, "genus" by the nation key. */
  def familyNodes(spark: SparkSession, dir: String,
                  family: String = Family, threshold: Double = QueryThreshold,
                  colorRank: String = "family",
                  lineageLookup: Option[DataFrame] = None): DataFrame =
    familyPlan(spark, dir, family, threshold, colorRank, lineageLookup).nodes

  private[graft] def hostPlan(spark: SparkSession, dir: String, harsh: Boolean,
                              hostGenus: String, threshold: Double): CloudPlan =
    plan(spark, dir, infecting(spark, dir, hostGenus, harsh), threshold)(
      _.join(broadcast(hosts(spark, dir)
          .select(col("host_id"), col("genus").as("host_genus"))),
        col("hostkey") === col("host_id"), "left_outer")
        .select(col("id").as("phage"), col("source"), col("genome_size"),
          col("genus").as("phage_genus"), col("host_genus"))
        .orderBy(col("phage")),
      induced(threshold, valued = false))

  /** host.py:57-63 — seed = phages with `(a)-[:infects]->(:Host {genus})`,
    * threshold expand, union node set, then node metadata incl. the host
    * genus (OPTIONAL MATCH (a)-[:infects]->(h) → left outer join). */
  def hostCloud(spark: SparkSession, dir: String, harsh: Boolean,
                hostGenus: String = HostGenus, threshold: Double = QueryThreshold): DataFrame =
    hostPlan(spark, dir, harsh, hostGenus, threshold).nodes

  /** family.py:98 + 116-120 — the induced edge list among the
    * family-cloud nodes, valued like [[cloudEdges]] ([[graft.Cloud]]'s
    * family mode; no registry key). */
  def familyEdges(spark: SparkSession, dir: String,
                  family: String = Family, threshold: Double = QueryThreshold): DataFrame =
    familyPlan(spark, dir, family, threshold).edges

  /** host.py:64 — the induced edge list among the host-cloud nodes. */
  def hostEdges(spark: SparkSession, dir: String, harsh: Boolean = false,
                hostGenus: String = HostGenus, threshold: Double = QueryThreshold): DataFrame =
    hostPlan(spark, dir, harsh, hostGenus, threshold).edges

  def edgesBuild(spark: SparkSession, dir: String): DataFrame =
    sharesDna(spark, dir).orderBy(col("src"), col("dst"))

  def degrees(spark: SparkSession, dir: String): DataFrame =
    graph(spark, dir).degrees.orderBy(col("id"))

  def twoHop(spark: SparkSession, dir: String): DataFrame =
    graph(spark, dir)
      .hopFrontier(seeds(spark, dir, Taxon), 2, col("distance") <= QueryThreshold)
      .select(col("id").as("node"))
      .orderBy(col("node"))

  def patternChain(spark: SparkSession, dir: String): DataFrame =
    graph(spark, dir).chain2(col("distance") <= QueryThreshold)
      .orderBy(col("a"), col("b"), col("c"))

  def triangleCount(spark: SparkSession, dir: String): DataFrame =
    graph(spark, dir).triangleCounts(col("distance") <= QueryThreshold)
      .orderBy(col("node"))

  def connectedComponents(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir).filterEdges(col("distance") <= QueryThreshold)
    Algorithms.connectedComponents(g.nodes, g.edges)
      .select(col("id").as("node"), col("comp").as("component"))
      .orderBy(col("node"))
  }

  /** The dense heart of a cloud: nodes with ≥ k neighbours inside the
    * surviving subgraph (a phage-cloud analogue of "only keep genomes
    * with enough close relatives"). `g_kcore`. */
  val KCoreK = 3

  def kCore(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir).filterEdges(col("distance") <= QueryThreshold)
    Algorithms.kCore(g.nodes, g.edges, KCoreK)
      .select(col("id").as("node"), col("core_deg"))
      .orderBy(col("node"))
  }

  /** Truss strength of the thresholded cut: k such that edges must sit
    * in ≥ k−2 surviving triangles. 4 ⇒ every kept sharesDNA edge is
    * corroborated by ≥ 2 mutually-similar third genomes — the
    * edge-level "no isolated coincidental similarity" cut. */
  val KTrussK = 4

  /** Per-edge triangle support of the thresholded graph — for each
    * sharesDNA edge, how many third genomes are similar to BOTH
    * endpoints. The edge-level refinement of [[triangleCount]] (which
    * aggregates per node): support 0 flags a similarity with no
    * corroborating relative (a candidate spurious alignment), high
    * support marks the load-bearing edges of a dense cloud. One pair
    * rescore of the canonical edge set against its own adjacency
    * ([[Algorithms.edgeSupport]] — O(deg u + deg v) per edge, no Σdeg²
    * wedge explosion). `g_truss_support`. */
  def trussSupport(spark: SparkSession, dir: String): DataFrame = {
    val e = graph(spark, dir).filterEdges(col("distance") <= QueryThreshold)
      .edges.select(col("src").as("u"), col("dst").as("v"))
      .localCheckpoint(true) // adjacency pack + rescore probe share it
    val sup = Algorithms.edgeSupport(e)
    Algorithms.releaseIterate(e) // the support table is materialized
    sup.select(col("u").as("src"), col("v").as("dst"), col("support"))
      .orderBy(col("src"), col("dst"))
  }

  /** k-truss of the thresholded graph ([[Algorithms.kTruss]], k =
    * [[KTrussK]]): the surviving edges after peeling every edge with
    * fewer than k−2 within-subgraph triangles to a fixpoint, with
    * their final support — the triangle-corroborated skeleton of the
    * clouds, denser than [[kCore]]'s degree cut (every k-truss edge
    * lies inside the (k−1)-core). `g_ktruss`. */
  def kTrussEdges(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir).filterEdges(col("distance") <= QueryThreshold)
    Algorithms.kTruss(g.edges, KTrussK)
      .select(col("u").as("src"), col("v").as("dst"), col("support"))
      .orderBy(col("src"), col("dst"))
  }

  /** Full core decomposition of the thresholded graph — the coreness
    * shell number per genome ([[Algorithms.coreness]], h-index
    * iteration), refining [[kCore]]'s single-k membership cut into the
    * full density ladder: shell 0 = isolated, shell max = the densest
    * mutually-similar core of a cloud. `g_coreness`. */
  def corenessShells(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir).filterEdges(col("distance") <= QueryThreshold)
    // materialized ONCE (the mst caller-owned idiom): the kernel's
    // layout pre-count and its checkpoint build both scan the edge
    // frame — lazily passed, the similarity self-join would execute
    // twice
    val e = g.edges.select(col("src"), col("dst")).localCheckpoint(true)
    Algorithms.coreness(g.nodes, e, nSymHint = 2L * e.count())
      .select(col("id").as("node"), col("coreness"))
      .orderBy(col("node"))
  }

  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir)
    Algorithms.pageRank(g.nodes, g.edges.filter(col("distance") <= QueryThreshold))
      .orderBy(col("id"))
  }

  /** Eigenvector-centrality walk counts of the thresholded graph
    * ([[Algorithms.walkCounts]], [[Algorithms.EigenWalkRounds]]-step
    * exact-integer power iterate): genomes ranked by how many length-4
    * similarity walks END at them — the "important because similar to
    * other important genomes" cut that degree ([[degrees]]) and
    * PageRank's damped random surfer each miss in their own way.
    * `g_eigen_walks`. */
  def eigenWalks(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir).filterEdges(col("distance") <= QueryThreshold)
    // materialized once (the corenessShells idiom): the kernel's layout
    // pre-count and its checkpoint build both scan the edge frame
    val e = g.edges.select(col("src"), col("dst")).localCheckpoint(true)
    Algorithms.walkCounts(g.nodes, e, nSymHint = 2L * e.count())
      .select(col("id").as("node"), col("walks"))
      .orderBy(col("node"))
  }

  /** Personalized PageRank from the taxon-cloud seed phages — "rank
    * every genome by random-walk proximity to THIS cloud's seeds", the
    * natural follow-up to the reference's seed-filtered cloud expand
    * (phageclouds_gdb.py:56-58): where [[taxonCloud]] answers which
    * genomes are one thresholded edge away, the restart walk scores
    * multi-hop relatedness with distance decay. Teleport and dangling
    * mass land uniformly on the seed set ([[Algorithms
    * .personalizedPageRank]]); same directed threshold edges as
    * [[pageRank]]. `g_ppr`. */
  def personalizedPageRank(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir)
    Algorithms.personalizedPageRank(g.nodes,
      g.edges.filter(col("distance") <= QueryThreshold),
      seeds(spark, dir, Taxon))
      .orderBy(col("id"))
  }

  /** Neighbour-set Jaccard similarity for node pairs sharing ≥ 1
    * neighbour — the link-prediction / "phages related through common
    * relatives" operator (two genomes whose similarity edge fell just
    * above threshold still surface here through shared neighbours).
    * Same bucket-join discipline as the n-gram dedup: candidate pairs
    * come from co-membership in some neighbour's adjacency list, never
    * an all-pairs product; integer intersection/degree counts make the
    * division bit-exact cross-engine. `g_neighbor_jaccard`. */
  def neighborJaccard(spark: SparkSession, dir: String,
                      minSim: Double = 0.3): DataFrame = {
    val g = graph(spark, dir).filterEdges(col("distance") <= QueryThreshold)
    val nbrs = g.edges.select(col("src").as("node"), col("dst").as("nbr"))
      .union(g.edges.select(col("dst").as("node"), col("src").as("nbr")))
      .localCheckpoint(true) // the count, the image or join plan, all read it
    val r = neighborJaccardOn(nbrs, minSim)
    Algorithms.releaseIterate(nbrs)
    // the sort rides lazily ON TOP of the materialized pairs, so a
    // consumer that doesn't need order (count, re-agg) doesn't pay it
    r.orderBy(col("a"), col("b"))
  }

  /** [[neighborJaccard]]'s pairs over a symmetric (node, nbr) adjacency,
    * materialized. Under the image bound the candidates never reach a
    * shuffle: [[Algorithms.jaccardPairsImg]] counts co-neighbours,
    * reads degrees, applies the τ filter and the round-6 inside ONE
    * narrow map over the broadcast CSR image (measured at sf0.1,
    * min-of-5: 8.96 → 2.12 s against the join). Above it the wedge
    * self-join ships every Σdeg² candidate through a shuffle before the
    * filter can drop it ([[neighborJaccardCapped]] is the hub-safe
    * variant). The two plans emit bit-identical rows (spec-asserted). */
  private[graft] def neighborJaccardOn(nbrs: DataFrame, minSim: Double): DataFrame =
    Algorithms.collectAdjImage(uvOf(nbrs), nbrs.count())(
      Algorithms.jaccardPairsImg(nbrs.sparkSession, _, minSim).localCheckpoint(true)) {
      val deg = nbrs.groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val inter = nbrs.as("x")
        .join(nbrs.as("y"),
          col("x.nbr") === col("y.nbr") && col("x.node") < col("y.node"))
        .groupBy(col("x.node").as("a"), col("y.node").as("b"))
        .agg(count(lit(1)).as("inter"))
      val jac = col("inter").cast("double") /
        (col("da") + col("db") - col("inter")).cast("double")
      inter
        .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
        .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
        .filter(jac >= minSim)
        .select(col("a"), col("b"), col("inter"), round(jac, 6).as("jaccard"))
        .localCheckpoint(true)
    }

  /** A (node, nbr) adjacency as the (u, v) rows the image tier reads. */
  private def uvOf(nbrs: DataFrame): DataFrame =
    nbrs.select(col("node").as("u"), col("nbr").as("v"))

  /** Shared-neighbour bucket cap for [[neighborJaccardCapped]]: each
    * node contributes at most this many of its neighbours to candidate
    * generation, bounding every co-membership bucket at C(cap, 2) pairs.
    * 32 keeps sf-scale recall at 1.0 (buckets rarely exceed it at test
    * SF) while turning the hub term from deg² into cap² at 100 TB. */
  val JaccardHubCap = 32

  /** Degree-capped neighbour-Jaccard — the 100 TB path for
    * [[neighborJaccard]], whose exact candidate volume is Σ deg(v)²
    * (a single hub node's bucket is quadratic in its degree; AQE skew
    * splitting only subdivides the partition, the pair count stays
    * quadratic). Candidate generation samples each shared-neighbour
    * bucket down to ≤ `cap` members — deterministically, ranked by a
    * bucket-salted md5 hash ([[graft.Hashing.md5Hash60]]) so the DuckDB
    * oracle replays the sample bit-for-bit — through the native
    * [[graft.plans.TopKPerGroup]] heap operator (map-side partial
    * k-heaps; ≤ cap rows per bucket per partition shuffle). Survivors
    * are rescored EXACTLY against the full adjacency, so precision is 1
    * (every reported pair carries its true Jaccard ≥ τ; capped ⊆ exact)
    * and only recall degrades, gracefully, when deg ≫ cap — a pair is
    * found iff some shared neighbour samples both endpoints. Recall vs
    * the exact operator is measured in the spec.
    *
    * When to use which (measured): on the UNIFORMLY dense test graph
    * (mean deg ≈ 110 at sf0.1, ~1M genuinely-similar pairs) this path
    * now matches the exact one (r7 min-of-5 4.7 s vs 4.3 s under
    * identical conditions; r8 re-measurement under the RUNS=5 default
    * shows 6.7–7.6 s across invocations — host-load dependent, but
    * consistently ~5× under the 26.5 s the exploded rescore cost) —
    * when nearly every pair is a real
    * candidate, the exact co-membership join already enumerates exactly
    * the intersection rows and the sampled pass adds only its hash-rank
    * overhead. The capped path is for
    * HUB-SKEWED degree distributions — the realistic web/corpus shape —
    * where a few deg-10⁶ hubs make Σdeg² explode while the true pair
    * count stays modest: the spec's synthetic-hub case shows the
    * candidate volume dropping C(d,2) → C(cap,2) per hub.
    * `g_neighbor_jaccard_capped`. */
  /** Candidate pairs from ≤`cap`-sampled co-membership buckets — the
    * piece that turns a degree-d hub's C(d, 2) bucket into C(cap, 2).
    * Bucket-salted hash rank: independent samples per bucket (a
    * globally hash-small node must not be kept in EVERY bucket), ranked
    * through the native [[graft.plans.TopKPerGroup]] heap operator.
    * Factored out so the spec can drive it with a synthetic hub
    * adjacency and assert the bound structurally. */
  private[graft] def cappedCandidates(nbrs: DataFrame, cap: Int): DataFrame = {
    val capped = graft.plans.TopKPerGroup.rankTopK(
        nbrs.withColumn("hkey",
          graft.Hashing.hash60(concat_ws("|", col("nbr"), col("node")))),
        Seq("nbr"), Seq("hkey" -> false, "node" -> false), cap)
      .select(col("node"), col("nbr"))
    capped.as("x")
      .join(capped.as("y"),
        col("x.nbr") === col("y.nbr") && col("x.node") < col("y.node"))
      .select(col("x.node").as("a"), col("y.node").as("b"))
      .distinct()
  }

  def neighborJaccardCapped(spark: SparkSession, dir: String,
                            minSim: Double = 0.3,
                            cap: Int = JaccardHubCap): DataFrame = {
    val g = graph(spark, dir).filterEdges(col("distance") <= QueryThreshold)
    val nbrs = g.edges.select(col("src").as("node"), col("dst").as("nbr"))
      .union(g.edges.select(col("dst").as("node"), col("src").as("nbr")))
      .localCheckpoint(true) // adjacency build + bucket sampling
    // exact rescore via SET INTERSECTION, not row explosion
    // ([[Algorithms.pairRescore]]): the previous formulation — join
    // candidates to the exploded adjacency, then re-join on the shared
    // neighbour — materialized Σ_cand deg(a) intermediate rows BEFORE
    // the intersection filter (~770 M at sf0.1) and measured min-of-5
    // 26.5 s; the array-join rescore is 4.7 s on identical output, and
    // under the image bound the same integer (inter, da, db) come out of
    // one narrow map over the broadcast image. The candidate SET is the
    // hash-ranked heap sample above either way, so results are
    // bit-identical on both plans.
    val jac = col("inter").cast("double") /
      (col("da") + col("db") - col("inter")).cast("double")
    val out = Algorithms.pairRescore(cappedCandidates(nbrs, cap), uvOf(nbrs),
        nbrs.count())(_
      .filter(col("inter") > 0 && jac >= minSim)
      .select(col("a"), col("b"), col("inter"), round(jac, 6).as("jaccard"))
      .localCheckpoint(true)) // materialize, then drop image + input pin
    Algorithms.releaseIterate(nbrs)
    out.orderBy(col("a"), col("b")) // lazy sort atop the checkpoint
  }

  /** Link prediction over the thresholded graph: score NON-adjacent
    * pairs by neighbourhood evidence — the "which sharesDNA edges are
    * missing" query a similarity corpus asks before re-running the
    * expensive all-pairs alignment (predicted pairs are the alignment
    * worklist). Candidates come from the same ≤cap hash-sampled
    * co-membership buckets as [[neighborJaccardCapped]]
    * ([[cappedCandidates]] — the Σdeg² bomb stays defused); EXISTING
    * edges are anti-joined out (a prediction is a missing edge, by
    * definition); evidence is the common-neighbour count (through the
    * native two-pointer [[graft.functions.SortedIntersectCount]] over
    * packed adjacency, same rescore shape as capped Jaccard) plus the
    * preferential-attachment product deg·deg. Both scores are
    * INTEGERS, so cross-engine parity is unconditional. `g_link_pred`. */
  def linkPrediction(spark: SparkSession, dir: String, minCommon: Long = 3L,
                     cap: Int = JaccardHubCap): DataFrame = {
    val g = graph(spark, dir).filterEdges(col("distance") <= QueryThreshold)
    val nbrs = g.edges.select(col("src").as("node"), col("dst").as("nbr"))
      .union(g.edges.select(col("dst").as("node"), col("src").as("nbr")))
      .localCheckpoint(true) // candidate sampling + adjacency pack
    val existing = g.edges.select(col("src").as("a"), col("dst").as("b"))
    // the [[neighborJaccardCapped]] rescore: common_neighbors and the
    // deg·deg product are the same integers on either plan
    val out = Algorithms.pairRescore(
        cappedCandidates(nbrs, cap).join(existing, Seq("a", "b"), "left_anti"),
        uvOf(nbrs), nbrs.count())(_
      .select(col("a"), col("b"), col("inter").as("common_neighbors"),
        (col("da") * col("db")).as("pref_attachment"))
      .filter(col("common_neighbors") >= minCommon)
      .localCheckpoint(true)) // materialize, then drop image + input pin
    Algorithms.releaseIterate(nbrs)
    out.orderBy(col("a"), col("b")) // lazy sort atop the checkpoint
  }

  /** Communities inside the thresholded graph — a finer view than the
    * connected-component "clouds" (a cloud can contain several dense
    * communities bridged by weak links). `g_label_prop`. */
  def labelProp(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir).filterEdges(col("distance") <= QueryThreshold)
    Algorithms.labelPropagation(g.nodes, g.edges)
      .select(col("id").as("node"), col("lbl").as("community"))
      .orderBy(col("node"))
  }

  /** Louvain communities inside the thresholded graph — the
    * modularity-OPTIMIZING upgrade over [[labelProp]]'s frequency
    * vote: [[Algorithms.louvain]]'s deterministic synchronous local
    * moves (exact integer ΔQ scores, min-label tiebreak) with one
    * graph-coarsening step between the two levels, so dense sub-clouds
    * merge into super-nodes and the second level decides which of them
    * belong together. Mirrors the reference's "cloud" notion
    * (phageclouds_gdb.py:44-120 — thresholded similarity
    * neighbourhoods) at community rather than component granularity.
    * `g_louvain`. */
  def louvain(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir).filterEdges(col("distance") <= QueryThreshold)
    // materialized ONCE (the mst caller-owned idiom): the kernel's
    // layout pre-count and its checkpoint build both scan the edge
    // frame — lazily passed, the similarity self-join would execute
    // twice
    val e = g.edges.select(col("src"), col("dst")).localCheckpoint(true)
    // the similarity edge table is canonical-distinct by construction
    Algorithms.louvain(g.nodes, e, canonicalDistinct = true)
      .select(col("id").as("node"), col("community"))
      .orderBy(col("node"))
  }

  /** Distance-WEIGHTED Louvain over the thresholded graph —
    * [[louvain]] coarsens with w = edge multiplicity, which on the
    * canonical similarity graph makes every edge weight 1 and the ΔQ
    * argmax blind to the DISTANCES the reference's clouds are defined
    * by (phageclouds_gdb.py:114 draws edge strength as
    * `thres − distance + 0.1`, the same signal [[mst]] minimizes).
    * Here each edge carries that strength QUANTIZED to an exact
    * integer — distances are acctbal differences over 11000, so
    * (0.2 − distance)·1100000 is integral up to float noise and one
    * round() recovers it exactly in both engines — keeping the whole
    * ΔQ chain and its SQL replay in exact integer arithmetic. Closer
    * genomes pull harder; a community bound by marginal-threshold
    * links dissolves. `g_louvain_weighted`. */
  def louvainWeighted(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir).filterEdges(col("distance") <= QueryThreshold)
    // materialized ONCE (the mst caller-owned idiom): the kernel's
    // layout pre-count and its checkpoint build both scan the edge
    // frame — lazily passed, the similarity self-join would execute
    // twice
    val we = g.edges.select(col("src"), col("dst"),
      round((lit(0.2) - col("distance")) * 1100000).cast("long").as("w"))
      .localCheckpoint(true)
    Algorithms.louvainWeighted(g.nodes, we, canonicalDistinct = true)
      .select(col("id").as("node"), col("community"))
      .orderBy(col("node"))
  }

  /** Leiden-style REFINEMENT of the Louvain partition — the
    * well-known Louvain defect (Traag et al. 2019, "From Louvain to
    * Leiden") is that a community can be INTERNALLY DISCONNECTED: the
    * ΔQ argmax happily binds two dense sub-clouds through a node that
    * later moves away, leaving a community whose induced subgraph has
    * several components. The Leiden fix's core step re-expressed as a
    * composition: run connected components on the INTRA-community edge
    * set — each community splits into its genuinely-connected parts
    * (refined label = min member id of the part, singletons included),
    * plus the per-community part count and a was_split audit flag.
    *
    * Scale shape: one community-equality semi-filter over the
    * thresholded edges (two id-keyed joins against the checkpointed
    * Louvain assignment), then the standard CC kernel on a subset of
    * the edges it would otherwise get — strictly cheaper than
    * [[connectedComponents]] on the full graph; the audit aggregate
    * keys on |communities|. `g_community_refine`. */
  def communityRefine(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir).filterEdges(col("distance") <= QueryThreshold)
    // materialized ONCE (the mst caller-owned idiom): the kernel's
    // layout pre-count and its checkpoint build both scan the edge
    // frame — lazily passed, the similarity self-join would execute
    // twice
    val e = g.edges.select(col("src"), col("dst")).localCheckpoint(true)
    // the fused composition: ONE level-1 symmetric layer serves both
    // the ΔQ rounds and the intra-community CC (see
    // [[Algorithms.louvainRefine]] — the freshStats re-root between the
    // loops lives inside it)
    val out = Algorithms.louvainRefine(g.nodes.select(col("id")), e,
      canonicalDistinct = true)
    // everything derived from the edge checkpoint is materialized
    // inside louvainRefine (level layers, intra layer, CC labels) —
    // release it rather than pinning similarity-self-join output for
    // the rest of the session
    Algorithms.releaseIterate(e)
    out.orderBy(col("node"))
  }

  /** Local clustering coefficient: how close each genome's neighbourhood
    * is to a clique — 2·triangles(v) / (deg(v)·(deg(v)−1)) over the
    * undirected thresholded graph. Within a phage cloud this separates
    * the densely inter-similar core (coeff → 1) from bridge genomes that
    * merely connect sub-clouds (coeff → 0) — the per-node refinement of
    * [[kCore]]'s binary dense/sparse cut. Reuses the degree-oriented
    * triangle enumeration (arboricity-bounded wedges, see
    * [[PropertyGraph.triangleCounts]]) plus one more degree aggregate;
    * all counts are integers, so the single final division is bit-exact
    * cross-engine. `g_clustering_coeff`. */
  def clusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir)
    val canon = g.edges.filter(col("distance") <= QueryThreshold)
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val deg = canon.select(col("u").as("node")).union(canon.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    g.triangleCounts(col("distance") <= QueryThreshold)
      .join(deg, Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"), col("n_triangles"),
        when(coalesce(col("deg"), lit(0L)) >= 2,
          round((col("n_triangles") * 2).cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double"), 6))
          .otherwise(lit(0.0)).as("clustering_coeff"))
      .orderBy(col("node"))
  }

  /** Per-cloud summary statistics: size, edge count, genome-size range
    * and mean edge distance for every connected component — the "cloud
    * catalogue" a browser over the full corpus starts from (the
    * reference renders one cloud at a time; at 640k genomes you first
    * need the list of clouds worth looking at). Composes the CC kernel
    * with two single-shuffle aggregates keyed on the component label;
    * the component table is the kernel's already-checkpointed iterate,
    * so the dual reference (node stats + edge stats) rescans cached
    * blocks rather than re-running the loop. Mean distance sums
    * DECIMAL(18,12)-cast distances (order-independent) and divides
    * once in double. `g_cloud_stats`. */
  def cloudStats(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir).filterEdges(col("distance") <= QueryThreshold)
    val comp = Algorithms.connectedComponents(g.nodes, g.edges)
    val nodeStats = comp.join(g.nodes, Seq("id"))
      .groupBy(col("comp").as("component"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("genome_size")).as("min_genome"),
        max(col("genome_size")).as("max_genome"))
    val edgeStats = g.edges
      .join(comp.select(col("id").as("src"), col("comp")), Seq("src"))
      .groupBy(col("comp").as("component"))
      .agg(count(lit(1)).as("n_edges"),
        sum(col("distance").cast(DecimalType(18, 12))).as("dist_sum"))
    nodeStats.join(edgeStats, Seq("component"), "left_outer")
      .select(col("component"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        col("min_genome"), col("max_genome"),
        when(col("n_edges").isNotNull,
          round(col("dist_sum").cast("double") / col("n_edges"), 6))
          .otherwise(lit(0.0)).as("avg_distance"))
      .orderBy(col("component"))
  }

  /** Overlap audit between the reference's three cloud definitions —
    * the cross-query analysis the reference's one-cloud-at-a-time CLI
    * cannot do: how much of the taxon cloud (gdb.py seed rule) is also
    * in the host cloud (host.py seed rule), and what the `--harsh`
    * source exclusion actually removes. One row per cloud pair with
    * both sizes, the intersection, and its Jaccard. The id sets are
    * the same seed-expand plans the g_*_cloud keys run; the pair list
    * is a 3-row literal, so nothing here is quadratic in anything.
    * `g_cloud_overlap`. */
  def cloudOverlap(spark: SparkSession, dir: String): DataFrame = {
    val g = genomes(spark, dir)
    def ids(seedRule: DataFrame => DataFrame, tag: String) =
      cloudIds(g, seedRule, QueryThreshold, keepSeeds = false)
        .select(col("id"), lit(tag).as("tag"))
    val tagged = ids(ncbi(Taxon), "taxon")
      .union(ids(infecting(spark, dir, HostGenus, harsh = false), "host"))
      .union(ids(infecting(spark, dir, HostGenus, harsh = true), "host_harsh"))
      .localCheckpoint(true) // three consumers: sizes + both join sides
    val sizes = tagged.groupBy(col("tag")).agg(count(lit(1)).as("n"))
    val common = tagged.select(col("id"), col("tag").as("cloud_a"))
      .join(tagged.select(col("id"), col("tag").as("cloud_b")), Seq("id"))
      .filter(col("cloud_a") < col("cloud_b"))
      .groupBy(col("cloud_a"), col("cloud_b"))
      .agg(count(lit(1)).as("n_common"))
    val pairNames = spark.range(1).select(explode(array(
      struct(lit("host").as("cloud_a"), lit("host_harsh").as("cloud_b")),
      struct(lit("host").as("cloud_a"), lit("taxon").as("cloud_b")),
      struct(lit("host_harsh").as("cloud_a"), lit("taxon").as("cloud_b"))))
      .as("p")).select(col("p.cloud_a"), col("p.cloud_b"))
    pairNames
      .join(broadcast(sizes.withColumnRenamed("tag", "cloud_a")
        .withColumnRenamed("n", "n_a")), Seq("cloud_a"))
      .join(broadcast(sizes.withColumnRenamed("tag", "cloud_b")
        .withColumnRenamed("n", "n_b")), Seq("cloud_b"))
      .join(common, Seq("cloud_a", "cloud_b"), "left_outer")
      .select(col("cloud_a"), col("cloud_b"), col("n_a"), col("n_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .withColumn("jaccard",
        when(col("n_a") + col("n_b") - col("n_common") > 0,
          round(col("n_common").cast("double") /
            (col("n_a") + col("n_b") - col("n_common")), 6))
          .otherwise(lit(0.0)))
      .orderBy(col("cloud_a"), col("cloud_b"))
  }

  /** Exact 4-cycle (square) census of the thresholded graph — the
    * quadrilateral analogue of [[triangleCount]]: two genome pairs
    * that corroborate each other's similarity without any direct
    * diagonal link, the classic sign of a gene-sharing module larger
    * than a clique. Identity: for every unordered co-neighbour pair
    * {a,c} with n common neighbours, the pair closes C(n,2) squares,
    * and every square is counted by exactly TWO diagonal pairs, so
    * n_squares = Σ C(n,2) / 2 — all integer arithmetic, replayed
    * unconditionally by the oracle ([[squareCountOnCanon]] has the
    * two plans). `g_square_count`. */
  def squareCount(spark: SparkSession, dir: String): DataFrame = {
    val canon = canonQueryEdges(spark, dir).localCheckpoint(true)
    val out = squareCountOnCanon(canon)
    Algorithms.releaseIterate(canon)
    out
  }

  /** Canonical (u < v, distinct) edge set of the query-thresholded
    * graph — the shared input of the census operators below. */
  private def canonQueryEdges(spark: SparkSession, dir: String): DataFrame =
    graph(spark, dir).edges
      .filter(col("distance") <= QueryThreshold)
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()

  /** [[squareCount]] kernel over any canonical (u, v) edge frame, its
    * one-row census materialized. Under the image bound
    * [[Algorithms.squareCensusImg]] folds the census in ONE narrow
    * zero-exchange map over the broadcast CSR image (Σdeg² CELL work,
    * never Σdeg² shuffled rows); above it, the wedge self-join keyed on
    * the middle node + (a, c) count — Σdeg² row movement is then the
    * intrinsic exact-square cost, parallel per partition on a cluster.
    * Both compute identical integers (spec-asserted). */
  private[graft] def squareCountOnCanon(canon: DataFrame): DataFrame = {
    val und = canon.select(col("u"), col("v"))
      .union(canon.select(col("v").as("u"), col("u").as("v")))
    Algorithms.collectAdjImage(und, 2L * canon.count())(
      Algorithms.squareCensusImg(canon.sparkSession, _).localCheckpoint(true)) {
      und.select(col("u").as("m"), col("v").as("a"))
        .join(und.select(col("u").as("m2"), col("v").as("c")),
          col("m") === col("m2") && col("a") < col("c"))
        .groupBy(col("a"), col("c")).agg(count(lit(1)).as("n"))
        .agg(
          count(lit(1)).as("n_coneighbor_pairs"),
          coalesce(sum(col("n")), lit(0L)).as("n_wedge_pairs"),
          coalesce(expr("SUM(n * (n - 1) DIV 2) DIV 2"), lit(0L)).as("n_squares"))
        .localCheckpoint(true)
    }
  }

  /** Rich-club profile of the thresholded graph: for each degree cut k
    * in a fixed ladder, how densely the nodes of degree > k connect to
    * EACH OTHER (φ(k) = 2·e_k / (n_k·(n_k−1))) — do the hub genomes of
    * the corpus form their own tightly-knit club, or are they hubs of
    * disjoint clouds? Plan shape: one degree aggregate (|V| rows), one
    * edge⋈degree join per side (shuffled on the node id — degree is
    * fact-scale at 100 TB, never broadcast), then a ×|ladder| explode
    * of the per-edge min-degree (a constant factor 6, not a shuffle)
    * and one tiny groupBy(k). The ladder frame is a literal → the
    * final join is broadcast by size. `g_rich_club`. */
  val RichClubKs: Seq[Int] = Seq(1, 2, 4, 8, 16, 32)

  def richClub(spark: SparkSession, dir: String): DataFrame =
    richClubOnCanon(spark, canonQueryEdges(spark, dir))

  /** [[richClub]] kernel over any canonical (u, v) edge frame. */
  private[graft] def richClubOnCanon(spark: SparkSession, canon: DataFrame): DataFrame = {
    val deg = canon.select(col("u").as("id")).union(canon.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val ladder = array(RichClubKs.map(k => lit(k.toLong)): _*)
    val nodeCounts = deg.select(explode(ladder).as("k"), col("d"))
      .filter(col("d") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_rich_nodes"))
    val edgeMin = canon
      .join(deg.select(col("id").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("d").as("dv")), Seq("v"))
      .select(least(col("du"), col("dv")).as("m"))
    val edgeCounts = edgeMin.select(explode(ladder).as("k"), col("m"))
      .filter(col("m") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_rich_edges"))
    import spark.implicits._
    RichClubKs.map(_.toLong).toDF("k")
      .join(broadcast(nodeCounts), Seq("k"), "left_outer")
      .join(broadcast(edgeCounts), Seq("k"), "left_outer")
      .select(col("k"),
        coalesce(col("n_rich_nodes"), lit(0L)).as("n_rich_nodes"),
        coalesce(col("n_rich_edges"), lit(0L)).as("n_rich_edges"))
      .select(col("k"), col("n_rich_nodes"), col("n_rich_edges"),
        when(col("n_rich_nodes") >= 2,
          round(col("n_rich_edges").cast("double") * 2.0 /
            (col("n_rich_nodes") * (col("n_rich_nodes") - 1)).cast("double"), 6))
          .otherwise(lit(0.0)).as("phi"))
      .orderBy(col("k"))
  }

  /** Log2-binned degree distribution of the thresholded graph — the
    * first diagnostic plot of any graph analysis (is the similarity
    * graph power-law or uniform-dense; where do the hubs start).
    * Bucket = the largest power of two ≤ deg (0 for isolated nodes),
    * computed by an EXPLICIT literal when-chain rather than
    * floor(log2(deg)) — integer-exact in both engines, no FP-boundary
    * risk at deg = 2^k. One degree aggregate + one |V|-row narrow map
    * + a ≤33-row count. `g_degree_hist`. */
  def degreeHist(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir).filterEdges(col("distance") <= QueryThreshold)
    val deg = g.degrees.select(col("id"), col("deg"))
    val bucket = (1 to 31).foldLeft(when(col("deg") === 0, lit(0L))) {
      (acc, k) => acc.when(col("deg") < (1L << k), lit(1L << (k - 1)))
    }.otherwise(lit(1L << 31))
    deg.select(bucket.as("deg_bucket"), col("deg"))
      .groupBy(col("deg_bucket"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"))
      .orderBy(col("deg_bucket"))
  }

  /** Inter-genus similarity matrix: the genus-level PROJECTION of the
    * thresholded sharesDNA graph — for every unordered pair of phage
    * genera, how many similarity edges connect them, the closest pair
    * (min distance — exact, order-free), and the mean edge distance
    * (DECIMAL(18,12) sum ÷ count, the [[cloudStats]] order-independent
    * idiom). The aggregate view a corpus browser renders as a heatmap
    * before descending into per-cloud detail — the reference's
    * one-cloud-at-a-time CLI has no equivalent. Plan shape: the edge
    * table joins the node table twice ON THE NODE ID (both fact-scale
    * at 100 TB → shuffled equi-joins, AQE picks broadcast when the
    * node projection measures small) and the result groups to at most
    * C(|genera|+1, 2) rows — 28 here. `g_genus_projection`. */
  def genusProjection(spark: SparkSession, dir: String): DataFrame = {
    val gn = phageNodes(spark, dir).select(col("id"), col("genus"))
    graph(spark, dir).edges
      .filter(col("distance") <= QueryThreshold)
      .join(gn.select(col("id").as("src"), col("genus").as("gs")), Seq("src"))
      .join(gn.select(col("id").as("dst"), col("genus").as("gd")), Seq("dst"))
      .select(least(col("gs"), col("gd")).as("genus_a"),
        greatest(col("gs"), col("gd")).as("genus_b"),
        col("distance"))
      .groupBy(col("genus_a"), col("genus_b"))
      .agg(count(lit(1)).as("n_edges"),
        min(col("distance")).as("min_distance"),
        sum(col("distance").cast(DecimalType(18, 12))).as("dist_sum"))
      .select(col("genus_a"), col("genus_b"), col("n_edges"), col("min_distance"),
        round(col("dist_sum").cast("double") / col("n_edges"), 6).as("avg_distance"))
      .orderBy(col("genus_a"), col("genus_b"))
  }

  /** Minimum spanning forest of the thresholded similarity graph — the
    * "cloud backbone": the cheapest edge set that keeps every cloud
    * connected, the standard skeleton for dendrogram-style cloud
    * browsing (cutting the forest's heaviest edges = single-linkage
    * clustering at any finer threshold, for free). Distributed Borůvka
    * via [[Algorithms.boruvkaMst]]; emits the forest edge list
    * (u, v, distance). `g_mst`. */
  def mst(spark: SparkSession, dir: String): DataFrame =
    overForestLayer(spark, dir)(mstOn)

  /** Materialized Borůvka LAYER — the shared substrate of the forest
    * family. [[mst]], [[mstWeight]] and [[thresholdSweep]] are all
    * reports over ONE spanning forest + component table; as
    * independent registry keys each rebuilds the kernel (each plan is
    * individually scale-safe), but a production pipeline materializes
    * this layer ONCE and fans it out — the [[graft.pipeline.Dedup
    * .dedupClusters]] shared-layer contract. The `*On(layer)` variants
    * are that contract, and `GraphSpec`'s composition test certifies
    * the three consumers agree bit-for-bit whether they run on a
    * shared layer or rebuild it. Returns (nodes, forest (u, v, w),
    * components (id, c)) — forest and components leave [[Algorithms
    * .boruvkaMst]] materialized and stats-re-rooted. */
  def forestLayer(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val g = graph(spark, dir).filterEdges(col("distance") <= QueryThreshold)
    // materialized ONCE here — the kernel's contract is a caller-owned
    // edge frame (it reads it every round, and must not pin a 2nd copy)
    val ew = g.edges.select(col("src").as("u"), col("dst").as("v"),
      col("distance").as("w")).localCheckpoint(true)
    val nodes = g.nodes.select(col("id")).localCheckpoint(true)
    val (forest, comp) = Algorithms.boruvkaMst(nodes, ew)
    // forest and comp leave the kernel eagerly materialized, so the
    // edge checkpoint has served its purpose for EVERY consumer — the
    // layer's reports only read (nodes, forest, comp)
    Algorithms.releaseIterate(ew)
    (nodes, forest, comp)
  }

  /** Single-consumer forest-layer lifecycle: build a private layer,
    * materialize the report, release the layer's three checkpoints
    * (nodes plus the [[Algorithms.freshStats]]-wrapped forest and
    * component tables — hence the lineage walk). The `*On` variants
    * keep the caller-owned contract for shared fan-out. */
  private def overForestLayer(spark: SparkSession, dir: String)(
      f: ((DataFrame, DataFrame, DataFrame)) => DataFrame): DataFrame = {
    val layer = forestLayer(spark, dir)
    val raw = f(layer)
    val out = raw.localCheckpoint(true)
    // raw's plan still sees any intermediate checkpoint f pinned (its
    // own root included — superseded by `out` now); the layer pieces
    // are freshStats-wrapped, hence the lineage walk
    Algorithms.releaseLineage(raw)
    Seq(layer._1, layer._2, layer._3).foreach(Algorithms.releaseLineage)
    out
  }

  /** [[mst]] over a caller-materialized [[forestLayer]]. */
  def mstOn(layer: (DataFrame, DataFrame, DataFrame)): DataFrame =
    layer._2.select(col("u"), col("v"), col("w").as("distance"))
      .orderBy(col("u"), col("v"))

  /** Per-cloud spanning-tree cost report over [[mst]]'s forest: node
    * count, forest edge count (= n_nodes − 1, the tree invariant the
    * spec asserts) and decimal-exact total backbone weight per
    * component. Borůvka's final component table IS the graph's
    * connected components (convergence = edge saturation), so the
    * report rides the kernel's own state — no second CC run.
    * `g_mst_weight`. */
  def mstWeight(spark: SparkSession, dir: String): DataFrame =
    overForestLayer(spark, dir)(mstWeightOn)

  /** [[mstWeight]] over a caller-materialized [[forestLayer]]. */
  def mstWeightOn(layer: (DataFrame, DataFrame, DataFrame)): DataFrame = {
    val (_, forest, comp) = layer
    val nodeStats = comp.groupBy(col("c").as("component"))
      .agg(count(lit(1)).as("n_nodes"))
    val forestStats = forest
      .join(comp.select(col("id").as("u"), col("c")), Seq("u"))
      .groupBy(col("c").as("component"))
      .agg(count(lit(1)).as("n_mst_edges"),
        sum(col("w").cast(DecimalType(18, 12))).as("ws"))
    nodeStats.join(forestStats, Seq("component"), "left_outer")
      .select(col("component"), col("n_nodes"),
        coalesce(col("n_mst_edges"), lit(0L)).as("n_mst_edges"),
        when(col("n_mst_edges").isNotNull,
          round(col("ws").cast("double"), 6)).otherwise(lit(0.0))
          .as("total_weight"))
      .orderBy(col("component"))
  }

  /** Thresholds for [[thresholdSweep]], all ≤ [[QueryThreshold]] (the
    * forest is built at 0.10, so the single-linkage identity holds for
    * every cut at or below it). */
  val SweepThresholds: Seq[Double] = Seq(0.02, 0.05, 0.08, 0.10)

  /** Cloud census across distance thresholds — "how do the clouds
    * merge as the cut loosens", the dendrogram summary behind the
    * reference's `-d` flag: per threshold, the number of clouds, the
    * largest cloud, and the singleton count. The trick that makes a
    * k-threshold sweep almost free is SINGLE-LINKAGE EQUIVALENCE:
    * connected components over {graph edges ≤ t} equal components over
    * {MST edges ≤ t} for any t below the forest's build threshold — so
    * ONE Borůvka run replaces k full-graph CC runs, and each cut runs
    * the CC kernel on a FOREST (|V|−c edges, not |E|). At 100 TB that
    * is the difference between k passes over the edge corpus and one.
    * `g_threshold_sweep`. */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame =
    overForestLayer(spark, dir)(thresholdSweepOn)

  /** [[thresholdSweep]] over a caller-materialized [[forestLayer]].
    *
    * The cuts are NESTED (single-linkage dendrogram property: a
    * component at cut tᵢ is wholly inside one component at tᵢ₊₁), so
    * the sweep is INCREMENTAL, ascending ([[Algorithms.nestedCut]]):
    * each later cut's kernel input is only the (tᵢ₋₁, tᵢ] band of
    * forest edges over the previous cut's supernodes, and labels stay
    * identical to a from-scratch run (the direct-CC identity spec
    * proves it). The build-threshold census is free: Borůvka's own
    * component table IS that cut. */
  def thresholdSweepOn(layer: (DataFrame, DataFrame, DataFrame)): DataFrame = {
    val (nodes, forest, fullComp) = layer
    var prev: DataFrame = null
    var prevT = Double.NegativeInfinity // below any distance, 0 included
    val cutCks = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val perT = SweepThresholds.sorted.map { t =>
      val cc =
        if (t == QueryThreshold) fullComp.withColumnRenamed("c", "comp")
        else Algorithms.nestedCut(nodes, prev,
          forest.filter(col("w") > prevT && col("w") <= t)
            .select(col("u").as("src"), col("v").as("dst")))
      if (t < QueryThreshold) {
        // the next band contracts against this cut: materialize it once
        // (it fans out into the band join's two sides, the supernode
        // set, the relabel join AND this cut's census) and re-root its
        // stats — a CC output composed into another CC loop is
        // exactly the compounding shape freshStats exists for.
        prev = Algorithms.freshStats(cc).localCheckpoint(true)
        cutCks += prev
        prevT = t
      }
      val censusSrc = if (t < QueryThreshold) prev else cc
      censusSrc.groupBy(col("comp")).agg(count(lit(1)).as("sz"))
        .agg(lit(t).as("threshold"),
          count(lit(1)).as("n_clouds"),
          max(col("sz")).as("max_cloud"),
          sum(when(col("sz") === 1, 1L).otherwise(0L)).as("n_singletons"))
    }
    // the census is k rows — materialize it HERE and release the k−1
    // |V|-row cut label tables immediately, instead of pinning them
    // until (and beyond: they were never released) the caller's
    // action. The function's one extra action is the k-row checkpoint;
    // every kernel action already ran during construction.
    val out = perT.reduce(_ unionByName _).orderBy(col("threshold"))
      .localCheckpoint(true)
    cutCks.foreach(Algorithms.releaseIterate)
    out
  }

  /** Degree assortativity of the similarity graph — the Pearson
    * correlation between the total degrees at the two endpoints of
    * every edge (Newman 2002, "Assortative mixing in networks"):
    * positive = hubs link to hubs (one dense cloud core), negative =
    * hub–leaf star clouds. The one-number graph-topology summary a
    * corpus report card leads with.
    *
    * Exactness: every edge contributes its endpoint-degree pair in
    * BOTH orientations (the undirected convention), so all four
    * sufficient statistics are INTEGER sums — order-independent, no
    * float accumulation — and the coefficient is one fixed double
    * expression over them, bit-identical across engines. Degree
    * products are summed as DECIMAL(38,0) (Spark) / HUGEINT (DuckDB):
    * at 10^10 edges with 10^6-degree hubs the Σd² terms pass 2^63, so
    * long sums would overflow exactly where the statistic matters.
    * Plan: the degree table joins the edge list twice on its key (two
    * keyed shuffles), then ONE aggregate row; nothing grows beyond the
    * edge count, no window, no collect. `g_assortativity`. */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir)
    val deg = g.degrees.select(col("id"), col("deg"))
    val dec = DecimalType(18, 0)
    val joined = g.edges.select(col("src"), col("dst"))
      .join(deg.select(col("id").as("src"), col("deg").cast(dec).as("dx")), Seq("src"))
      .join(deg.select(col("id").as("dst"), col("deg").cast(dec).as("dy")), Seq("dst"))
    joined
      .agg((count(lit(1)) * 2).cast("long").as("n_endpoints"),
        (sum(col("dx") * col("dy")) * 2).as("sxy"),
        sum(col("dx") + col("dy")).as("sx"),
        sum(col("dx") * col("dx") + col("dy") * col("dy")).as("sx2"))
      .select(col("n_endpoints"),
        round(
          (col("n_endpoints").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) /
          (col("n_endpoints").cast("double") * col("sx2").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")), 6)
          .as("assortativity"))
  }

  /** Newman modularity Q of the label-propagation communities — the
    * standard "are these communities real structure or noise" score
    * (Q > 0.3 ≈ meaningful): Q = Σ_c [e_c/m − (d_c/2m)²] over the
    * query-threshold subgraph, where e_c is the intra-community edge
    * count and d_c the community degree sum. Composes [[labelProp]]'s
    * kernel with three aggregates — the eval an actual community-
    * detection pipeline runs after the clustering.
    *
    * Exactness: the float form sums per-community doubles in a
    * run-dependent order, so the RATIONAL form is used instead —
    * Q·4m² = 4m·Σe_c − Σd_c², all integer sums (DECIMAL(38,0) /
    * HUGEINT), then ONE double division + round. Plan: the label
    * iterate joins the edge list (two keyed joins), one degree union
    * aggregate, then three 1-row aggregates combined by broadcast —
    * nothing beyond the label-prop loop grows with the graph.
    * `g_modularity`. */
  def modularity(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir).filterEdges(col("distance") <= QueryThreshold)
    val lbl = Algorithms.labelPropagation(g.nodes, g.edges)
      .select(col("id"), col("lbl")).localCheckpoint(true)
    val e = g.edges.select(col("src"), col("dst")).localCheckpoint(true)
    val dec = DecimalType(38, 0)
    val deg = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val dc = lbl.join(deg, Seq("id"), "left_outer")
      .groupBy(col("lbl"))
      .agg(sum(coalesce(col("deg"), lit(0L))).cast(dec).as("dsum"))
    val dstats = dc.agg(count(lit(1)).as("n_communities"),
      sum(col("dsum") * col("dsum")).as("sum_d2"))
    val mrow = e.agg(count(lit(1)).as("n_edges"))
    val erow = e
      .join(lbl.select(col("id").as("src"), col("lbl").as("ls")), Seq("src"))
      .join(lbl.select(col("id").as("dst"), col("lbl").as("ld")), Seq("dst"))
      .filter(col("ls") === col("ld"))
      .agg(count(lit(1)).as("intra_edges"))
    dstats.join(broadcast(mrow)).join(broadcast(erow))
      .select(col("n_communities"), col("n_edges"), col("intra_edges"),
        round(
          (lit(4).cast(dec) * col("n_edges").cast(dec) *
            col("intra_edges").cast(dec) - col("sum_d2")).cast("double") /
          (lit(4).cast(dec) * col("n_edges").cast(dec) *
            col("n_edges").cast(dec)).cast("double"), 6).as("modularity"))
  }

  /** Seed count and hop budget for [[eccentricity]]. */
  val EccSeeds = 4
  val EccMaxRounds = 16

  /** Sampled eccentricity / approximate diameter — hop-count BFS from
    * [[EccSeeds]] fixed seeds (lowest node ids — deterministic and
    * oracle-replayable) over the symmetrized query-threshold graph:
    * per seed, the reach count and the max hop distance; the max over
    * seeds lower-bounds the graph diameter (the standard sampled
    * estimator — exact diameter is all-pairs and off the table at any
    * scale). The hop BUDGET ([[EccMaxRounds]]) is part of the
    * contract, exactly like the SSSP relax budget: distances are exact
    * within ≤ budget hops, and the oracle replays the same cap.
    *
    * Scale shape: state is the SPARSE reached set (seed, node, d) —
    * ≤ seeds × n rows, frontier-delta expansion (only last round's new
    * pairs join the edge list), one keyed aggregate + one anti-join
    * per round, iterates checkpointed and released like every graph
    * loop here. Seeds ride along as a key column, so K sources cost
    * ONE loop, not K. `g_eccentricity`. */
  def eccentricity(spark: SparkSession, dir: String): DataFrame =
    seedBfs(spark, dir)
      .groupBy(col("seed"))
      .agg(count(lit(1)).as("n_reached"), max(col("d")).as("eccentricity"))
      .orderBy(col("seed"))

  /** LCM(1..[[EccMaxRounds]]) — every hop distance divides it, so the
    * harmonic sum Σ 1/d can be kept integer-exact as Σ HarmonicLcm/d. */
  val HarmonicLcm = 720720L

  /** Sampled harmonic centrality (Boldi & Vigna 2014's preferred
    * closeness variant — finite under disconnection): per seed,
    * H(s) = Σ_{v≠s, reached} 1/d(s,v) over the same budgeted BFS as
    * [[eccentricity]] — one extra aggregate over the identical
    * [[seedBfs]] state, so the marginal cost of the second centrality
    * is ZERO loop rounds. Exactness: 1/d sums in run-dependent double
    * order, so the sum is kept INTEGER — Σ [[HarmonicLcm]]/d (every
    * d ≤ [[EccMaxRounds]] divides the LCM exactly; the division is an
    * exact IEEE op in both engines) — with ONE double division +
    * round(6) at the end. `g_harmonic`. */
  def harmonic(spark: SparkSession, dir: String): DataFrame =
    seedBfs(spark, dir)
      .groupBy(col("seed"))
      .agg(count(lit(1)).as("n_reached"),
        sum(when(col("d") > 0, (lit(HarmonicLcm) / col("d")).cast("long"))
          .otherwise(0L)).as("hsum"))
      .select(col("seed"), col("n_reached"),
        round(col("hsum").cast("double") / HarmonicLcm, 6).as("harmonic"))
      .orderBy(col("seed"))

  /** Sampled closeness centrality — the within-reach form used under
    * disconnection (Wasserman–Faust numerator): c(s) = (r−1)/Σd where
    * r = |reached(s)|, over the same budgeted [[seedBfs]] state as
    * [[eccentricity]]/[[harmonic]] — a third aggregate over the shared
    * kernel, zero extra loop rounds. Both sufficient statistics
    * (r, Σd) are INTEGER sums — exact in any aggregation order in both
    * engines — with one double division + round(6) at the end; the hop
    * budget is part of the contract, as with the sibling centralities.
    * An isolated seed (Σd = 0) reports closeness 0. `g_closeness`. */
  def closeness(spark: SparkSession, dir: String): DataFrame =
    seedBfs(spark, dir)
      .groupBy(col("seed"))
      .agg(count(lit(1)).as("n_reached"), sum(col("d")).as("sum_d"))
      .select(col("seed"), col("n_reached"), col("sum_d"),
        when(col("sum_d") > 0,
          round((col("n_reached") - 1).cast("double") / col("sum_d").cast("double"), 6))
          .otherwise(lit(0.0)).as("closeness"))
      .orderBy(col("seed"))

  /** The shared K-seed budgeted-BFS state: (seed, id, d) for every
    * node within [[EccMaxRounds]] hops of an [[EccSeeds]] seed —
    * [[eccentricity]] and [[harmonic]] are aggregates over it. */
  private[graft] def seedBfs(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir)
    Algorithms.hopDistances(
      g.nodes.select(col("id")).orderBy(col("id")).limit(EccSeeds),
      g.symmetrizedEdges.filter(col("distance") <= QueryThreshold),
      EccMaxRounds)
  }

  /** Hop budget for [[khopReach]] — Cypher's `*1..3`. */
  val KhopMaxHops = 3

  /** Bounded variable-length expand — the Cypher surface
    * `(a)-[:sharesDNA*1..k]-(b)` the reference's fixed-depth queries
    * generalize to (gdb.py:56-58 is depth 1, [[twoHop]] is depth 2):
    * for every taxon-seed phage, every genome within [[KhopMaxHops]]
    * hops in the symmetrized threshold graph, with its hop distance
    * (shortest edge count). Hop 0 is excluded, matching the `*1..`
    * lower bound. Rides [[Algorithms.hopDistances]] — the same
    * frontier-delta budgeted BFS as the centrality family, so K seeds
    * cost one loop and state stays the sparse reached set.
    * `g_khop_reach`. */
  def khopReach(spark: SparkSession, dir: String, k: Int = KhopMaxHops,
                taxon: String = Taxon): DataFrame = {
    val g = graph(spark, dir)
    Algorithms.hopDistances(
      seeds(spark, dir, taxon).select(col("id")),
      g.symmetrizedEdges.filter(col("distance") <= QueryThreshold), k)
      .filter(col("d") >= 1)
      .select(col("seed").as("seed_phage"), col("id").as("reached"),
        col("d").as("hops"))
      .orderBy(col("seed_phage"), col("reached"))
  }

  /** Sampled betweenness centrality — Brandes' dependency accumulation
    * (Brandes 2001, "A faster algorithm for betweenness centrality")
    * over the SAME [[EccSeeds]]-seed / [[EccMaxRounds]]-hop budgeted
    * BFS as [[eccentricity]]/[[harmonic]], on the symmetrized
    * query-threshold graph. Per seed s: forward BFS counts shortest
    * paths ([[Algorithms.hopDistancesSigmaOn]] — sigma rides the
    * existing frontier-delta loop), then layers accumulate backward,
    *   δ(u) = Σ_{v ∈ succ(u)} σ(u)/σ(v) · (1 + δ(v)),
    * and b(v) = Σ_s δ_s(v) for v ≠ s (the K-sample estimator; no
    * normalization, documented as raw dependency mass). The hop budget
    * is part of the contract exactly like SSSP's relax budget:
    * dependencies of nodes beyond the budget are 0 by definition, and
    * the oracle unrolls the same [[EccMaxRounds]] layers.
    *
    * Exactness (what makes a DuckDB hash-match possible): σ is
    * DECIMAL(38,0) (integer-exact path counts), and each backward TERM
    * — (σu/σv)·(1+δv), computed in identical IEEE double ops on
    * identical inputs in both engines — is quantized round(·,6) and
    * cast DECIMAL(38,6) BEFORE the aggregate, so every SUM in the
    * accumulation is a decimal sum: exact and order-independent. A
    * double-summed δ would carry shuffle-order noise that 1500-node
    * magnitudes amplify past any rounding guard; term-wise
    * quantization kills the ordering dependence instead of racing it.
    *
    * Scale shape: the backward pass is ≤[[EccMaxRounds]] rounds of
    * (layer ⋈ edges ⋈ next-layer) equi-joins — each joins one BFS
    * LAYER (≤ seeds × frontier rows) against the edge list, mirroring
    * the forward loop's per-round cost; one eager checkpoint per layer
    * keeps the plan flat. State never exceeds the (seed, id) reach
    * set. `g_betweenness`. */
  def betweenness(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir)
    betweennessKernel(
      g.nodes.select(col("id")),
      g.symmetrizedEdges.filter(col("distance") <= QueryThreshold)
        .select(col("src"), col("dst")))
  }

  /** The seed-sampled Brandes kernel over explicit (nodes, symmetrized
    * edges) — factored out so specs can drive fixture graphs. */
  private[graft] def betweennessKernel(nodes: DataFrame, symEdges: DataFrame): DataFrame = {
    val dec = DecimalType(38, 6)
    val e = symEdges.select(col("src").as("u"), col("dst").as("v"))
      .localCheckpoint(true)
    val deltas = Algorithms.collectAdjImage(e, e.count()) { bc =>
      // IMAGE-GATED Brandes (the [[Algorithms.squareCensusImg]] idiom):
      // forward sigma-BFS plus the backward layer accumulation ran
      // ~3 scheduler jobs per BFS layer plus one eager checkpoint per
      // backward layer — for 4 seeds on a graph whose CSR fits the
      // broadcast gate, the whole dependency computation is one narrow
      // map over the image, one task per seed, zero exchanges until
      // the final (id)-keyed sum. Bit-identity: sigma is exact integer
      // BFS path counting (BigInteger — the DECIMAL(38,0) twin), and
      // each backward term replays the Spark expression chain exactly:
      // (sigma_u.double / sigma_v.double) * (1.0 + delta_v.double),
      // round-6 via BigDecimal.valueOf(x).setScale(6, HALF_UP) to a
      // double, then the cast back to DECIMAL(38,6) — the same
      // valueOf/setScale pair — then an exact scale-6 decimal sum per
      // node, per-seed rows identical to the layer frames' union.
      // Above the image bound the distributed forward+backward stands.
      val sess = e.sparkSession
      import sess.implicits._
      val seedArr = nodes.orderBy(col("id")).limit(EccSeeds)
        .select(col("id").cast("long")).as[Long].collect()
      val deltasImg = betweennessDeltasImg(sess, seedArr, bc)
      Algorithms.releaseIterate(e) // deltas are materialized; the edge
      // checkpoint has no remaining reader on this path
      deltasImg
    } {
      // the rename is a narrow projection over the SAME checkpoint blocks
      // — forward pass and backward layers share one edge copy
      val state = Algorithms.hopDistancesSigmaOn(
        nodes.orderBy(col("id")).limit(EccSeeds),
        e.select(col("u").as("src"), col("v").as("dst")), EccMaxRounds)
      // coalesce: an empty node set yields max(d) = NULL; degrade to an
      // empty result frame like every other kernel instead of an NPE
      val maxD = state.agg(coalesce(max(col("d")), lit(0L))).head.getLong(0)
      // deepest layer has no successors within the budget → δ = 0
      var deltaNext = state.filter(col("d") === maxD)
        .select(col("seed"), col("id"), col("sigma"),
          lit(0).cast(dec).as("delta"))
        .localCheckpoint(true)
      // layer-0 rows are the seeds themselves: b(v) sums δ_s(v) for
      // v ≠ s only, so layer 0 never joins the output union
      val layers = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      if (maxD > 0) layers += deltaNext.select(col("seed"), col("id"), col("delta"))
      var l = maxD - 1
      while (l >= 1) {
        val uLayer = state.filter(col("d") === l)
        val nxt = deltaNext.select(col("seed").as("s2"), col("id").as("id2"),
          col("sigma").as("sigma2"), col("delta").as("delta2"))
        val contrib = uLayer.join(e, uLayer("id") === e("u"))
          .join(nxt, col("seed") === col("s2") && col("v") === col("id2"))
          .select(col("seed"), uLayer("id").as("id"),
            round((uLayer("sigma").cast("double") / col("sigma2").cast("double")) *
              (lit(1.0) + col("delta2").cast("double")), 6).cast(dec).as("t"))
          .groupBy(col("seed"), col("id")).agg(sum(col("t")).as("dsum"))
        // EAGER checkpoint, one bounded job per layer — deliberately NOT
        // the forward loop's lazy one-action pattern: measured at the
        // 150k-node / 85M-edge ScaleBench point, an all-lazy backward
        // chain folds all ≤16 edge-joins into ONE job whose accumulated
        // shuffle + cache footprint OOMs a 32-thread executor JVM, while
        // per-layer jobs hold one edge-join's working set at a time and
        // complete. Round tax here is ≤16 small jobs — noise next to the
        // forward BFS — so the scale-safe shape wins.
        val deltaL = uLayer.join(contrib, Seq("seed", "id"), "left_outer")
          .select(col("seed"), col("id"), col("sigma"),
            coalesce(col("dsum"), lit(0)).cast(dec).as("delta"))
          .localCheckpoint(true)
        layers += deltaL.select(col("seed"), col("id"), col("delta"))
        deltaNext = deltaL
        l -= 1
      }
      if (layers.isEmpty)
        // edgeless graph: no dependency mass anywhere
        state.select(col("id"), lit(0).cast(dec).as("delta")).limit(0)
      else layers.reduce(_ unionByName _).select(col("id"), col("delta"))
    }
    nodes.select(col("id"))
      .join(deltas.groupBy(col("id")).agg(sum(col("delta")).as("b")),
        Seq("id"), "left_outer")
      .select(col("id").as("node"),
        coalesce(col("b"), lit(0)).cast(dec).cast("double").as("betweenness"))
      .orderBy(col("node"))
  }

  /** The executor-side Brandes pass behind [[betweennessKernel]]'s
    * image body: one task per seed over the broadcast SYMMETRIC CSR,
    * emitting the same (id, delta) rows the backward layer frames
    * union to — sigma as exact BigInteger BFS path counts, each
    * dependency term replaying the distributed plan's expression chain
    * digit for digit (see the call site). */
  private def betweennessDeltasImg(spark: SparkSession, seeds: Array[Long],
      bc: Broadcast[Algorithms.AdjImage]): DataFrame = {
    import spark.implicits._
    val budget = EccMaxRounds
    spark.sparkContext
      .parallelize(seeds.toIndexedSeq,
        math.max(1, math.min(seeds.length, spark.sparkContext.defaultParallelism)))
      .mapPartitions { ss =>
        val a = bc.value
        val nn = a.ids.length
        val dist = new Array[Int](nn); java.util.Arrays.fill(dist, -1)
        val sigma = new Array[java.math.BigInteger](nn)
        val delta = new Array[java.math.BigDecimal](nn)
        val order = new Array[Int](math.max(1, nn))
        ss.flatMap { s =>
          val rows = Array.newBuilder[(Long, java.math.BigDecimal)]
          val si = java.util.Arrays.binarySearch(a.ids, s)
          if (si >= 0) {
            // forward: BFS order doubles as the layer order; sigma(w)
            // accumulates over every (u → w) edge with d(u) = d(w) − 1,
            // exactly the distributed frontier-join aggregate
            var head = 0; var tail = 0
            dist(si) = 0; sigma(si) = java.math.BigInteger.ONE
            order(tail) = si; tail += 1
            while (head < tail) {
              val u = order(head); head += 1
              val du = dist(u)
              if (du < budget) {
                var i = a.offs(u)
                while (i < a.offs(u + 1)) {
                  val w = a.flat(i)
                  if (dist(w) < 0) {
                    dist(w) = du + 1
                    sigma(w) = java.math.BigInteger.ZERO
                    order(tail) = w; tail += 1
                  }
                  if (dist(w) == du + 1) sigma(w) = sigma(w).add(sigma(u))
                  i += 1
                }
              }
            }
            // backward: reverse BFS order = non-increasing d, so every
            // successor's delta is final before its predecessors read it
            var t = tail - 1
            while (t >= 0) {
              val u = order(t)
              val du = dist(u)
              val sigU = new java.math.BigDecimal(sigma(u)).doubleValue()
              var acc = java.math.BigDecimal.ZERO.setScale(6)
              var i = a.offs(u)
              while (i < a.offs(u + 1)) {
                val w = a.flat(i)
                if (dist(w) == du + 1) {
                  // the distributed term, op for op: double ratio ×
                  // (1 + delta.double), round-6 to a double, cast back
                  // to DECIMAL(38,6) — both steps BigDecimal.valueOf +
                  // setScale(6, HALF_UP), Spark's own implementations
                  val sigV = new java.math.BigDecimal(sigma(w)).doubleValue()
                  val raw = (sigU / sigV) * (1.0 + delta(w).doubleValue())
                  val r6 = java.math.BigDecimal.valueOf(raw)
                    .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
                  acc = acc.add(java.math.BigDecimal.valueOf(r6)
                    .setScale(6, java.math.RoundingMode.HALF_UP))
                }
                i += 1
              }
              delta(u) = acc
              if (du >= 1) rows += ((a.ids(u), acc))
              t -= 1
            }
            // reset the scratches for the partition's next seed
            var h = 0
            while (h < tail) {
              val x = order(h); dist(x) = -1; sigma(x) = null; delta(x) = null
              h += 1
            }
          }
          rows.result()
        }
      }
      .toDF("id", "delta")
      .select(col("id"), col("delta").cast(DecimalType(38, 6)).as("delta"))
      .localCheckpoint(true) // materialized: the tier destroys the image
  }

  /** Walk length for [[randomWalks]]. */
  val WalkLen = 4

  /** Per-node adjacency cap for [[randomWalks]]'s step joins. Uncapped,
    * each step joins the full frontier against the whole adjacency — a
    * deg-10⁶ hub materializes 10⁶ candidate rows per walk that touches
    * it, to pick ONE neighbour. Capped, every node contributes ≤ cap
    * rows per step, and the walk samples transitions from a hash-fixed
    * ≤cap neighbour subset — the standard neighbour-list truncation a
    * node2vec-style sampler applies, still deterministic and
    * oracle-replayable. */
  val WalkAdjCap = 64

  /** ≤`cap` hash-ranked neighbours per node ((u,v)-salted rank through
    * the native [[graft.plans.TopKPerGroup]] heap — the
    * [[cappedCandidates]] idiom on the adjacency key). Factored out so
    * the spec can plant a synthetic hub and assert the bound. */
  private[graft] def cappedAdjacency(und: DataFrame, cap: Int): DataFrame =
    graft.plans.TopKPerGroup.rankTopK(
        und.withColumn("hkey",
          graft.Hashing.hash60(concat_ws("|", col("u"), col("v")))),
        Seq("u"), Seq("hkey" -> false, "v" -> false), cap)
      .select(col("u"), col("v"))

  /** Driver-built twin of the walk kernels' image pipeline (gated in
    * [[randomWalksOnEdges]] / [[node2vecOnEdges]]): the symmetric CSR
    * of `g` ([[LocalGraph.csr]] over both orientations — a self-loop
    * lands twice in its own slice, as in the symmetric view), each
    * slice capped at the SAME (hash60("u|v") asc, v asc) rank
    * [[cappedAdjacency]]'s heap keeps (row multiset identical — ties
    * are identical rows) and sorted by neighbour (the `sort_array`
    * step; index order = id order). Replaces the heap shuffle +
    * groupBy/collect_list + two-hop image collect with driver array
    * work; only slices longer than `cap` are hashed, so the audit's
    * uncapped twin (cap = MaxValue) hashes nothing. */
  private[graft] def localCappedImage(g: LocalGraph,
                                      cap: Int): Algorithms.AdjImage = {
    val (full, _) = g.csr(both = true)
    val ids = g.ids
    val hashFn = graft.Hashing.hash60Fn()
    val img = Algorithms.AdjImage.alloc(ids,
      Array.tabulate(g.n)(x => math.min(cap, full.offs(x + 1) - full.offs(x))))
    var x = 0
    while (x < g.n) {
      val a = full.offs(x)
      val sl = java.util.Arrays.copyOfRange(full.flat, a, full.offs(x + 1))
      val kept =
        if (sl.length <= cap) sl
        else sl.map(v => (hashFn(s"${ids(x)}|${ids(v)}"), v)).sorted
          .take(cap).map(_._2)
      java.util.Arrays.sort(kept)
      System.arraycopy(kept, 0, img.flat, img.offs(x), kept.length)
      x += 1
    }
    img
  }

  /** Driver-built twin of node2vec's canonical-membership image: the
    * distinct (min, max) non-loop edge set of `g` symmetrized, slices
    * sorted — [[localCappedImage]]'s sibling for the `isEdge` probe. */
  private[graft] def localCanonSymImage(g: LocalGraph): Algorithms.AdjImage = {
    val keys = g.src.indices.filter(e => g.src(e) != g.dst(e)).map { e =>
      val a = math.min(g.src(e), g.dst(e)); val b = math.max(g.src(e), g.dst(e))
      (a.toLong << 32) | b
    }.distinct.toArray
    localCappedImage(new LocalGraph(g.ids,
      keys.map(k => (k >>> 32).toInt), keys.map(k => k.toInt)), Int.MaxValue)
  }

  /** DETERMINISTIC random walks — the graph-sampling stage a
    * DeepWalk/node2vec-style embedding trainer feeds on: one walk per
    * node, each step choosing the neighbour that minimizes a
    * (walk, step, neighbour)-salted hash ([[graft.Hashing.md5Hash60]]).
    * Hash-seeded rather than `rand()` for the same reason the sampling
    * operators are ([[graft.pipeline.Dedup.sampleMix]]): a training
    * corpus sample must replay identically on any cluster size, any
    * retry — and it is what lets the DuckDB oracle replay every step
    * choice bit-for-bit. Each step is one frontier-sized join against
    * the pre-partitioned edge list + a struct-min argmin (map-side
    * combined); walks at dead-end nodes simply stop. Per-step
    * checkpoints keep the k-step plan flat (SURVEY §4 rule 8).
    * Adjacency is pre-capped at [[WalkAdjCap]] neighbours per node
    * ([[cappedAdjacency]]) so hub degree never multiplies the step
    * join; the DuckDB oracle replays the cap. `g_random_walk`. */
  def randomWalks(spark: SparkSession, dir: String, len: Int = WalkLen,
                  cap: Int = WalkAdjCap, sampleMod: Long = 1L): DataFrame = {
    val g = graph(spark, dir).filterEdges(col("distance") <= QueryThreshold)
    // materialized ONCE (the mst caller-owned idiom): the similarity
    // self-join would otherwise execute once per symmetrization branch
    val e = g.edges.select(col("src"), col("dst")).localCheckpoint(true)
    val out = randomWalksOnEdges(spark, g.nodes, e, len, cap, sampleMod)
    // everything derived from the edge checkpoint is eagerly
    // materialized inside the kernel (capped adjacency, walk table) —
    // release it rather than pinning self-join output for the session
    Algorithms.releaseIterate(e)
    out
  }

  /** [[randomWalks]] kernel over a CALLER-OWNED (id) node / (src, dst)
    * edge frame — the seam [[walkCapAudit]] shares ONE edge checkpoint
    * through (its two legs each executed the similarity self-join
    * before; the audit's uncapped twin now scans the same blocks). */
  private[graft] def randomWalksOnEdges(spark: SparkSession,
                  nodesIn: DataFrame, edgesIn: DataFrame, len: Int,
                  cap: Int, sampleMod: Long = 1L): DataFrame = {
    val baseAdj = edgesIn.select(col("src").as("u"), col("dst").as("v"))
      .union(edgesIn.select(col("dst").as("u"), col("src").as("v")))
    // sampleMod > 1 restricts walk STARTS to a deterministic hash
    // subset (≈ |V| / mod walks) — the audit's above-bound replay;
    // mod = 1 leaves the production plan byte-identical
    val starts =
      if (sampleMod <= 1L) nodesIn
      else nodesIn.filter(pmod(graft.Hashing.hash60(
        concat_ws("|", col("id"), lit("wsample"))), lit(sampleMod)) === 0)
    // BOUNDED-COLLECT image build (the boruvkaMstLocal class of gate):
    // below [[Gates.edges]] symmetric rows the capped adjacency image is
    // built ON THE DRIVER from one collect of the caller's edge
    // checkpoint ([[localCappedImage]] — same (hash60 asc, v asc) cap,
    // same sorted slices, same packed CSR), replacing the heap shuffle +
    // checkpoint + groupBy/collect_list + two-hop image collect. Above
    // it the capped adjacency is checkpointed and the image tier
    // ([[Algorithms.collectAdjImage]]) picks the distributed image
    // build or, past its bound, the step loop. The gate count is one
    // cached scan of the caller-materialized edge frame; [[Gates.cells]]
    // binds the driver build too: 2|E| bounds the capped cell count from
    // above, so below it the image is in-bound for sure.
    //
    // IMAGE-GATED WALKS (the [[Algorithms.squareCensusImg]] idiom): each
    // deterministic step of the loop runs a hop join + the top-1 heap +
    // an eager checkpoint — len × (several scheduler jobs) — while the
    // whole walk is a per-walker local computation once the (capped)
    // adjacency fits an image. WALKERS STAY DISTRIBUTED (one narrow map
    // over the starts scan — no driver collect of |V| rows), so this
    // path scales with the corpus on the walker axis and is gated only
    // on the graph side. Bit-identity: the per-step argmin replays
    // (hash60("walk|s|v") asc, v asc) — the heap's exact total order —
    // with [[graft.Hashing.hash60Fn]], the spec-pinned JVM twin of the
    // Column hash in BOTH conf modes; a walker whose node has no
    // adjacency row dies exactly like the inner hop join dropped it.
    def walk(bc: Broadcast[Algorithms.AdjImage]): DataFrame = {
      val hashFn = graft.Hashing.hash60Fn() // impl resolved NOW, driver-side
      val lenL = len
      val sess = spark
      import sess.implicits._
      // walker axis re-laid off the native 1-task node-scan layout
      // (the m_phash decode precedent): row values depend only on the
      // walker id, so the round-robin split is value-transparent and
      // the per-walker md5 loop runs on every core instead of one
      starts.select(col("id").cast("long")).as[Long]
        .repartition(spark.sparkContext.defaultParallelism)
        .mapPartitions { ws =>
          val a = bc.value
          ws.flatMap { w =>
            val rows = Array.newBuilder[(Long, Int, Long)]
            rows += ((w, 0, w))
            var cur = w
            var s = 1
            var alive = true
            while (s <= lenL && alive) {
              val ci = java.util.Arrays.binarySearch(a.ids, cur)
              var found = false
              var bestH = Long.MaxValue
              var bestV = Long.MaxValue
              if (ci >= 0) {
                var i = a.offs(ci)
                while (i < a.offs(ci + 1)) {
                  val v = a.ids(a.flat(i))
                  val h = hashFn(s"$w|$s|$v")
                  if (!found || h < bestH || (h == bestH && v < bestV)) {
                    found = true; bestH = h; bestV = v
                  }
                  i += 1
                }
              }
              if (found) { rows += ((w, s, bestV)); cur = bestV; s += 1 }
              else alive = false
            }
            rows.result()
          }
        }
        .toDF("walk_id", "step", "node")
        .localCheckpoint(true)
    }
    val nE2 = 2 * edgesIn.count()
    if (nE2 <= Gates.edges && nE2 <= Gates.cells)
      return Algorithms.withImage(spark,
          localCappedImage(LocalGraph.collect(edgesIn, "src", "dst"), cap))(walk)
        .orderBy(col("walk_id"), col("step"))
    // cap = MaxValue is the audit's exact twin — skip the no-op
    // hash-heap pass rather than rank every adjacency row for nothing
    val und = (if (cap == Int.MaxValue) baseAdj else cappedAdjacency(baseAdj, cap))
      .localCheckpoint(true) // one hop join per step
    val out = Algorithms.collectAdjImage(und, und.count())(walk)(
      walkSteps(starts, und, len))
    Algorithms.releaseIterate(und)
    out.orderBy(col("walk_id"), col("step"))
  }

  /** [[randomWalksOnEdges]]' distributed step loop over the capped (u, v)
    * adjacency checkpoint `und`; the walk table comes back materialized. */
  private def walkSteps(starts: DataFrame, und: DataFrame, len: Int): DataFrame = {
    var cur = starts.select(col("id").as("walk_id"), col("id").as("node"))
      .localCheckpoint(true)
    val stepCks = scala.collection.mutable.ListBuffer[DataFrame](cur)
    val steps = Seq.newBuilder[org.apache.spark.sql.DataFrame]
    steps += cur.withColumn("step", lit(0))
    for (s <- 1 to len) {
      val hkey = graft.Hashing.hash60(
        concat_ws("|", col("walk_id"), lit(s), col("v")))
      // per-walk argmin through the native top-1 heap: the struct-min
      // aggregate fell back to EXTERNAL SORTS of the full candidate
      // stream past 128 walk_ids per task (see TopKPerGroup
      // .top1PerGroup) — same rows, same (hk, v) total order
      cur = graft.plans.TopKPerGroup.top1PerGroup(
          cur.join(und, col("node") === col("u"))
            .select(col("walk_id"), col("v"), hkey.as("hk")),
          Seq("walk_id"), Seq("hk" -> false, "v" -> false))
        .select(col("walk_id"), col("v").as("node"))
        .localCheckpoint(true) // referenced by output AND the next step
      stepCks += cur
      steps += cur.withColumn("step", lit(s))
    }
    // materialize the unioned walk table eagerly, then release the
    // len+1 per-step checkpoints (the caller releases the capped
    // adjacency) — the thresholdSweep release discipline; without it
    // every walk call pinned (len+2) |V|-to-|E|-row block sets for the
    // session. The caller's sort rides lazily ON TOP of the checkpoint
    // so order-insensitive consumers (counts, re-aggregations) skip it.
    val out = steps.result().reduce(_ unionByName _)
      .select(col("walk_id"), col("step"), col("node"))
      .localCheckpoint(true)
    stepCks.foreach(Algorithms.releaseIterate)
    out
  }

  /** node2vec BIASED walks (Grover & Leskovec 2016) — the SECOND-ORDER
    * refinement of [[randomWalks]]: each step's neighbour weight
    * depends on the graph distance between the candidate and the
    * PREVIOUS node (1/p to return, 1 to a common neighbour — a
    * triangle — and 1/q to leave the neighbourhood), interpolating
    * BFS-like and DFS-like exploration. Determinism: weighted choice
    * by exponential clocks — candidate key = −ln(U)/w with U a
    * (walk, step, candidate)-salted md5 uniform in (0, 1]; the min key
    * is distributed ∝ w, and BOTH engines replay the identical
    * double sequence (p = 4 and q = 1/4 make the weights exact binary
    * 0.25/1/4, so the division is exact scaling). Plan shape per step:
    * one frontier⋈capped-adjacency join ([[WalkAdjCap]] bounds hub
    * fan-out), one LEFT join against the canonical edge set for the
    * is-triangle test (equi-join on the (min, max) pair — never a
    * neighbourhood product), one struct-min argmin. Walk state carries
    * (prev, node); step 1 has no prev and is the uniform
    * [[randomWalks]] choice. `g_node2vec_walks`. */
  val Node2vecP = 4.0
  val Node2vecQ = 0.25

  def node2vecWalks(spark: SparkSession, dir: String, len: Int = WalkLen,
                    cap: Int = WalkAdjCap, p: Double = Node2vecP,
                    q: Double = Node2vecQ): DataFrame = {
    val g = graph(spark, dir).filterEdges(col("distance") <= QueryThreshold)
    // materialized ONCE (the mst caller-owned idiom): the kernel scans
    // its edge frame three times (two symmetrization branches + the
    // canonical membership probe) — lazily passed, the similarity
    // self-join would execute per scan
    val e = g.edges.select(col("src"), col("dst")).localCheckpoint(true)
    val out = node2vecOnEdges(spark, g.nodes, e, len, cap, p, q)
    // the kernel eagerly materializes everything derived from it
    Algorithms.releaseIterate(e)
    out
  }

  /** [[node2vecWalks]] kernel over any (id) node / (src, dst) edge
    * frame — the ScaleBench entry point. */
  private[graft] def node2vecOnEdges(spark: SparkSession, nodesIn: DataFrame,
                    edgesIn: DataFrame, len: Int = WalkLen,
                    cap: Int = WalkAdjCap, p: Double = Node2vecP,
                    q: Double = Node2vecQ): DataFrame = {
    val twoPow60 = math.pow(2.0, 60)
    // IMAGE-GATED node2vec (see [[randomWalksOnEdges]]' walk): the
    // second-order step additionally needs the (prev, v) EDGE
    // MEMBERSHIP probe — with a second CSR image over the canonical edge
    // set that probe is one slice binary-search instead of the per-step
    // edge-scale left join (the loop's costliest join). Bit-identity:
    // hash via [[graft.Hashing.hash60Fn]]; u01, the p/q weight branch
    // order and -ln(u01)/w replay the Column expressions op for op in
    // IEEE doubles; argmin order (key asc, v asc) is the heap's. Walkers
    // stream distributed.
    def walk(bc: Broadcast[Algorithms.AdjImage],
             mbc: Broadcast[Algorithms.AdjImage]): DataFrame = {
      val hashFn = graft.Hashing.hash60Fn()
      val lenL = len
      val invP = 1.0 / p
      val invQ = 1.0 / q
      val sess = spark
      import sess.implicits._
      // walker axis re-laid off the 1-task scan (see randomWalks)
      nodesIn.select(col("id").cast("long")).as[Long]
        .repartition(spark.sparkContext.defaultParallelism)
        .mapPartitions { ws =>
          val a = bc.value
          val m = mbc.value
          def isEdge(x: Long, y: Long): Boolean = {
            val xi = java.util.Arrays.binarySearch(m.ids, x)
            if (xi < 0) false
            else {
              val yi = java.util.Arrays.binarySearch(m.ids, y)
              yi >= 0 && java.util.Arrays.binarySearch(
                m.flat, m.offs(xi), m.offs(xi + 1), yi) >= 0
            }
          }
          ws.flatMap { w =>
            val rows = Array.newBuilder[(Long, Int, Long)]
            rows += ((w, 0, w))
            var prev = 0L
            var cur = w
            var s = 1
            var alive = true
            while (s <= lenL && alive) {
              val ci = java.util.Arrays.binarySearch(a.ids, cur)
              var found = false
              var bestK = Double.MaxValue
              var bestH = Long.MaxValue
              var bestV = Long.MaxValue
              if (ci >= 0) {
                var i = a.offs(ci)
                while (i < a.offs(ci + 1)) {
                  val v = a.ids(a.flat(i))
                  val h = hashFn(s"$w|$s|$v")
                  if (s == 1) {
                    // uniform first hop: (hk asc, v asc) — long order
                    if (!found || h < bestH || (h == bestH && v < bestV)) {
                      found = true; bestH = h; bestV = v
                    }
                  } else {
                    val u01 = (h + 1L).toDouble / twoPow60
                    val wgt =
                      if (v == prev) invP
                      else if (isEdge(prev, v)) 1.0
                      else invQ
                    val key = -math.log(u01) / wgt
                    if (!found || key < bestK || (key == bestK && v < bestV)) {
                      found = true; bestK = key; bestV = v
                    }
                  }
                  i += 1
                }
              }
              if (found) {
                rows += ((w, s, bestV)); prev = cur; cur = bestV; s += 1
              } else alive = false
            }
            rows.result()
          }
        }
        .toDF("walk_id", "step", "node")
        .localCheckpoint(true)
    }
    // BOUNDED-COLLECT image build (see [[randomWalksOnEdges]]' gate):
    // below the collect gate BOTH images — the capped adjacency and
    // the canonical-membership probe — are built on the driver from
    // one collect of the caller's edge checkpoint, skipping the heap
    // shuffle, two checkpoints and two distributed image pipelines.
    val nE2 = 2 * edgesIn.count()
    if (nE2 <= Gates.edges && nE2 <= Gates.cells) {
      val lg = LocalGraph.collect(edgesIn, "src", "dst")
      return Algorithms.withImage(spark, localCappedImage(lg, cap))(bc =>
          Algorithms.withImage(spark, localCanonSymImage(lg))(walk(bc, _)))
        .orderBy(col("walk_id"), col("step"))
    }
    val und = cappedAdjacency(
        edgesIn.select(col("src").as("u"), col("dst").as("v"))
          .union(edgesIn.select(col("dst").as("u"), col("src").as("v"))), cap)
      .localCheckpoint(true) // one hop join per step
    // SERIALIZED checkpoint: the probe table is EDGE-scale and scanned
    // once per step by all cores — a deserialized cache pins ~3× the
    // bytes and OOM'd the 150k/85M ScaleBench point at 12 g (the §4.13
    // r13 reader-pinned-cache mechanism)
    val canon = edgesIn
      .select(least(col("src"), col("dst")).as("eu"),
        greatest(col("src"), col("dst")).as("ev"))
      .filter(col("eu") =!= col("ev")).distinct()
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val canonCnt = canon.count() // cached scans of the two checkpoints
    val canonSym = canon.select(col("eu").as("u"), col("ev").as("v"))
      .union(canon.select(col("ev").as("u"), col("eu").as("v")))
    // both images or neither: the outer build is gated on the larger
    // cell count, so the inner one always fits and its step-loop
    // fallback never runs
    val out = Algorithms.collectAdjImage(und, math.max(und.count(), 2 * canonCnt))(bc =>
      Algorithms.collectAdjImage(canonSym, 2 * canonCnt)(walk(bc, _))(
        node2vecSteps(nodesIn, und, canon, canonCnt, len, p, q)))(
      node2vecSteps(nodesIn, und, canon, canonCnt, len, p, q))
    Algorithms.releaseIterate(und)
    Algorithms.releaseIterate(canon)
    out.orderBy(col("walk_id"), col("step"))
  }

  /** [[node2vecOnEdges]]' distributed step loop over the capped (u, v)
    * adjacency and the (eu, ev) canonical edge checkpoint of `canonCnt`
    * rows; the walk table comes back materialized. */
  private def node2vecSteps(nodesIn: DataFrame, und: DataFrame, canon: DataFrame,
                            canonCnt: Long, len: Int, p: Double, q: Double): DataFrame = {
    val twoPow60 = math.pow(2.0, 60)
    var cur = nodesIn
      .select(col("id").as("walk_id"), lit(null).cast("long").as("prev"),
        col("id").as("node"))
      .localCheckpoint(true)
    val stepCks = scala.collection.mutable.ListBuffer[DataFrame](cur)
    // per-step join hints under the fleet's shared iterate ceiling (the
    // CC/coreness idiom — scrubbed loop-iterate stats otherwise plan
    // sort-merge joins every step). Measured at sf0.1 min-of-5: the
    // |V|-row frontier hint alone is NEUTRAL (9.99 → 9.88 s — the
    // adjacency side re-sort is not the bottleneck here), the |E|-row
    // triangle-probe side is the one that pays: 9.99 → 8.23 s with the
    // canonical edge set broadcast below the ceiling. Above the ceiling
    // both joins stay shuffled — the probe is an equi-join on the
    // (min, max) pair, co-partitionable at any scale.
    val bcOk = cur.count() <= Algorithms.IterateBroadcastMaxRows
    def hinted(d: DataFrame): DataFrame = if (bcOk) broadcast(d) else d
    val canonBc =
      if (canonCnt <= Algorithms.IterateBroadcastMaxRows) broadcast(canon)
      else canon
    val steps = Seq.newBuilder[org.apache.spark.sql.DataFrame]
    steps += cur.withColumn("step", lit(0))
    for (s <- 1 to len) {
      val hkey = graft.Hashing.hash60(
        concat_ws("|", col("walk_id"), lit(s), col("v")))
      val u01 = (hkey + lit(1L)).cast("double") / lit(twoPow60)
      val w = when(col("v") === col("prev"), lit(1.0 / p))
        .when(col("eu").isNotNull, lit(1.0))
        .otherwise(lit(1.0 / q))
      val key =
        if (s == 1) col("hk") // uniform: no prev yet (randomWalks step)
        else (-log(col("u01"))) / col("w")
      // per-walk argmin through the native top-1 heap (see randomWalks:
      // the struct-min ObjectHashAggregate external-sorts past 128
      // groups/task); (key, v) is total per walk — v is unique among a
      // node's candidates — and from_node rides as payload
      cur = graft.plans.TopKPerGroup.top1PerGroup(
          hinted(cur).join(und, col("node") === col("u"))
            .join(canonBc,
              least(col("prev"), col("v")) === col("eu") &&
                greatest(col("prev"), col("v")) === col("ev"),
              "left_outer")
            .select(col("walk_id"), col("node").as("from_node"), col("v"),
              hkey.as("hk"), u01.as("u01"), w.as("w"))
            .select(col("walk_id"), col("from_node"), col("v"), key.as("key")),
          Seq("walk_id"), Seq("key" -> false, "v" -> false))
        .select(col("walk_id"), col("from_node").as("prev"),
          col("v").as("node"))
        .localCheckpoint(true) // referenced by output AND the next step
      stepCks += cur
      steps += cur.withColumn("step", lit(s))
    }
    // eager final walk table, then release every per-step checkpoint
    // (the caller releases the adjacency and the canonical edge probe —
    // node2vec's probe is EDGE-scale, the costliest pin of the loop
    // family)
    val out = steps.result()
      .map(_.select(col("walk_id"), col("step"), col("node")))
      .reduce(_ unionByName _)
      .localCheckpoint(true)
    stepCks.foreach(Algorithms.releaseIterate)
    out
  }

  /** Adjacency-cap QUALITY audit for the walk family — the analogue of
    * `d_lsh_recall` for [[WalkAdjCap]], the one sampling cap that had
    * no measured quality row: the production walk runs on the ≤cap
    * hash-sampled adjacency; this audit replays the SAME deterministic
    * walk UNCAPPED (sf-bounded, the exact-truth convention — the
    * uncapped twin exists only at audit scale) and reports per-step
    * agreement: how many walks sit on the identical node at step s.
    * Dead-end divergence is visible too (a capped walk can reach a
    * sink the uncapped one avoids), hence the full-outer join and the
    * separate n_capped / n_uncapped counts. The DuckDB oracle replays
    * BOTH walks step-for-step.
    *
    * Scale bound (r16 verdict): the uncapped twin's per-step
    * frontier⋈adjacency join fans out by TRUE hub degree — exactly the
    * skew bomb [[WalkAdjCap]] exists to prevent — so above
    * [[WalkAuditMaxEdges]] directed edges BOTH walks replay over a
    * deterministic hash-sampled walk-id subset (≈
    * [[WalkAuditSampleWalks]] starts, the d_lsh_recall sampling
    * convention): the per-step agreement stays an unbiased estimate at
    * any corpus size, and the uncapped join is bounded by |sample| ×
    * max-degree instead of |V| × max-degree. At or below the bound the
    * plan is byte-identical to r16's (the oracle replays it). */
  val WalkAuditMaxEdges = 20000000L
  val WalkAuditSampleWalks = 4096L

  def walkCapAudit(spark: SparkSession, dir: String, len: Int = WalkLen,
                   cap: Int = WalkAdjCap,
                   maxEdges: Long = WalkAuditMaxEdges): DataFrame = {
    val g = graph(spark, dir).filterEdges(col("distance") <= QueryThreshold)
    // ONE similarity-edge checkpoint for BOTH legs (and the sampleMod
    // probe): the audit previously built the self-join output four
    // times — once per leg per symmetrization branch — plus once for
    // this count
    val e = g.edges.select(col("src"), col("dst")).localCheckpoint(true)
    val sampleMod =
      if (e.count() <= maxEdges) 1L
      else math.max(2L, g.nodes.count() / WalkAuditSampleWalks)
    val capped = randomWalksOnEdges(spark, g.nodes, e, len, cap, sampleMod)
    val full = randomWalksOnEdges(spark, g.nodes, e, len, Int.MaxValue,
      sampleMod)
    // both legs' walk tables are eagerly checkpointed inside the kernel
    Algorithms.releaseIterate(e)
    capped.select(col("walk_id"), col("step"), col("node").as("c_node"))
      .join(full.select(col("walk_id"), col("step"), col("node").as("f_node")),
        Seq("walk_id", "step"), "full_outer")
      .groupBy(col("step"))
      .agg(count(col("c_node")).as("n_capped"),
        count(col("f_node")).as("n_uncapped"),
        sum(when(col("c_node") === col("f_node"), 1L).otherwise(0L)).as("n_agree"))
      .select(col("step"), col("n_capped"), col("n_uncapped"), col("n_agree"),
        round(col("n_agree").cast("double") / col("n_uncapped").cast("double"), 6)
          .as("agreement"))
      .orderBy(col("step"))
  }

  def shortestPaths(spark: SparkSession, dir: String): DataFrame = {
    val g = graph(spark, dir)
    val sym = g.copy(edges =
      g.symmetrizedEdges.filter(col("distance") <= QueryThreshold)
        .withColumnRenamed("distance", "weight"))
    Algorithms.shortestPaths(sym.nodes, sym.edges, seeds(spark, dir, Taxon))
      .filter(col("dist").isNotNull)
      .orderBy(col("id"))
  }

  /** pyvis-equivalent viz export (gdb.py:97-116): one JSON attribute blob
    * per node of the taxon cloud. */
  def vizExport(spark: SparkSession, dir: String,
                taxon: String = Taxon, threshold: Double = QueryThreshold): DataFrame =
    vizNodes(cloudNodes(spark, dir, taxon, threshold))

  private def vizNodes(nodes: DataFrame): DataFrame =
    nodes.select(
      col("phage"),
      to_json(struct(
        col("size"),
        struct(lit("#000000").as("border"), col("color").as("background")).as("color")
      )).as("attrs"))
      .orderBy(col("phage"))

  /** Edge-side viz export (gdb.py:107-116 / host.py:86-89): per-edge
    * pyvis attrs — value = thres − distance + 0.1, lightgray colour,
    * distance as hover title. Both numeric attrs are rendered at a FIXED
    * 6-dp decimal scale (value unquoted, title as the tooltip string):
    * raw doubles under 1e-3 hit Jackson's scientific notation
    * ("2.65E-4") where every SQL engine renders plain decimal — fixed
    * scale makes the JSON blob deterministic across engines (and stable
    * for a downstream renderer diff). Scale 6 specifically: distances
    * are Δacctbal/11000 and terminate at ≤5 decimals when they
    * terminate at all, so no value sits exactly on a 6-dp rounding
    * midpoint where HALF_UP engines and decimal-string engines
    * disagree (at 4 dp, 0.16195 did exactly that). */
  def vizExportEdges(spark: SparkSession, dir: String,
                     taxon: String = Taxon, threshold: Double = QueryThreshold): DataFrame =
    vizEdges(cloudEdges(spark, dir, taxon, threshold))

  private def vizEdges(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"), to_json(struct(edgeAttrs(col("value")): _*)).as("attrs"))
      .orderBy(col("src"), col("dst"))

  /** The pyvis edge attrs of [[vizExportEdges]] and the CLI's family and
    * host edges: `value`, lightgray, and the distance as the title. */
  private[graft] def edgeAttrs(value: Column): Seq[Column] = Seq(
    value.cast("decimal(12,6)").as("value"), lit("lightgray").as("color"),
    col("distance").cast("decimal(12,6)").cast("string").as("title"))

  /** Runs `write` over one build of a request's nodes and edges: the
    * cloud's rows, then nodes and edges over them, each materialized once
    * by [[Algorithms.loopCheckpoint]], so an export's JSON writes and
    * HTML collects share it. All three are released when `write` ends. */
  private[graft] def buildOnce[T](p: CloudPlan)(write: (DataFrame, DataFrame) => T): T = {
    var built = List.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      val ck = Algorithms.loopCheckpoint(df); built ::= ck; ck
    }
    try {
      val rows = pin(p.rows)
      write(pin(p.nodesOf(rows)), pin(p.edgesOf(rows)))
    } finally built.foreach(Algorithms.releaseLineage)
  }

  /** Writes nodes and edges as the JSON-lines directories `<outPath>/nodes`
    * and `<outPath>/edges` (one part per task); returns both paths. */
  private[graft] def writeJson(nodes: DataFrame, edges: DataFrame, outPath: String): Seq[String] =
    Seq("nodes" -> nodes, "edges" -> edges).map { case (part, df) =>
      df.write.mode("overwrite").json(s"$outPath/$part"); s"$outPath/$part"
    }

  /** Sink analogue of the reference's `pyvis_graph.save_graph(...)`
    * (gdb.py:118-120): persists the cloud's node and edge viz attrs as
    * JSON-lines directories from one build of the cloud. */
  def exportCloud(spark: SparkSession, dir: String, outPath: String,
                  taxon: String = Taxon, threshold: Double = QueryThreshold): Unit =
    exportTaxon(spark, dir, outPath, taxon, threshold, html = None)

  /** [[exportCloud]] plus, at `html`, the default [[exportCloudHtml]] page
    * from the same build; returns the paths written ([[graft.Cloud]]). */
  private[graft] def exportTaxon(spark: SparkSession, dir: String, outPath: String,
                                 taxon: String, threshold: Double,
                                 html: Option[String]): Seq[String] =
    buildOnce(taxonPlan(spark, dir, taxon, threshold)) { (nodes, edges) =>
      writeJson(vizNodes(nodes), vizEdges(edges), outPath) ++
        html.map { f => writePage(nodes, edges, f, DefaultSolver, controls = true); f }
    }

  /** Physics solvers the HTML export accepts — pyvis's barnes_hut /
    * force_atlas_2based options (gdb.py:102-105 configures exactly
    * these knobs on the pyvis Network). */
  val PhysicsSolvers: Set[String] = Set("barnesHut", "forceAtlas2Based", "repulsion")
  private val DefaultSolver = "forceAtlas2Based"

  /** Self-contained HTML page rendering the cloud with vis-network —
    * the same artifact the reference's pyvis `save_graph` emits
    * (gdb.py:118-120), with the reference's physics-solver choice
    * (gdb.py:102-105) exposed as `solver` and the reference's
    * `show_buttons()` control panel (gdb.py:118) as `controls`:
    * vis-network's built-in `configure` pane is the same physics-tuning
    * UI pyvis renders, scoped to the physics section like
    * `show_buttons(filter_=['physics'])`. Node/edge attrs are embedded
    * as JSON arrays; only the (small, already-induced) cloud is
    * collected, never the graph. */
  def exportCloudHtml(spark: SparkSession, dir: String, outFile: String,
                      taxon: String = Taxon, threshold: Double = QueryThreshold,
                      solver: String = DefaultSolver,
                      controls: Boolean = true): Unit = {
    require(PhysicsSolvers(solver),
      s"solver must be one of $PhysicsSolvers, got '$solver'")
    buildOnce(taxonPlan(spark, dir, taxon, threshold))(
      writePage(_, _, outFile, solver, controls))
  }

  private def writePage(nodes: DataFrame, edges: DataFrame, outFile: String,
                        solver: String, controls: Boolean): Unit = {
    def jsonArray(df: DataFrame): String =
      df.toJSON.collect().mkString("[", ",\n", "]")
    val nodeJson = jsonArray(nodes.select(
      col("phage").as("id"), col("phage").cast("string").as("label"),
      floor(col("genome_size") / SizeScaleFactor).cast("long").as("size"),
      col("color")))
    val edgeJson = jsonArray(edges.select(
      col("src").as("from"), col("dst").as("to"), col("value")))
    val configure =
      if (controls)
        """configure: {enabled: true, filter: "physics",
          |    container: document.getElementById("controls")},
          |  """.stripMargin
      else ""
    val html =
      s"""<!DOCTYPE html>
         |<html><head><meta charset="utf-8"/>
         |<script src="https://unpkg.com/vis-network/standalone/umd/vis-network.min.js"></script>
         |<style>#cloud{width:1500px;height:1500px;border:1px solid #ddd}
         |#controls{width:1500px;max-height:400px;overflow-y:auto}</style>
         |</head><body><div id="cloud"></div><div id="controls"></div><script>
         |const nodes = new vis.DataSet($nodeJson);
         |const edges = new vis.DataSet($edgeJson);
         |new vis.Network(document.getElementById("cloud"), {nodes, edges},
         |  {${configure}physics: {solver: "$solver"}});
         |</script></body></html>""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), html)
  }

  // ---------------------------------------------------------------------
  // DuckDB oracle — identical graph recomputed as a CTE prelude.
  // ---------------------------------------------------------------------

  // Plain WITH: under DuckDB a `WITH RECURSIVE` prelude makes UNION inside
  // the non-recursive CTEs stop deduplicating; only the CC oracle needs
  // RECURSIVE and gets its own prelude below.
  val OracleCte: String =
    """WITH edges AS (
         SELECT a.c_custkey AS src, b.c_custkey AS dst,
                ABS(a.c_acctbal - b.c_acctbal)/11000.0 AS distance
         FROM customer a JOIN customer b
           ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
         WHERE ABS(a.c_acctbal - b.c_acctbal)/11000.0 <= 0.15),
       nodes AS (
         SELECT c_custkey AS id, c_mktsegment AS source,
                CAST(FLOOR(ABS(c_acctbal)*10) AS BIGINT) AS genome_size,
                c_name AS taxonomy, c_nationkey AS hostkey,
                'G' || CAST(c_custkey % 7 AS VARCHAR) AS genus
         FROM customer),
       cloud AS (
         SELECT a.id AS s, r.dst AS t
         FROM nodes a JOIN edges r ON r.src = a.id
         WHERE a.source = 'BUILDING' AND contains(a.taxonomy, '4')
           AND r.distance <= 0.10),
       cloud_ids AS (SELECT s AS id FROM cloud UNION SELECT t FROM cloud)"""

  private def hostOracle(harsh: Boolean): String =
    s"""$OracleCte, ${hostSetCte(harsh)}
       SELECT n.id AS phage, n.source AS source, n.genome_size AS genome_size,
              n.genus AS phage_genus, h.n_name AS host_genus
       FROM nodes n JOIN hostset ON n.id = hostset.id
       LEFT JOIN nation h ON n.hostkey = h.n_nationkey
       ORDER BY phage"""

  /** Family-cloud node-metadata oracle; `genusRank` mirrors
    * [[familyNodes]]'s colorRank — the palette key is the nation key
    * (genus level) instead of the region key (family level). */
  private def familyNodesOracle(genusRank: Boolean): String = {
    val paletteKey =
      if (genusRank) "na.n_nationkey" else "re.r_regionkey"
    s"""$OracleCte,
       fam AS ($FamilySet)
       SELECT n.id AS phage, n.source AS source, n.genome_size AS genome_size,
              n.taxonomy AS lineage,
              na.n_name AS target_taxon,
              CASE WHEN n.source='BUILDING'
                   THEN 'C' || CAST($paletteKey AS VARCHAR)
                   ELSE '#FFFFFF' END AS color
       FROM nodes n JOIN fam ON n.id = fam.id
       LEFT JOIN nation na ON n.hostkey = na.n_nationkey
       LEFT JOIN region re ON na.n_regionkey = re.r_regionkey
       ORDER BY phage"""
  }

  /** The oracles' induced edges at 0.10 among the ids of CTE `set`. */
  private def inducedSql(set: String): String =
    s"""FROM edges e JOIN $set s1 ON e.src = s1.id JOIN $set s2 ON e.dst = s2.id
         WHERE e.distance <= 0.10 ORDER BY src, dst"""

  /** The taxon cloud's viz colour (gdb.py:80-95) of the taxon oracles. */
  private val TaxonColorSql: String =
    """CASE WHEN n.source='BUILDING' AND contains(n.taxonomy,'4') THEN 'green'
         WHEN n.source='BUILDING' THEN 'red' WHEN n.source='AUTOMOBILE' THEN 'cyan'
         WHEN n.source='MACHINERY' THEN 'pink' WHEN n.source='HOUSEHOLD' THEN 'purple'
         ELSE 'yellow' END"""

  /** The host cloud's id-set CTE `name` (host.py:57-59) of the oracles. */
  private def hostSetCte(harsh: Boolean, name: String = "hostset"): String = {
    val seed = """FROM edges e
           JOIN nodes a ON a.id = e.src
           JOIN nation h ON a.hostkey = h.n_nationkey
         WHERE h.n_name = 'NATION_7' AND e.distance <= 0.10""" +
      (if (harsh) " AND a.source <> 'FURNITURE'" else "")
    s"""$name AS (
         SELECT e.src AS id $seed
         UNION
         SELECT e.dst $seed)"""
  }

  /** The family cloud's id set (family.py:94) of the family oracles. */
  private val FamilySet: String =
    """SELECT id FROM nodes WHERE source='BUILDING' AND contains(taxonomy,'1')
         UNION
         SELECT r.dst FROM nodes s JOIN edges r ON r.src = s.id
         WHERE s.source='BUILDING' AND contains(s.taxonomy,'1')
           AND r.distance <= 0.10"""

  /** Bellman-Ford unrolled to `stages` relaxation CTEs. The converged
    * fixpoint is bitwise engine-independent: every path sum associates
    * left-to-right identically in both engines (dist(u)+w is one op per
    * hop) and MIN over candidates is order-free — so the SSSP oracle
    * hash-matches without any rounding. `stages` is tied to
    * [[Algorithms.RelaxBudget]] — the kernel performs exactly the same
    * number of relaxations when it doesn't converge earlier, so the two
    * engines report the same iterate regardless of whether any SF's
    * graph converges inside the budget. */
  private def ssspOracle(stages: Int): String = {
    val steps = (1 to stages).map { i =>
      s"""d$i AS MATERIALIZED (
         SELECT p.id,
           CASE WHEN p.dist IS NULL AND c.cand IS NULL THEN NULL
                ELSE LEAST(COALESCE(p.dist, 1e300), COALESCE(c.cand, 1e300)) END AS dist
         FROM d${i - 1} p LEFT JOIN (
           SELECT e.v AS id, MIN(q.dist + e.w) AS cand
           FROM d${i - 1} q JOIN und e ON e.u = q.id
           WHERE q.dist IS NOT NULL GROUP BY e.v) c ON c.id = p.id)"""
    }.mkString(",\n")
    s"""$OracleCte,
       und AS MATERIALIZED (
         SELECT src AS u, dst AS v, distance AS w FROM edges WHERE distance <= 0.10
         UNION ALL
         SELECT dst, src, distance FROM edges WHERE distance <= 0.10),
       seeds AS (SELECT id FROM nodes WHERE source='BUILDING' AND contains(taxonomy,'4')),
       d0 AS MATERIALIZED (
         SELECT n.id, CASE WHEN s.id IS NOT NULL THEN 0.0 END AS dist
         FROM nodes n LEFT JOIN seeds s ON n.id = s.id),
       $steps
       SELECT id, dist FROM d$stages WHERE dist IS NOT NULL ORDER BY id"""
  }

  /** k-core peeling unrolled to [[Algorithms.KCoreMaxRounds]] rounds —
    * rounds past the fixpoint are no-ops, so the full-budget unroll
    * matches the kernel's early-exited iterate (budget alignment, as in
    * [[ssspOracle]]). */
  private def kcoreOracle(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""d$i AS (
           SELECT e.u AS id, COUNT(*) AS deg
           FROM und e JOIN m${i - 1} x ON x.id = e.u
                      JOIN m${i - 1} y ON y.id = e.v
           GROUP BY e.u),
         m$i AS MATERIALIZED (SELECT id FROM d$i WHERE deg >= $k)"""
    }.mkString(",\n")
    s"""$OracleCte,
       und AS MATERIALIZED (
         SELECT src AS u, dst AS v FROM edges WHERE distance <= 0.10
         UNION ALL
         SELECT dst, src FROM edges WHERE distance <= 0.10),
       m0 AS (SELECT id FROM nodes),
       $steps
       SELECT e.u AS node, COUNT(*) AS core_deg
       FROM und e JOIN m$rounds x ON x.id = e.u
                  JOIN m$rounds y ON y.id = e.v
       GROUP BY e.u ORDER BY node"""
  }

  /** [[kTrussEdges]] replay: the peel recurrence unrolled to
    * [[Algorithms.KTrussMaxRounds]] rounds. Each round recomputes
    * per-edge support inside the survivor set as a wedge join over the
    * symmetric survivor adjacency (x and y share the common neighbour
    * `nbr`) and keeps edges with support ≥ k−2 — integer counts only,
    * so the replay is unconditional. The final inner wedge-join drops
    * support-0 edges exactly like the Spark side's `> 0` guard. */
  private def ktrussOracle(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""a$i AS (SELECT u AS node, v AS nbr FROM e${i - 1}
                  UNION ALL SELECT v, u FROM e${i - 1}),
         s$i AS (
           SELECT e.u, e.v, COUNT(*) AS sup
           FROM e${i - 1} e
           JOIN a$i x ON x.node = e.u
           JOIN a$i y ON y.node = e.v AND y.nbr = x.nbr
           GROUP BY e.u, e.v),
         e$i AS MATERIALIZED (SELECT u, v FROM s$i WHERE sup >= ${k - 2})"""
    }.mkString(",\n")
    s"""$OracleCte,
       e0 AS MATERIALIZED (
         SELECT src AS u, dst AS v FROM edges WHERE distance <= 0.10),
       $steps,
       af AS (SELECT u AS node, v AS nbr FROM e$rounds
              UNION ALL SELECT v, u FROM e$rounds)
       SELECT e.u AS src, e.v AS dst, COUNT(*) AS support
       FROM e$rounds e
       JOIN af x ON x.node = e.u
       JOIN af y ON y.node = e.v AND y.nbr = x.nbr
       GROUP BY e.u, e.v
       ORDER BY src, dst"""
  }

  /** [[corenessShells]] replay: the h-index recurrence unrolled to
    * [[Algorithms.CorenessRounds]] rounds — integer values only, and
    * the Hirsch operator max(min(value, rank)) is invariant to rank
    * order among equal values, so the replay is unconditional. */
  private def corenessOracle(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""h$i AS (
           SELECT u AS id, MAX(LEAST(cv, rn)) AS h FROM (
             SELECT e.u, l.c AS cv,
                    ROW_NUMBER() OVER (PARTITION BY e.u
                                       ORDER BY l.c DESC) AS rn
             FROM und e JOIN c${i - 1} l ON l.id = e.v)
           GROUP BY u),
         c$i AS MATERIALIZED (
           SELECT n.id, COALESCE(h.h, 0) AS c
           FROM c${i - 1} n LEFT JOIN h$i h ON h.id = n.id)"""
    }.mkString(",\n")
    s"""$OracleCte,
       und AS MATERIALIZED (
         SELECT src AS u, dst AS v FROM edges WHERE distance <= 0.10
         UNION ALL
         SELECT dst, src FROM edges WHERE distance <= 0.10),
       dg AS (SELECT u AS id, COUNT(*) AS deg FROM und GROUP BY u),
       c0 AS (SELECT n.id, COALESCE(d.deg, 0) AS c
              FROM nodes n LEFT JOIN dg d ON d.id = n.id),
       $steps
       SELECT id AS node, CAST(c AS BIGINT) AS coreness
       FROM c$rounds ORDER BY node"""
  }

  /** Label propagation unrolled to [[Algorithms.LabelPropRounds]]
    * synchronous rounds — integer counts and a deterministic min-label
    * tiebreak make the replay unconditional (no floats at all). The
    * chain (`und`, `l0..lN`) is shared with the modularity oracle so
    * the two replays cannot drift apart. */
  private def labelPropChain(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""g$i AS (
           SELECT e.u AS id, l.lbl, COUNT(*) AS c
           FROM und e JOIN l${i - 1} l ON l.id = e.v
           GROUP BY e.u, l.lbl),
         b$i AS (
           SELECT id, lbl FROM (
             SELECT id, lbl,
                    ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
             FROM g$i) WHERE rn = 1),
         l$i AS MATERIALIZED (
           SELECT n.id, COALESCE(b.lbl, n.lbl) AS lbl
           FROM l${i - 1} n LEFT JOIN b$i b ON b.id = n.id)"""
    }.mkString(",\n")
    s"""$OracleCte,
       und AS MATERIALIZED (
         SELECT src AS u, dst AS v FROM edges WHERE distance <= 0.10
         UNION ALL
         SELECT dst, src FROM edges WHERE distance <= 0.10),
       l0 AS (SELECT id, id AS lbl FROM nodes),
       $steps"""
  }

  /** One unrolled Louvain level for the oracle: `lp` prefixes every
    * CTE name so two levels coexist in one WITH chain; `nodesRel` /
    * `edgesRel` name the level's (id) and canonical (u, v, w)
    * relations. Scores are HUGEINT — the exact mirror of the kernel's
    * DECIMAL(38,0) — so the per-node argmax (score DESC, c ASC)
    * replays the Spark max(struct(score, −c)) bit-for-bit. */
  private def louvainLevelSql(lp: String, nodesRel: String,
                              edgesRel: String, rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""${lp}s$r AS (
           SELECT l.lbl AS c, SUM(i.k) AS st, COUNT(*) AS csz
           FROM ${lp}l${r - 1} l JOIN ${lp}ids i ON i.id = l.id
           GROUP BY l.lbl),
         ${lp}g$r AS (
           SELECT e.u AS id, l.lbl AS c, CAST(SUM(e.w) AS HUGEINT) AS kin
           FROM ${lp}sym e JOIN ${lp}l${r - 1} l ON l.id = e.v
           GROUP BY e.u, l.lbl),
         ${lp}c$r AS (
           SELECT id, c, SUM(kin) AS kin FROM (
             SELECT id, c, kin FROM ${lp}g$r
             UNION ALL
             SELECT id, lbl, CAST(0 AS HUGEINT) FROM ${lp}l${r - 1})
           GROUP BY id, c),
         ${lp}x$r AS (
           SELECT cd.id, cd.c,
                  2 * mm.m * cd.kin -
                  i.k * (s.st - CASE WHEN cd.c = l.lbl THEN i.k
                                     ELSE CAST(0 AS HUGEINT) END) AS score
           FROM ${lp}c$r cd
           JOIN ${lp}ids i ON i.id = cd.id
           JOIN ${lp}l${r - 1} l ON l.id = cd.id
           JOIN ${lp}s$r s ON s.c = cd.c, ${lp}mm mm
           WHERE cd.c = l.lbl OR s.csz > 1 OR cd.c < l.lbl),
         ${lp}l$r AS MATERIALIZED (
           SELECT o.id,
                  CASE WHEN o.id % 2 = ${r % 2} THEN wn.lbl
                       ELSE o.lbl END AS lbl
           FROM ${lp}l${r - 1} o JOIN (
             SELECT id, c AS lbl FROM (
               SELECT id, c,
                      ROW_NUMBER() OVER (PARTITION BY id
                                         ORDER BY score DESC, c) AS rn
               FROM ${lp}x$r) WHERE rn = 1) wn ON wn.id = o.id)"""
    }.mkString(",\n")
    s"""${lp}sym AS (
         SELECT u, v, w FROM $edgesRel WHERE u <> v
         UNION ALL SELECT v, u, w FROM $edgesRel WHERE u <> v),
       ${lp}deg AS (
         SELECT id, CAST(SUM(kw) AS HUGEINT) AS k FROM (
           SELECT u AS id, CASE WHEN u = v THEN 2 * w ELSE w END AS kw
           FROM $edgesRel
           UNION ALL SELECT v, w FROM $edgesRel WHERE u <> v)
         GROUP BY id),
       ${lp}ids AS (
         SELECT n.id, COALESCE(d.k, CAST(0 AS HUGEINT)) AS k
         FROM $nodesRel n LEFT JOIN ${lp}deg d ON d.id = n.id),
       ${lp}mm AS (
         SELECT CAST(COALESCE(SUM(w), 0) AS HUGEINT) AS m FROM $edgesRel),
       ${lp}l0 AS (SELECT id, id AS lbl FROM $nodesRel),
       $steps"""
  }

  /** [[louvain]] replay: two unrolled levels with the coarsening step
    * (community super-nodes, LEAST/GREATEST-canonicalized summed edge
    * weights — intra-community mass becomes self-loops) spliced
    * between them; the final projection composes level-1 labels
    * through level-2. */
  /** The full two-level Louvain chain as a reusable CTE block ending in
    * `comm(node, community)` — shared by the g_louvain oracle and the
    * g_community_refine composition. */
  private def louvainCte(rounds: Int,
      w1Sql: String = "CAST(COUNT(*) AS BIGINT)"): String =
    s"""$OracleCte,
       lv1e AS MATERIALIZED (
         SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v,
                $w1Sql AS w
         FROM edges WHERE distance <= 0.10 GROUP BY 1, 2),
       lv1n AS (SELECT id FROM nodes),
       ${louvainLevelSql("a", "lv1n", "lv1e", rounds)},
       lv2e AS MATERIALIZED (
         SELECT LEAST(x.lbl, y.lbl) AS u, GREATEST(x.lbl, y.lbl) AS v,
                SUM(w) AS w
         FROM lv1e e JOIN al$rounds x ON x.id = e.u
                     JOIN al$rounds y ON y.id = e.v
         GROUP BY 1, 2),
       lv2n AS (SELECT DISTINCT lbl AS id FROM al$rounds),
       ${louvainLevelSql("b", "lv2n", "lv2e", rounds)},
       comm AS MATERIALIZED (
         SELECT a.id AS node, b.lbl AS community
         FROM al$rounds a JOIN bl$rounds b ON b.id = a.lbl)"""

  private def louvainOracle(rounds: Int): String =
    s"""${louvainCte(rounds)}
       SELECT node, community FROM comm ORDER BY node"""

  /** [[louvainWeighted]] replay — the same two-level chain with the
    * quantized edge-strength weight in lv1e. */
  private def louvainWeightedOracle(rounds: Int): String =
    s"""${louvainCte(rounds,
        "CAST(SUM(CAST(ROUND((0.2 - distance) * 1100000) AS BIGINT)) AS BIGINT)")}
       SELECT node, community FROM comm ORDER BY node"""

  /** [[communityRefine]] replay: the Louvain chain's `comm`, an
    * intra-community symmetrized edge set, the recursive-reach CC over
    * it, and the per-community part audit. */
  private def communityRefineOracle(rounds: Int): String =
    s"""${louvainCte(rounds).replaceFirst("WITH ", "WITH RECURSIVE ")},
       intra AS MATERIALIZED (
         SELECT e.src AS u, e.dst AS v
         FROM edges e
         JOIN comm x ON x.node = e.src
         JOIN comm y ON y.node = e.dst
         WHERE e.distance <= 0.10 AND x.community = y.community),
       und AS (SELECT u, v FROM intra UNION ALL SELECT v, u FROM intra),
       reach(u, v) AS (
         SELECT id, id FROM nodes
         UNION
         SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
       cc AS (SELECT u AS node, MIN(v) AS refined FROM reach GROUP BY u),
       parts AS (
         SELECT c.community, COUNT(DISTINCT cc.refined) AS n_parts
         FROM comm c JOIN cc ON cc.node = c.node
         GROUP BY c.community)
       SELECT c.node, c.community, cc.refined AS refined_community,
              CAST(p.n_parts AS BIGINT) AS n_parts,
              CAST(p.n_parts > 1 AS INTEGER) AS was_split
       FROM comm c
       JOIN cc ON cc.node = c.node
       JOIN parts p ON p.community = c.community
       ORDER BY c.node"""

  /** Unrolled Borůvka rounds for the [[mst]] oracle. Components at
    * least halve per round, and edges never cross nations in the
    * driver graph, so 8 rounds cover clouds of 2^8 nodes — far above
    * the per-nation cloud sizes at the oracle SFs (≤60 at sf0.01);
    * converged rounds are no-ops on both engines. */
  private val MstOracleRounds = 8

  /** One unrolled Borůvka round: inter-component edges → per-component
    * lightest pick under the (w, u, v) total order → recursive-reach
    * contraction of the (component, partner) merge graph (the exact
    * mirror of [[Algorithms.boruvkaMst]]'s CC-kernel contraction). */
  private def mstRoundSql(r: Int): String =
    s"""ce$r AS (
         SELECT e.u, e.v, e.w, x.c AS cu, y.c AS cv
         FROM ew e
         JOIN comp${r - 1} x ON x.id = e.u
         JOIN comp${r - 1} y ON y.id = e.v
         WHERE x.c <> y.c),
       out$r AS (
         SELECT cu AS cc, w, u, v, cv AS o FROM ce$r
         UNION ALL SELECT cv, w, u, v, cu FROM ce$r),
       pick$r AS MATERIALIZED (
         SELECT cc, w, u, v, o FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY cc
                       ORDER BY w, u, v) AS rn
           FROM out$r) WHERE rn = 1),
       mp$r AS (SELECT DISTINCT LEAST(cc, o) AS a, GREATEST(cc, o) AS b
                FROM pick$r),
       mund$r AS (SELECT a AS x, b AS y FROM mp$r
                  UNION ALL SELECT b, a FROM mp$r),
       reach$r(x, y) AS (
         SELECT c, c FROM (SELECT DISTINCT c FROM comp${r - 1})
         UNION
         SELECT rr.x, m.y FROM reach$r rr JOIN mund$r m ON rr.y = m.x),
       cm$r AS (SELECT x AS c, MIN(y) AS nc FROM reach$r GROUP BY x),
       comp$r AS MATERIALIZED (
         SELECT t.id, m.nc AS c FROM comp${r - 1} t JOIN cm$r m ON m.c = t.c)"""

  /** Shared Borůvka chain ending in `fo(u, v, w)` (the deduped forest)
    * and `comp$rounds(id, c)` (the converged components). */
  private def mstCte(rounds: Int): String = {
    val blocks = (1 to rounds).map(mstRoundSql).mkString(",\n")
    val union = (1 to rounds).map(i => s"SELECT u, v, w FROM pick$i")
      .mkString(" UNION ALL ")
    s"""${OracleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       ew AS MATERIALIZED (
         SELECT src AS u, dst AS v, distance AS w
         FROM edges WHERE distance <= 0.10),
       comp0 AS MATERIALIZED (SELECT id, id AS c FROM nodes),
       $blocks,
       fo AS MATERIALIZED (SELECT DISTINCT u, v, w FROM ($union))"""
  }

  private def mstOracle(rounds: Int): String =
    s"""${mstCte(rounds)}
       SELECT u, v, w AS distance FROM fo ORDER BY u, v"""

  /** [[thresholdSweep]] replay: the Borůvka chain's forest, then one
    * recursive-reach CC per threshold over the CUT forest (the same
    * single-linkage identity the Spark plan uses). */
  private def thresholdSweepOracle(rounds: Int): String = {
    val perT = SweepThresholds.zipWithIndex.map { case (t, i) =>
      s"""und_t$i AS (
           SELECT u, v FROM fo WHERE w <= $t
           UNION ALL SELECT v, u FROM fo WHERE w <= $t),
         reach_t$i(x, y) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT r.x, e.v FROM reach_t$i r JOIN und_t$i e ON r.y = e.u),
         comp_t$i AS (SELECT x, MIN(y) AS c FROM reach_t$i GROUP BY x),
         sz_t$i AS (SELECT c, COUNT(*) AS sz FROM comp_t$i GROUP BY c),
         row_t$i AS (
           SELECT CAST($t AS DOUBLE) AS threshold,
                  CAST(COUNT(*) AS BIGINT) AS n_clouds,
                  CAST(MAX(sz) AS BIGINT) AS max_cloud,
                  CAST(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_singletons
           FROM sz_t$i)"""
    }.mkString(",\n")
    val union = SweepThresholds.indices
      .map(i => s"SELECT * FROM row_t$i").mkString(" UNION ALL ")
    s"""${mstCte(rounds)},
       $perT
       $union ORDER BY threshold"""
  }

  private def mstWeightOracle(rounds: Int): String =
    s"""${mstCte(rounds)},
       cstat AS (SELECT c AS component, CAST(COUNT(*) AS BIGINT) AS n_nodes
                 FROM comp$rounds GROUP BY c),
       fstat AS (SELECT x.c AS component,
                        CAST(COUNT(*) AS BIGINT) AS n_mst_edges,
                        SUM(CAST(f.w AS DECIMAL(18,12))) AS ws
                 FROM fo f JOIN comp$rounds x ON x.id = f.u
                 GROUP BY x.c)
       SELECT c.component, c.n_nodes,
              COALESCE(f.n_mst_edges, CAST(0 AS BIGINT)) AS n_mst_edges,
              CASE WHEN f.n_mst_edges IS NOT NULL
                   THEN ROUND(CAST(f.ws AS DOUBLE), 6) ELSE 0.0 END
                AS total_weight
       FROM cstat c LEFT JOIN fstat f ON f.component = c.component
       ORDER BY c.component"""

  private def labelPropOracle(rounds: Int): String =
    s"""${labelPropChain(rounds)}
       SELECT id AS node, lbl AS community FROM l$rounds ORDER BY node"""

  /** [[modularity]] replay: the label-prop chain yields `l$rounds`
    * communities; the sufficient statistics are exact integer sums and
    * the coefficient one fixed double expression. */
  private def modularityOracle(rounds: Int): String =
    s"""${labelPropChain(rounds)},
       e10 AS (SELECT src AS u, dst AS v FROM edges WHERE distance <= 0.10),
       deg AS (SELECT id, COUNT(*) AS deg FROM (
                 SELECT u AS id FROM e10 UNION ALL SELECT v FROM e10)
               GROUP BY id),
       dc AS (SELECT l.lbl, SUM(COALESCE(d.deg, 0)) AS dsum
              FROM l$rounds l LEFT JOIN deg d ON d.id = l.id
              GROUP BY l.lbl),
       ec AS (SELECT COUNT(*) AS e_in FROM e10 e
              JOIN l$rounds a ON a.id = e.u
              JOIN l$rounds b ON b.id = e.v
              WHERE a.lbl = b.lbl),
       ms AS (SELECT COUNT(*) AS m FROM e10),
       ag AS (SELECT COUNT(*) AS n_communities, SUM(dsum * dsum) AS sum_d2
              FROM dc)
       SELECT CAST(n_communities AS BIGINT) AS n_communities,
              CAST(m AS BIGINT) AS n_edges,
              CAST(e_in AS BIGINT) AS intra_edges,
              ROUND(CAST(4 * m * e_in - sum_d2 AS DOUBLE) /
                    CAST(4 * m * m AS DOUBLE), 6) AS modularity
       FROM ms, ec, ag"""

  /** [[eigenWalks]] replay: the power iterate unrolled to `rounds`
    * stages — pure integer sums (x₀ = 1, xₜ₊₁(v) = Σ_{u∼v} xₜ(u)), so
    * the replay is unconditional; the SUM lands in DuckDB's HUGEINT
    * and is cast back to BIGINT to match the Spark long. */
  private def eigenWalksOracle(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""x$i AS MATERIALIZED (
         SELECT b.id, CAST(COALESCE(g.w, 0) AS BIGINT) AS walks
         FROM nodes b LEFT JOIN (
           SELECT e.dst AS id, SUM(x.walks) AS w
           FROM x${i - 1} x JOIN und e ON e.src = x.id
           GROUP BY e.dst) g ON g.id = b.id)"""
    }.mkString(",\n")
    s"""$OracleCte,
       und AS MATERIALIZED (
         SELECT src, dst FROM edges WHERE distance <= 0.10
         UNION ALL
         SELECT dst, src FROM edges WHERE distance <= 0.10),
       x0 AS (SELECT id, CAST(1 AS BIGINT) AS walks FROM nodes),
       $steps
       SELECT id AS node, walks FROM x$rounds ORDER BY node"""
  }

  /** [[khopReach]] replay: budgeted recursive BFS (the eccentricity
    * idiom) from the taxon seed predicate, min hop distance per
    * (seed, node), hop-0 rows dropped. */
  private def khopOracle(k: Int): String =
    s"""${OracleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       und AS MATERIALIZED (
         SELECT src AS u, dst AS v FROM edges WHERE distance <= 0.10
         UNION ALL
         SELECT dst, src FROM edges WHERE distance <= 0.10),
       sd AS (SELECT id FROM nodes
              WHERE source='BUILDING' AND contains(taxonomy,'4')),
       bfs(seed, id, d) AS (
         SELECT id, id, 0 FROM sd
         UNION
         SELECT b.seed, e.v, b.d + 1
         FROM bfs b JOIN und e ON e.u = b.id
         WHERE b.d < $k)
       SELECT seed AS seed_phage, id AS reached,
              CAST(MIN(d) AS BIGINT) AS hops
       FROM bfs GROUP BY seed, id HAVING MIN(d) >= 1
       ORDER BY seed_phage, reached"""

  /** [[personalizedPageRank]] replay, unrolled to `iters` stages, over
    * the seeds `seedRule` selects; [[pageRank]]'s with the rule `TRUE`
    * (every node a seed, |S| = n), as in [[Algorithms.pageRank]]. The
    * per-node contribution SUM is order-dependent double addition, so
    * BOTH engines quantize each iterate to 12 dp — the recurrence is
    * then bit-deterministic and replays identically here. */
  private def pprOracle(iters: Int, seedRule: String): String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         SELECT b.id, b.odeg, b.is_seed,
           ROUND(CASE WHEN b.is_seed
             THEN 0.15 / sn.ns + 0.85 * (COALESCE(c.contrib, 0) +
               (SELECT COALESCE(SUM(rank), 0) FROM r${i - 1} WHERE odeg IS NULL) / sn.ns)
             ELSE 0.85 * COALESCE(c.contrib, 0) END, 12) AS rank
         FROM pbase b CROSS JOIN scount sn LEFT JOIN (
           SELECT e.dst AS id, SUM(p.rank / p.odeg) AS contrib
           FROM r${i - 1} p JOIN te e ON e.src = p.id
           WHERE p.odeg IS NOT NULL GROUP BY e.dst) c ON c.id = b.id)"""
    }.mkString(",\n")
    s"""$OracleCte,
       te AS MATERIALIZED (SELECT src, dst FROM edges WHERE distance <= 0.10),
       sset AS (SELECT id FROM nodes WHERE $seedRule),
       scount AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ns FROM sset),
       pbase AS MATERIALIZED (
         SELECT n.id, o.odeg, s.id IS NOT NULL AS is_seed FROM nodes n
         LEFT JOIN (SELECT src, COUNT(*) AS odeg FROM te GROUP BY src) o
           ON n.id = o.src
         LEFT JOIN sset s ON s.id = n.id),
       r0 AS MATERIALIZED (
         SELECT b.id, b.odeg, b.is_seed,
                CASE WHEN b.is_seed THEN 1.0 / sn.ns ELSE 0.0 END AS rank
         FROM pbase b CROSS JOIN scount sn),
       $steps
       SELECT id, rank FROM r$iters ORDER BY id"""
  }

  /** The [[betweenness]] oracle: recursive-CTE BFS (as g_eccentricity)
    * plus UNROLLED per-layer CTEs — σ forward (sig1..sigR), δ backward
    * (delR..del1) — exactly [[EccMaxRounds]] layers, mirroring the hop
    * budget. Layers above the graph's true depth are empty sets, so the
    * unroll matches Spark's data-driven loop at any depth ≤ R. Every δ
    * SUM aggregates terms already quantized ROUND(·,6) → DECIMAL(38,6),
    * the order-independence trick the Spark side mirrors term-for-term.
    * The chained CTEs are AS MATERIALIZED: inlined, del1 would expand
    * del2…delR (and every sig_l would re-run the recursive BFS behind
    * `md`), turning a 16-layer chain into quadratically many
    * re-evaluations — materialization makes each layer compute once,
    * exactly like the Spark side's per-layer checkpoints. */
  private def betweennessOracle: String = {
    val R = EccMaxRounds
    val sigLayers = (1 to R).map { l =>
      s"""sig$l AS MATERIALIZED (
            SELECT m.seed, m.id, CAST(SUM(p.sigma) AS DECIMAL(38,0)) AS sigma
            FROM md m JOIN und e ON e.v = m.id
            JOIN sig${l - 1} p ON p.seed = m.seed AND p.id = e.u
            WHERE m.d = $l GROUP BY m.seed, m.id)"""
    }.mkString(",\n")
    val delLayers = (R - 1 to 1 by -1).map { l =>
      s"""del$l AS MATERIALIZED (
            SELECT u.seed, u.id, u.sigma,
              CAST(COALESCE(SUM(CAST(ROUND(
                (CAST(u.sigma AS DOUBLE) / CAST(w.sigma AS DOUBLE))
                  * (1.0 + CAST(w.delta AS DOUBLE)), 6) AS DECIMAL(38,6))), 0)
                AS DECIMAL(38,6)) AS delta
            FROM sig$l u
            LEFT JOIN und e ON e.u = u.id
            LEFT JOIN del${l + 1} w ON w.seed = u.seed AND w.id = e.v
            GROUP BY u.seed, u.id, u.sigma)"""
    }.mkString(",\n")
    val allUnion = (1 to R).map(l => s"SELECT seed, id, delta FROM del$l")
      .mkString("\n           UNION ALL ")
    s"""${OracleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       und AS MATERIALIZED (
         SELECT src AS u, dst AS v FROM edges WHERE distance <= 0.10
         UNION ALL
         SELECT dst, src FROM edges WHERE distance <= 0.10),
       sd AS (SELECT id FROM nodes ORDER BY id LIMIT $EccSeeds),
       bfs(seed, id, d) AS (
         SELECT id, id, 0 FROM sd
         UNION
         SELECT b.seed, e.v, b.d + 1
         FROM bfs b JOIN und e ON e.u = b.id
         WHERE b.d < $R),
       md AS MATERIALIZED (
         SELECT seed, id, MIN(d) AS d FROM bfs GROUP BY 1, 2),
       sig0 AS (SELECT seed, id, CAST(1 AS DECIMAL(38,0)) AS sigma
                FROM md WHERE d = 0),
       $sigLayers,
       del$R AS (SELECT seed, id, sigma, CAST(0 AS DECIMAL(38,6)) AS delta
                 FROM sig$R),
       $delLayers,
       alldel AS (
           $allUnion)
       SELECT n.id AS node,
              CAST(CAST(COALESCE(SUM(a.delta), 0) AS DECIMAL(38,6)) AS DOUBLE)
                AS betweenness
       FROM nodes n LEFT JOIN alldel a ON a.id = n.id
       GROUP BY n.id ORDER BY node"""
  }

  val oracle: Map[String, String] = Map(
    "g_betweenness" -> betweennessOracle,
    "g_assortativity" ->
      s"""$OracleCte,
         deg AS (
           SELECT n.id,
                  COALESCE(o.out_deg, 0) + COALESCE(i.in_deg, 0) AS deg
           FROM nodes n
           LEFT JOIN (SELECT src AS id, COUNT(*) AS out_deg
                      FROM edges GROUP BY src) o ON n.id = o.id
           LEFT JOIN (SELECT dst AS id, COUNT(*) AS in_deg
                      FROM edges GROUP BY dst) i ON n.id = i.id),
         ej AS (
           SELECT d1.deg AS dx, d2.deg AS dy FROM edges e
           JOIN deg d1 ON e.src = d1.id
           JOIN deg d2 ON e.dst = d2.id),
         st AS (
           SELECT CAST(2 * COUNT(*) AS BIGINT) AS n_endpoints,
                  2 * SUM(dx * dy) AS sxy,
                  SUM(dx + dy) AS sx,
                  SUM(dx * dx + dy * dy) AS sx2
           FROM ej)
         SELECT n_endpoints,
                ROUND((CAST(n_endpoints AS DOUBLE) * CAST(sxy AS DOUBLE) -
                       CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
                      (CAST(n_endpoints AS DOUBLE) * CAST(sx2 AS DOUBLE) -
                       CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
                  AS assortativity
         FROM st""",
    "g_shortest_paths" -> ssspOracle(Algorithms.RelaxBudget),
    "g_kcore" -> kcoreOracle(KCoreK, Algorithms.KCoreMaxRounds),
    "g_truss_support" ->
      s"""$OracleCte,
         e0 AS MATERIALIZED (
           SELECT src AS u, dst AS v FROM edges WHERE distance <= 0.10),
         a0 AS (SELECT u AS node, v AS nbr FROM e0
                UNION ALL SELECT v, u FROM e0),
         s0 AS (
           SELECT e.u, e.v, COUNT(*) AS sup
           FROM e0 e
           JOIN a0 x ON x.node = e.u
           JOIN a0 y ON y.node = e.v AND y.nbr = x.nbr
           GROUP BY e.u, e.v)
         SELECT e.u AS src, e.v AS dst,
                COALESCE(s.sup, 0) AS support
         FROM e0 e LEFT JOIN s0 s ON s.u = e.u AND s.v = e.v
         ORDER BY src, dst""",
    "g_ktruss" -> ktrussOracle(KTrussK, Algorithms.KTrussMaxRounds),
    "g_coreness" -> corenessOracle(Algorithms.CorenessRounds),
    "g_label_prop" -> labelPropOracle(Algorithms.LabelPropRounds),
    "g_louvain" -> louvainOracle(Algorithms.LouvainRounds),
    "g_louvain_weighted" -> louvainWeightedOracle(Algorithms.LouvainRounds),
    "g_community_refine" -> communityRefineOracle(Algorithms.LouvainRounds),
    "g_cloud_overlap" ->
      s"""$OracleCte,
         ${hostSetCte(harsh = false, "hs")},
         ${hostSetCte(harsh = true, "hsh")},
         tagged AS (
           SELECT 'taxon' AS tag, id FROM cloud_ids
           UNION ALL SELECT 'host', id FROM hs
           UNION ALL SELECT 'host_harsh', id FROM hsh),
         sizes AS (SELECT tag, COUNT(*) AS n FROM tagged GROUP BY tag),
         common AS (
           SELECT a.tag AS cloud_a, b.tag AS cloud_b, COUNT(*) AS n_common
           FROM tagged a JOIN tagged b ON a.id = b.id AND a.tag < b.tag
           GROUP BY a.tag, b.tag),
         pairs AS (
           SELECT * FROM (VALUES ('host', 'host_harsh'),
             ('host', 'taxon'), ('host_harsh', 'taxon'))
             t(cloud_a, cloud_b))
         SELECT p.cloud_a, p.cloud_b,
                CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
                CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common,
                CASE WHEN sa.n + sb.n - COALESCE(c.n_common, 0) > 0
                     THEN ROUND(CAST(COALESCE(c.n_common, 0) AS DOUBLE) /
                                (sa.n + sb.n - COALESCE(c.n_common, 0)), 6)
                     ELSE 0.0 END AS jaccard
         FROM pairs p
         JOIN sizes sa ON sa.tag = p.cloud_a
         JOIN sizes sb ON sb.tag = p.cloud_b
         LEFT JOIN common c ON c.cloud_a = p.cloud_a
                           AND c.cloud_b = p.cloud_b
         ORDER BY p.cloud_a, p.cloud_b""",
    "g_mst" -> mstOracle(MstOracleRounds),
    "g_mst_weight" -> mstWeightOracle(MstOracleRounds),
    "g_threshold_sweep" -> thresholdSweepOracle(MstOracleRounds),
    "g_modularity" -> modularityOracle(Algorithms.LabelPropRounds),
    "g_neighbor_jaccard" ->
      s"""$OracleCte,
         nbrs AS (
           SELECT src AS node, dst AS nbr FROM edges WHERE distance <= 0.10
           UNION ALL
           SELECT dst, src FROM edges WHERE distance <= 0.10),
         deg AS (SELECT node, COUNT(*) AS deg FROM nbrs GROUP BY node),
         i AS (
           SELECT x.node AS a, y.node AS b, COUNT(*) AS inter
           FROM nbrs x JOIN nbrs y ON x.nbr = y.nbr AND x.node < y.node
           GROUP BY x.node, y.node)
         SELECT a, b, inter,
                ROUND(CAST(inter AS DOUBLE) /
                      CAST(da.deg + db.deg - inter AS DOUBLE), 6) AS jaccard
         FROM i JOIN deg da ON da.node = a JOIN deg db ON db.node = b
         WHERE CAST(inter AS DOUBLE) /
               CAST(da.deg + db.deg - inter AS DOUBLE) >= 0.3
         ORDER BY a, b""",
    // replays the bucket-salted hash sample (ROW_NUMBER over the same
    // 60-bit md5 fold), the capped candidate join and the exact rescore
    "g_neighbor_jaccard_capped" ->
      s"""$OracleCte,
         nbrs AS (
           SELECT src AS node, dst AS nbr FROM edges WHERE distance <= 0.10
           UNION ALL
           SELECT dst, src FROM edges WHERE distance <= 0.10),
         deg AS (SELECT node, COUNT(*) AS deg FROM nbrs GROUP BY node),
         ranked AS (
           SELECT node, nbr,
                  ROW_NUMBER() OVER (PARTITION BY nbr
                    ORDER BY ${graft.Hashing.hexFoldSql("concat_ws('|', nbr, node)")}, node) AS rk
           FROM nbrs),
         capped AS (SELECT node, nbr FROM ranked WHERE rk <= $JaccardHubCap),
         cand AS (
           SELECT DISTINCT x.node AS a, y.node AS b
           FROM capped x JOIN capped y ON x.nbr = y.nbr AND x.node < y.node),
         i AS (
           SELECT c.a, c.b, COUNT(*) AS inter
           FROM cand c JOIN nbrs na ON na.node = c.a
                       JOIN nbrs nb ON nb.node = c.b AND nb.nbr = na.nbr
           GROUP BY c.a, c.b)
         SELECT a, b, inter,
                ROUND(CAST(inter AS DOUBLE) /
                      CAST(da.deg + db.deg - inter AS DOUBLE), 6) AS jaccard
         FROM i JOIN deg da ON da.node = a JOIN deg db ON db.node = b
         WHERE CAST(inter AS DOUBLE) /
               CAST(da.deg + db.deg - inter AS DOUBLE) >= 0.3
         ORDER BY a, b""",
    // link prediction: the capped-candidate replay + NOT EXISTS on the
    // canonical (src < dst) edge list + integer evidence scores
    "g_link_pred" ->
      s"""$OracleCte,
         nbrs AS (
           SELECT src AS node, dst AS nbr FROM edges WHERE distance <= 0.10
           UNION ALL
           SELECT dst, src FROM edges WHERE distance <= 0.10),
         deg AS (SELECT node, COUNT(*) AS deg FROM nbrs GROUP BY node),
         ranked AS (
           SELECT node, nbr,
                  ROW_NUMBER() OVER (PARTITION BY nbr
                    ORDER BY ${graft.Hashing.hexFoldSql("concat_ws('|', nbr, node)")}, node) AS rk
           FROM nbrs),
         capped AS (SELECT node, nbr FROM ranked WHERE rk <= $JaccardHubCap),
         cand AS (
           SELECT DISTINCT x.node AS a, y.node AS b
           FROM capped x JOIN capped y ON x.nbr = y.nbr AND x.node < y.node),
         miss AS (
           SELECT c.a, c.b FROM cand c
           WHERE NOT EXISTS (
             SELECT 1 FROM edges e
             WHERE e.distance <= 0.10 AND e.src = c.a AND e.dst = c.b)),
         i AS (
           SELECT m.a, m.b, COUNT(*) AS common_neighbors
           FROM miss m JOIN nbrs na ON na.node = m.a
                       JOIN nbrs nb ON nb.node = m.b AND nb.nbr = na.nbr
           GROUP BY m.a, m.b)
         SELECT i.a, i.b, i.common_neighbors,
                da.deg * db.deg AS pref_attachment
         FROM i JOIN deg da ON da.node = i.a JOIN deg db ON db.node = i.b
         WHERE i.common_neighbors >= 3
         ORDER BY i.a, i.b""",
    "g_pagerank" -> pprOracle(10, "TRUE"),
    "g_eigen_walks" -> eigenWalksOracle(Algorithms.EigenWalkRounds),
    "g_ppr" -> pprOracle(10, "source='BUILDING' AND contains(taxonomy,'4')"),
    "g_khop_reach" -> khopOracle(KhopMaxHops),
    // JSON attr payloads rebuilt by string concatenation: longs/strings
    // render identically, and DuckDB's double->varchar is the same
    // shortest round-trip representation Jackson emits in to_json.
    "g_viz_export" ->
      s"""$OracleCte
         SELECT n.id AS phage,
                '{"size":' || CAST(CAST(FLOOR(n.genome_size/3000) AS BIGINT) AS VARCHAR) ||
                ',"color":{"border":"#000000","background":"' ||
                $TaxonColorSql || '"}}' AS attrs
         FROM nodes n JOIN cloud_ids ci ON n.id = ci.id
         ORDER BY phage""",
    // The numeric attrs are fixed-scale decimals (see vizExportEdges):
    // DuckDB's decimal->varchar keeps the declared scale ("0.1000"),
    // matching Spark's to_json of DecimalType, so the blob hash-matches.
    "g_viz_export_edges" ->
      s"""$OracleCte
         SELECT e.src, e.dst,
                '{"value":' ||
                CAST(CAST(0.1 - e.distance + 0.1 AS DECIMAL(12,6)) AS VARCHAR) ||
                ',"color":"lightgray","title":"' ||
                CAST(CAST(e.distance AS DECIMAL(12,6)) AS VARCHAR) || '"}' AS attrs
         ${inducedSql("cloud_ids")}""",
    "g_edges_build" ->
      s"$OracleCte SELECT src, dst, distance FROM edges ORDER BY src, dst",
    "g_taxon_cloud" ->
      s"""$OracleCte
         SELECT s AS seed_phage, t AS target_phage FROM cloud
         ORDER BY seed_phage, target_phage""",
    "g_cloud_nodes" ->
      s"""$OracleCte
         SELECT n.id AS phage, n.source AS source, n.genome_size AS genome_size,
                contains(n.taxonomy, '4') AS is_taxon,
                $TaxonColorSql AS color,
                CAST(FLOOR(n.genome_size/3000) AS BIGINT) AS size
         FROM nodes n JOIN cloud_ids ci ON n.id = ci.id
         ORDER BY phage""",
    "g_cloud_edges" ->
      s"""$OracleCte
         SELECT e.src, e.dst, e.distance, 0.1 - e.distance + 0.1 AS value
         ${inducedSql("cloud_ids")}""",
    "g_family_cloud" ->
      s"""$OracleCte
         SELECT id AS phage_node FROM ($FamilySet) t
         ORDER BY phage_node""",
    "g_host_cloud" -> hostOracle(harsh = false),
    "g_host_cloud_harsh" -> hostOracle(harsh = true),
    "g_host_edges" ->
      s"""$OracleCte, ${hostSetCte(harsh = false)}
         SELECT e.src, e.dst, e.distance
         ${inducedSql("hostset")}""",
    "g_family_nodes" -> familyNodesOracle(genusRank = false),
    "g_family_nodes_genus" -> familyNodesOracle(genusRank = true),
    "g_degrees" ->
      s"""$OracleCte
         SELECT n.id,
                COALESCE(o.out_deg, 0) AS out_deg,
                COALESCE(i.in_deg, 0) AS in_deg,
                COALESCE(o.out_deg, 0) + COALESCE(i.in_deg, 0) AS deg
         FROM nodes n
         LEFT JOIN (SELECT src AS id, COUNT(*) AS out_deg FROM edges GROUP BY src) o
           ON n.id = o.id
         LEFT JOIN (SELECT dst AS id, COUNT(*) AS in_deg FROM edges GROUP BY dst) i
           ON n.id = i.id
         ORDER BY n.id""",
    "g_two_hop" ->
      s"""$OracleCte
         SELECT DISTINCT e2.dst AS node FROM nodes a
         JOIN edges e1 ON e1.src = a.id AND e1.distance <= 0.10
         JOIN edges e2 ON e2.src = e1.dst AND e2.distance <= 0.10
         WHERE a.source='BUILDING' AND contains(a.taxonomy,'4')
         ORDER BY node""",
    "g_pattern_chain" ->
      s"""$OracleCte
         SELECT e1.src AS a, e1.dst AS b, e2.dst AS c FROM edges e1
         JOIN edges e2 ON e2.src = e1.dst
         WHERE e1.distance <= 0.10 AND e2.distance <= 0.10
         ORDER BY a, b, c""",
    "g_triangle_count" ->
      s"""$OracleCte,
         te AS (SELECT src, dst FROM edges WHERE distance <= 0.10),
         tri AS (
           SELECT e1.src AS a, e1.dst AS b, e2.dst AS c FROM te e1
           JOIN te e2 ON e2.src = e1.dst
           JOIN te e3 ON e3.src = e1.src AND e3.dst = e2.dst),
         pernode AS (
           SELECT x AS node, COUNT(*) AS tri FROM (
             SELECT a AS x FROM tri UNION ALL
             SELECT b FROM tri UNION ALL
             SELECT c FROM tri) u GROUP BY x)
         SELECT n.id AS node, COALESCE(p.tri, 0) AS n_triangles
         FROM nodes n LEFT JOIN pernode p ON p.node = n.id
         ORDER BY node""",
    "g_eccentricity" ->
      s"""${OracleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         und AS (
           SELECT src AS u, dst AS v FROM edges WHERE distance <= 0.10
           UNION ALL
           SELECT dst, src FROM edges WHERE distance <= 0.10),
         sd AS (SELECT id FROM nodes ORDER BY id LIMIT $EccSeeds),
         bfs(seed, id, d) AS (
           SELECT id, id, 0 FROM sd
           UNION
           SELECT b.seed, e.v, b.d + 1
           FROM bfs b JOIN und e ON e.u = b.id
           WHERE b.d < $EccMaxRounds),
         md AS (SELECT seed, id, MIN(d) AS d FROM bfs GROUP BY 1, 2)
         SELECT seed, COUNT(*) AS n_reached,
                CAST(MAX(d) AS BIGINT) AS eccentricity
         FROM md GROUP BY seed ORDER BY seed""",
    "g_harmonic" ->
      s"""${OracleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         und AS (
           SELECT src AS u, dst AS v FROM edges WHERE distance <= 0.10
           UNION ALL
           SELECT dst, src FROM edges WHERE distance <= 0.10),
         sd AS (SELECT id FROM nodes ORDER BY id LIMIT $EccSeeds),
         bfs(seed, id, d) AS (
           SELECT id, id, 0 FROM sd
           UNION
           SELECT b.seed, e.v, b.d + 1
           FROM bfs b JOIN und e ON e.u = b.id
           WHERE b.d < $EccMaxRounds),
         md AS (SELECT seed, id, MIN(d) AS d FROM bfs GROUP BY 1, 2)
         SELECT seed, COUNT(*) AS n_reached,
                ROUND(CAST(SUM(CASE WHEN d > 0
                    THEN CAST($HarmonicLcm / d AS BIGINT) ELSE 0 END)
                  AS DOUBLE) / $HarmonicLcm, 6) AS harmonic
         FROM md GROUP BY seed ORDER BY seed""",
    "g_closeness" ->
      s"""${OracleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         und AS (
           SELECT src AS u, dst AS v FROM edges WHERE distance <= 0.10
           UNION ALL
           SELECT dst, src FROM edges WHERE distance <= 0.10),
         sd AS (SELECT id FROM nodes ORDER BY id LIMIT $EccSeeds),
         bfs(seed, id, d) AS (
           SELECT id, id, 0 FROM sd
           UNION
           SELECT b.seed, e.v, b.d + 1
           FROM bfs b JOIN und e ON e.u = b.id
           WHERE b.d < $EccMaxRounds),
         md AS (SELECT seed, id, MIN(d) AS d FROM bfs GROUP BY 1, 2)
         SELECT seed, COUNT(*) AS n_reached,
                CAST(SUM(d) AS BIGINT) AS sum_d,
                CASE WHEN SUM(d) > 0
                     THEN ROUND(CAST(COUNT(*) - 1 AS DOUBLE)
                                / CAST(SUM(d) AS DOUBLE), 6)
                     ELSE 0.0 END AS closeness
         FROM md GROUP BY seed ORDER BY seed""",
    "g_connected_components" ->
      s"""${OracleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         und AS (
           SELECT src AS u, dst AS v FROM edges WHERE distance <= 0.10
           UNION ALL
           SELECT dst, src FROM edges WHERE distance <= 0.10),
         reach(u, v) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u)
         SELECT u AS node, MIN(v) AS component FROM reach GROUP BY u
         ORDER BY node""",
    "g_clustering_coeff" ->
      s"""$OracleCte,
         te AS (
           SELECT DISTINCT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst
           FROM edges WHERE distance <= 0.10 AND src <> dst),
         dg AS (
           SELECT x AS node, COUNT(*) AS deg FROM (
             SELECT src AS x FROM te UNION ALL SELECT dst FROM te) u
           GROUP BY x),
         tri AS (
           SELECT e1.src AS a, e1.dst AS b, e2.dst AS c FROM te e1
           JOIN te e2 ON e2.src = e1.dst
           JOIN te e3 ON e3.src = e1.src AND e3.dst = e2.dst),
         pernode AS (
           SELECT x AS node, COUNT(*) AS tri FROM (
             SELECT a AS x FROM tri UNION ALL
             SELECT b FROM tri UNION ALL
             SELECT c FROM tri) u GROUP BY x)
         SELECT n.id AS node,
                COALESCE(d.deg, 0) AS deg,
                COALESCE(p.tri, 0) AS n_triangles,
                CASE WHEN COALESCE(d.deg, 0) >= 2
                     THEN ROUND(CAST(2 * COALESCE(p.tri, 0) AS DOUBLE) /
                                (d.deg * (d.deg - 1)), 6)
                     ELSE 0.0 END AS clustering_coeff
         FROM nodes n
         LEFT JOIN dg d ON d.node = n.id
         LEFT JOIN pernode p ON p.node = n.id
         ORDER BY node""",
    "g_random_walk" -> {
      def stepCte(s: Int): String = {
        val hash = graft.Hashing.hexFoldSql(
          s"CAST(w.walk_id AS VARCHAR) || '|' || '$s' || '|' || CAST(e.v AS VARCHAR)")
        s"""w$s AS (
           SELECT walk_id, node FROM (
             SELECT w.walk_id, e.v AS node,
                    ROW_NUMBER() OVER (PARTITION BY w.walk_id
                      ORDER BY $hash, e.v) AS rn
             FROM w${s - 1} w JOIN undc e ON e.u = w.node) WHERE rn = 1)"""
      }
      val selects = (0 to WalkLen)
        .map(s => s"SELECT walk_id, $s AS step, node FROM w$s")
        .mkString("\n UNION ALL ")
      val adjHash = graft.Hashing.hexFoldSql(
        "CAST(u AS VARCHAR) || '|' || CAST(v AS VARCHAR)")
      s"""$OracleCte,
         und AS (
           SELECT src AS u, dst AS v FROM edges WHERE distance <= 0.10
           UNION ALL
           SELECT dst, src FROM edges WHERE distance <= 0.10),
         undc AS (
           SELECT u, v FROM (
             SELECT u, v, ROW_NUMBER() OVER (PARTITION BY u
               ORDER BY $adjHash, v) AS rn
             FROM und) WHERE rn <= $WalkAdjCap),
         w0 AS (SELECT id AS walk_id, id AS node FROM nodes),
         ${(1 to WalkLen).map(stepCte).mkString(",\n")}
         $selects
         ORDER BY walk_id, step"""
    },
    "g_walk_cap_audit" -> {
      def stepCte(prefix: String, adj: String)(s: Int): String = {
        val hash = graft.Hashing.hexFoldSql(
          s"CAST(w.walk_id AS VARCHAR) || '|' || '$s' || '|' || CAST(e.v AS VARCHAR)")
        s"""$prefix$s AS (
           SELECT walk_id, node FROM (
             SELECT w.walk_id, e.v AS node,
                    ROW_NUMBER() OVER (PARTITION BY w.walk_id
                      ORDER BY $hash, e.v) AS rn
             FROM $prefix${s - 1} w JOIN $adj e ON e.u = w.node) WHERE rn = 1)"""
      }
      val adjHash = graft.Hashing.hexFoldSql(
        "CAST(u AS VARCHAR) || '|' || CAST(v AS VARCHAR)")
      val cSel = (0 to WalkLen)
        .map(s => s"SELECT walk_id, $s AS step, node FROM w$s")
        .mkString("\n UNION ALL ")
      val fSel = (0 to WalkLen)
        .map(s => s"SELECT walk_id, $s AS step, node FROM f$s")
        .mkString("\n UNION ALL ")
      s"""$OracleCte,
         und AS (
           SELECT src AS u, dst AS v FROM edges WHERE distance <= 0.10
           UNION ALL
           SELECT dst, src FROM edges WHERE distance <= 0.10),
         undc AS (
           SELECT u, v FROM (
             SELECT u, v, ROW_NUMBER() OVER (PARTITION BY u
               ORDER BY $adjHash, v) AS rn
             FROM und) WHERE rn <= $WalkAdjCap),
         w0 AS (SELECT id AS walk_id, id AS node FROM nodes),
         f0 AS (SELECT id AS walk_id, id AS node FROM nodes),
         ${(1 to WalkLen).map(stepCte("w", "undc")).mkString(",\n")},
         ${(1 to WalkLen).map(stepCte("f", "und")).mkString(",\n")},
         cw AS ($cSel),
         fw AS ($fSel)
         SELECT COALESCE(cw.step, fw.step) AS step,
                COUNT(cw.node) AS n_capped,
                COUNT(fw.node) AS n_uncapped,
                CAST(SUM(CASE WHEN cw.node = fw.node THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_agree,
                ROUND(CAST(SUM(CASE WHEN cw.node = fw.node THEN 1 ELSE 0 END)
                        AS DOUBLE) / CAST(COUNT(fw.node) AS DOUBLE), 6)
                  AS agreement
         FROM cw FULL JOIN fw
           ON cw.walk_id = fw.walk_id AND cw.step = fw.step
         GROUP BY 1 ORDER BY 1"""
    },
    "g_node2vec_walks" -> {
      def stepCte(s: Int): String = {
        val hash = graft.Hashing.hexFoldSql(
          s"CAST(w.walk_id AS VARCHAR) || '|' || '$s' || '|' || CAST(e.v AS VARCHAR)")
        if (s == 1)
          // no prev yet: the uniform min-hash choice, carrying prev out
          s"""w$s AS (
             SELECT walk_id, from_node AS prev, node FROM (
               SELECT w.walk_id, w.node AS from_node, e.v AS node,
                      ROW_NUMBER() OVER (PARTITION BY w.walk_id
                        ORDER BY $hash, e.v) AS rn
               FROM w${s - 1} w JOIN undc e ON e.u = w.node) WHERE rn = 1)"""
        else
          s"""w$s AS (
             SELECT walk_id, from_node AS prev, node FROM (
               SELECT w.walk_id, w.node AS from_node, e.v AS node,
                      ROW_NUMBER() OVER (PARTITION BY w.walk_id
                        ORDER BY
                          -LN(CAST($hash + 1 AS DOUBLE)
                              / 1152921504606846976.0)
                          / (CASE WHEN e.v = w.prev THEN 0.25
                                  WHEN t.eu IS NOT NULL THEN 1.0
                                  ELSE 4.0 END), e.v) AS rn
               FROM w${s - 1} w
               JOIN undc e ON e.u = w.node
               LEFT JOIN te t ON t.eu = LEAST(w.prev, e.v)
                             AND t.ev = GREATEST(w.prev, e.v)) WHERE rn = 1)"""
      }
      val selects = (0 to WalkLen)
        .map(s => s"SELECT walk_id, $s AS step, node FROM w$s")
        .mkString("\n UNION ALL ")
      val adjHash = graft.Hashing.hexFoldSql(
        "CAST(u AS VARCHAR) || '|' || CAST(v AS VARCHAR)")
      s"""$OracleCte,
         und AS (
           SELECT src AS u, dst AS v FROM edges WHERE distance <= 0.10
           UNION ALL
           SELECT dst, src FROM edges WHERE distance <= 0.10),
         undc AS (
           SELECT u, v FROM (
             SELECT u, v, ROW_NUMBER() OVER (PARTITION BY u
               ORDER BY $adjHash, v) AS rn
             FROM und) WHERE rn <= $WalkAdjCap),
         te AS (
           SELECT DISTINCT LEAST(src, dst) AS eu, GREATEST(src, dst) AS ev
           FROM edges WHERE distance <= 0.10 AND src <> dst),
         w0 AS (SELECT id AS walk_id, CAST(NULL AS BIGINT) AS prev,
                       id AS node FROM nodes),
         ${(1 to WalkLen).map(stepCte).mkString(",\n")}
         $selects
         ORDER BY walk_id, step"""
    },
    "g_cloud_stats" ->
      s"""${OracleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         und AS (
           SELECT src AS u, dst AS v FROM edges WHERE distance <= 0.10
           UNION ALL
           SELECT dst, src FROM edges WHERE distance <= 0.10),
         reach(u, v) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
         comp AS (SELECT u AS id, MIN(v) AS component FROM reach GROUP BY u),
         ns AS (
           SELECT c.component, COUNT(*) AS n_nodes,
                  MIN(n.genome_size) AS min_genome,
                  MAX(n.genome_size) AS max_genome
           FROM comp c JOIN nodes n ON n.id = c.id GROUP BY c.component),
         es AS (
           SELECT c.component, COUNT(*) AS n_edges,
                  SUM(CAST(e.distance AS DECIMAL(18,12))) AS dist_sum
           FROM edges e JOIN comp c ON c.id = e.src
           WHERE e.distance <= 0.10 GROUP BY c.component)
         SELECT ns.component, ns.n_nodes,
                COALESCE(es.n_edges, 0) AS n_edges,
                ns.min_genome, ns.max_genome,
                CASE WHEN es.n_edges IS NOT NULL
                     THEN ROUND(CAST(es.dist_sum AS DOUBLE) / es.n_edges, 6)
                     ELSE 0.0 END AS avg_distance
         FROM ns LEFT JOIN es USING (component)
         ORDER BY component""",
    "g_square_count" ->
      s"""$OracleCte,
         te AS (
           SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
           FROM edges WHERE distance <= 0.10 AND src <> dst),
         und AS (SELECT u, v FROM te UNION ALL SELECT v, u FROM te),
         cn AS (
           SELECT e1.v AS a, e2.v AS c, COUNT(*) AS n
           FROM und e1 JOIN und e2 ON e1.u = e2.u AND e1.v < e2.v
           GROUP BY 1, 2)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_coneighbor_pairs,
                CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_wedge_pairs,
                CAST(COALESCE(SUM(n * (n - 1) // 2) // 2, 0) AS BIGINT) AS n_squares
         FROM cn""",
    "g_rich_club" ->
      s"""$OracleCte,
         te AS (
           SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
           FROM edges WHERE distance <= 0.10 AND src <> dst),
         dg AS (
           SELECT x AS id, COUNT(*) AS d FROM (
             SELECT u AS x FROM te UNION ALL SELECT v FROM te) q GROUP BY x),
         ks AS (SELECT CAST(unnest([1, 2, 4, 8, 16, 32]) AS BIGINT) AS k),
         nc AS (
           SELECT ks.k AS k, COUNT(*) AS n_rich_nodes
           FROM ks JOIN dg ON dg.d > ks.k GROUP BY ks.k),
         em AS (
           SELECT LEAST(a.d, b.d) AS m FROM te
           JOIN dg a ON a.id = te.u JOIN dg b ON b.id = te.v),
         ec AS (
           SELECT ks.k AS k, COUNT(*) AS n_rich_edges
           FROM ks JOIN em ON em.m > ks.k GROUP BY ks.k)
         SELECT ks.k,
                CAST(COALESCE(nc.n_rich_nodes, 0) AS BIGINT) AS n_rich_nodes,
                CAST(COALESCE(ec.n_rich_edges, 0) AS BIGINT) AS n_rich_edges,
                CASE WHEN COALESCE(nc.n_rich_nodes, 0) >= 2
                     THEN ROUND(CAST(COALESCE(ec.n_rich_edges, 0) AS DOUBLE) * 2.0 /
                                CAST(nc.n_rich_nodes * (nc.n_rich_nodes - 1) AS DOUBLE), 6)
                     ELSE 0.0 END AS phi
         FROM ks LEFT JOIN nc ON nc.k = ks.k LEFT JOIN ec ON ec.k = ks.k
         ORDER BY ks.k""",
    "g_degree_hist" -> {
      val chain = (1 to 31)
        .map(k => s"WHEN deg < ${1L << k} THEN ${1L << (k - 1)}")
        .mkString(" ")
      s"""$OracleCte,
         und AS (
           SELECT src AS u FROM edges WHERE distance <= 0.10
           UNION ALL SELECT dst FROM edges WHERE distance <= 0.10),
         dg0 AS (SELECT u AS id, COUNT(*) AS deg FROM und GROUP BY u),
         dg AS (
           SELECT n.id, COALESCE(dg0.deg, 0) AS deg
           FROM nodes n LEFT JOIN dg0 ON dg0.id = n.id),
         b AS (
           SELECT CASE WHEN deg = 0 THEN 0 $chain
                       ELSE ${1L << 31} END AS deg_bucket, deg
           FROM dg)
         SELECT CAST(deg_bucket AS BIGINT) AS deg_bucket,
                COUNT(*) AS n_nodes,
                CAST(MIN(deg) AS BIGINT) AS min_deg,
                CAST(MAX(deg) AS BIGINT) AS max_deg
         FROM b GROUP BY 1 ORDER BY 1"""
    },
    "g_genus_projection" ->
      s"""$OracleCte,
         ge AS (
           SELECT ns.genus AS gs, nd.genus AS gd, e.distance
           FROM edges e
           JOIN nodes ns ON ns.id = e.src
           JOIN nodes nd ON nd.id = e.dst
           WHERE e.distance <= 0.10)
         SELECT LEAST(gs, gd) AS genus_a, GREATEST(gs, gd) AS genus_b,
                CAST(COUNT(*) AS BIGINT) AS n_edges,
                MIN(distance) AS min_distance,
                ROUND(CAST(SUM(CAST(distance AS DECIMAL(18,12))) AS DOUBLE)
                      / COUNT(*), 6) AS avg_distance
         FROM ge GROUP BY 1, 2 ORDER BY 1, 2""",
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g_edges_build"           -> edgesBuild _,
    "g_taxon_cloud"           -> ((s: SparkSession, d: String) => taxonCloud(s, d)),
    "g_cloud_nodes"           -> ((s: SparkSession, d: String) => cloudNodes(s, d)),
    "g_cloud_edges"           -> ((s: SparkSession, d: String) => cloudEdges(s, d)),
    "g_family_cloud"          -> ((s: SparkSession, d: String) => familyCloud(s, d)),
    "g_host_cloud"            -> ((s: SparkSession, d: String) => hostCloud(s, d, harsh = false)),
    "g_host_cloud_harsh"      -> ((s: SparkSession, d: String) => hostCloud(s, d, harsh = true)),
    "g_host_edges"            -> ((s: SparkSession, d: String) => hostEdges(s, d)),
    "g_family_nodes"          -> ((s: SparkSession, d: String) => familyNodes(s, d)),
    "g_family_nodes_genus"    -> ((s: SparkSession, d: String) =>
                                    familyNodes(s, d, colorRank = "genus")),
    "g_viz_export_edges"      -> ((s: SparkSession, d: String) => vizExportEdges(s, d)),
    "g_degrees"               -> degrees _,
    "g_two_hop"               -> twoHop _,
    "g_khop_reach"            -> ((s: SparkSession, d: String) => khopReach(s, d)),
    "g_pattern_chain"         -> patternChain _,
    "g_triangle_count"        -> triangleCount _,
    "g_connected_components"  -> connectedComponents _,
    "g_kcore"                 -> kCore _,
    "g_truss_support"         -> trussSupport _,
    "g_ktruss"                -> kTrussEdges _,
    "g_coreness"              -> corenessShells _,
    "g_label_prop"            -> labelProp _,
    "g_louvain"               -> louvain _,
    "g_louvain_weighted"      -> louvainWeighted _,
    "g_community_refine"      -> communityRefine _,
    "g_cloud_overlap"         -> cloudOverlap _,
    "g_mst"                   -> mst _,
    "g_mst_weight"            -> mstWeight _,
    "g_threshold_sweep"       -> thresholdSweep _,
    "g_neighbor_jaccard"      -> ((s: SparkSession, d: String) => neighborJaccard(s, d)),
    "g_neighbor_jaccard_capped" -> ((s: SparkSession, d: String) =>
                                    neighborJaccardCapped(s, d)),
    "g_link_pred"             -> ((s: SparkSession, d: String) => linkPrediction(s, d)),
    "g_pagerank"              -> pageRank _,
    "g_eigen_walks"           -> eigenWalks _,
    "g_ppr"                   -> personalizedPageRank _,
    "g_shortest_paths"        -> shortestPaths _,
    "g_clustering_coeff"      -> clusteringCoeff _,
    "g_cloud_stats"           -> cloudStats _,
    "g_square_count"          -> squareCount _,
    "g_rich_club"             -> richClub _,
    "g_genus_projection"      -> genusProjection _,
    "g_degree_hist"           -> degreeHist _,
    "g_assortativity"         -> assortativity _,
    "g_eccentricity"          -> eccentricity _,
    "g_harmonic"              -> harmonic _,
    "g_betweenness"           -> betweenness _,
    "g_closeness"             -> closeness _,
    "g_modularity"            -> modularity _,
    "g_random_walk"           -> ((s: SparkSession, d: String) => randomWalks(s, d)),
    "g_walk_cap_audit"        -> ((s: SparkSession, d: String) => walkCapAudit(s, d)),
    "g_node2vec_walks"        -> ((s: SparkSession, d: String) => node2vecWalks(s, d)),
    "g_viz_export"            -> ((s: SparkSession, d: String) => vizExport(s, d)),
  )
}
