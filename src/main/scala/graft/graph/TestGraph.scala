package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deterministic phage-shaped property graph derived from the driver
  * testdata, mirroring the reference's data model
  * (/root/reference/phageclouds_gdb.py:56-73):
  *
  *   PhageGenome ≈ customer  — accession=c_custkey, source=c_mktsegment,
  *     genome_size=floor(|c_acctbal|*10), taxonomy=c_name,
  *     hostkey=c_nationkey;
  *   Host        ≈ nation    — genus=n_name;
  *   infects     ≈ c_nationkey FK;
  *   sharesDNA   ≈ same-nation account-balance similarity:
  *     distance = |Δ c_acctbal| / 11000 ∈ [0,1], directed low→high custkey,
  *     kept when distance ≤ 0.15 (the corpus build threshold).
  *
  * The similarity self-join is intentionally bucketed by nation key — at
  * 100 TB an all-pairs genome comparison is impossible; the reference's
  * corpus was built the same way (candidate pairs from a bucketing
  * filter, then exact distances). The same-key join shuffles each side
  * once on the bucket key; AQE handles residual skew.
  *
  * Every constant here is mirrored verbatim in [[Clouds.OracleCte]] so the
  * DuckDB oracle recomputes the identical graph. The distance arithmetic
  * (|a−b|/11000) is two IEEE ops on parquet doubles — bit-identical in
  * both engines, so unrounded doubles hash-match.
  */
object TestGraph {
  val BuildThreshold = 0.15
  val QueryThreshold = 0.10
  val DistanceNorm = 11000.0
  val SizeScaleFactor = 3000    // reference gdb.py:95 size_scale_factor

  // source-category mapping of the reference's corpora (gdb.py:80-91)
  val Ncbi = "BUILDING"
  val Tara = "AUTOMOBILE"
  val GpdIsolate = "MACHINERY"
  val GpdMetagenome = "HOUSEHOLD"
  // The 5th mktsegment — the reference's --harsh flag excludes this corpus
  // (phageclouds_gdb_host.py:57 `a.source <> 'GTDB_predicted_prophages'`),
  // which under this mapping is the otherwise/yellow bucket.
  val Gtdb = "FURNITURE"

  val Taxon = "4"          // gdb.py     -t <taxon>   (taxonomy CONTAINS)
  val Family = "1"         // family.py  -f <family>
  val HostGenus = "NATION_7" // host.py  -g <genus>

  /** PhageGenome-shaped node table. `genus` mirrors the reference's
    * per-phage genus property (phageclouds_gdb_host.py:62 `a.genus`) —
    * a deterministic categorical derived from the key. */
  def phageNodes(spark: SparkSession, dir: String): DataFrame =
    genomes(spark, dir).drop("balance")

  /** [[phageNodes]] plus the `balance` (c_acctbal) the distance reads. */
  private[graph] def genomes(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      col("c_custkey").as("id"),
      col("c_mktsegment").as("source"),
      floor(abs(col("c_acctbal")) * 10).cast("long").as("genome_size"),
      col("c_name").as("taxonomy"),
      col("c_nationkey").as("hostkey"),
      concat(lit("G"), (col("c_custkey") % 7).cast("string")).as("genus"),
      col("c_acctbal").as("balance"))

  /** Two-level taxonomic lineage lookup — the analogue of the reference's
    * `phages.accessions.txt.taxid` → NCBI lineage chain
    * (phageclouds_gdb_family.py:102-104): hostkey → nation (genus level)
    * → region (family level). Both are dimensions → broadcast-safe. */
  def lineage(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir)
      .select(col("n_nationkey").as("host_id"), col("n_name").as("genus_name"),
        col("n_regionkey"))
      .join(broadcast(Tables.region(spark, dir)
          .select(col("r_regionkey"), col("r_name").as("family_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("host_id"), col("genus_name"), col("r_regionkey").as("family_key"),
        col("family_name"))

  /** sharesDNA-shaped weighted similarity edges (see class doc). */
  def sharesDna(spark: SparkSession, dir: String): DataFrame =
    dnaPairs(genomes(spark, dir), genomes(spark, dir), BuildThreshold)

  /** The sharesDNA pair rule between two genome row sets (`id`,
    * `hostkey`, `balance`): a join on the nation bucket with `src < dst`,
    * kept when `|Δbalance| / DistanceNorm` is within both
    * [[BuildThreshold]] and `threshold`. Returns (src, dst, distance).
    * The cloud plans ([[Clouds.CloudPlan]]) share it. */
  private[graph] def dnaPairs(a: DataFrame, b: DataFrame, threshold: Double): DataFrame =
    a.select(col("id").as("src"), col("hostkey"), col("balance").as("abal"))
      .join(b.select(col("id").as("dst"), col("hostkey").as("nk"), col("balance").as("bbal")),
        col("hostkey") === col("nk") && col("src") < col("dst"))
      .select(col("src"), col("dst"),
        (abs(col("abal") - col("bbal")) / DistanceNorm).as("distance"))
      .filter(col("distance") <= math.min(threshold, BuildThreshold))

  /** Host-shaped node table (genus = n_name). */
  def hosts(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir)
      .select(col("n_nationkey").as("host_id"), col("n_name").as("genus"))

  /** The assembled property graph. */
  def graph(spark: SparkSession, dir: String): PropertyGraph =
    PropertyGraph(phageNodes(spark, dir), sharesDna(spark, dir))
}
