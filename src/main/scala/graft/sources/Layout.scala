package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Storage-layout helpers: the write-side half of the 100 TB shuffle
  * budget.
  *
  * A fact table that is joined on the same key every day should be
  * BUCKETED on that key at write time: both sides of the join then scan
  * pre-hashed, co-located buckets and the sort-merge join plans with NO
  * exchange (and, when `sortBy` matches the join key, no per-task sort
  * either) — the entire shuffle is paid once at ingest instead of on
  * every query. Likewise a table filtered by date should be PARTITIONED
  * by date at write time so queries prune whole directories at planning
  * time instead of scanning and discarding.
  *
  * Both are plain open-source Spark datasource features; these wrappers
  * only pin the conventions (parquet, overwrite, sorted buckets) and
  * give the specs a single seam to assert the resulting plans.
  */
object Layout {

  /** `df` hash-repartitioned on `key` to the session's
    * `defaultParallelism` when its scan layout is thinner, else `df`
    * as is. At bench scale the documents, embeddings and payload files
    * are ONE parquet split, so every per-row-heavy stage behind the
    * scan (tokenize / n-gram explode / per-gram hash, the pHash decode,
    * the vector encode/assign maps behind a checkpoint) ran as a
    * single task — measured 0.5–3.7 s serial per stage at sf0.1. At
    * scale the scan is already at least that wide and this is a no-op,
    * so no payload shuffle is added where it would hurt. Hash placement
    * on `key` (never round-robin) keeps the layout deterministic under
    * retries, which a stage feeding a dedup needs. */
  def widen(df: DataFrame, key: String): DataFrame = {
    val width = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < width) df.repartition(width, col(key))
    else df
  }

  /** Drop `table` from the catalog AND clear any orphaned warehouse
    * directory a previous (crashed) writer left behind — Spark refuses
    * to create a managed table over an existing location. Local/file
    * warehouses only; a cluster deployment points the warehouse at
    * shared storage and manages it with real table lifecycle tooling. */
  private def reset(spark: SparkSession, table: String): Unit = {
    // the fallback path below is string-built as <warehouse>/<table> —
    // only correct for unqualified names (db.tbl lives at db.db/tbl)
    require(!table.contains("."),
      s"Layout tables must be unqualified (default database), got '$table'")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val uri = new java.net.URI(wh)
    if (uri.getScheme == null || uri.getScheme == "file") {
      val path = java.nio.file.Paths.get(
        if (uri.getScheme == null) wh else uri.getPath, table.toLowerCase)
      if (java.nio.file.Files.exists(path)) {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(path)
        try walk.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
        finally walk.close()
      }
    }
  }

  /** Write `df` as a bucketed, per-bucket-sorted parquet table. Bucket
    * count must match between tables that will be joined — it plays the
    * role of the cluster-wide shuffle width for that key. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    reset(df.sparkSession, table)
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)
  }

  /** Write `df` partitioned by `partitionCol` (directory-per-value) —
    * the layout that turns date/tenant predicates into partition pruning
    * at planning time. */
  def writePartitioned(df: DataFrame, table: String, partitionCol: String): Unit = {
    reset(df.sparkSession, table)
    df.write.mode("overwrite").format("parquet")
      .partitionBy(partitionCol)
      .saveAsTable(table)
  }

  /** Equi-join of two same-bucketed tables on their bucket key. With
    * matching bucket counts this plans as a zero-exchange sort-merge
    * join (asserted in LayoutSpec). */
  def colocatedJoin(spark: SparkSession, left: String, right: String,
                    key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)
}
