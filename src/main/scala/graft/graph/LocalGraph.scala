package graft.graph

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The driver-side graph behind every gated twin in [[Algorithms]]: one
  * collect of the caller's already-checkpointed edge frame, one sorted
  * id dictionary, int endpoint indices, and the CSR, membership,
  * union-find and re-attach steps the twins share. Built once per twin
  * call; the kernel loops themselves stay in [[Algorithms]].
  *
  * Contract:
  *   - `ids` is sorted ascending and distinct, so INDEX ORDER = ID ORDER:
  *     comparing two indices compares their ids, a slice of index cells
  *     sorts like the distributed `sort_array(id)`, and a union-find that
  *     roots every set at its smallest index roots it at its minimum id
  *     (the min-member contract of the CC kernels);
  *   - `src`/`dst` hold one int index per collected edge, in collect
  *     order. Ints are safe BY THE GATE: every caller collects at most
  *     [[graft.Gates.edges]] rows (symmetric rows for the symmetric
  *     layers), so |ids| ≤ 2 · 4M + seeds < 2³¹;
  *   - membership with the caller's node frame ([[restrict]]) is one
  *     semi-join of that frame against the (≤ 2|E|-row) dictionary, so
  *     the driver never collects |V| node rows;
  *   - the CSR is the one [[Algorithms.AdjImage]] type that
  *     [[Algorithms.packAdjImage]] builds, laid out by the same offsets. */
private[graft] final class LocalGraph(
    val ids: Array[Long], val src: Array[Int], val dst: Array[Int]) {

  def n: Int = ids.length
  def m: Int = src.length

  /** Dictionary index of `id`; negative when `id` is not in the graph. */
  def index(id: Long): Int = java.util.Arrays.binarySearch(ids, id)

  /** CSR over the edges `keep` accepts (all when null): each kept edge
    * puts `dst` in the slice of `src` and, when `both`, `src` in the
    * slice of `dst`. Slots fill in edge order. Returns the image and,
    * per slot, the edge it came from (for a parallel weight array). */
  def csr(both: Boolean, keep: Int => Boolean = null)
      : (Algorithms.AdjImage, Array[Int]) = {
    val lens = new Array[Int](n)
    var e = 0
    while (e < m) {
      if (keep == null || keep(e)) {
        lens(src(e)) += 1
        if (both) lens(dst(e)) += 1
      }
      e += 1
    }
    val img = Algorithms.AdjImage.alloc(ids, lens)
    val slotEdge = new Array[Int](img.flat.length)
    val pos = java.util.Arrays.copyOf(img.offs, n)
    e = 0
    while (e < m) {
      if (keep == null || keep(e)) {
        val a = src(e); val b = dst(e)
        img.flat(pos(a)) = b; slotEdge(pos(a)) = e; pos(a) += 1
        if (both) { img.flat(pos(b)) = a; slotEdge(pos(b)) = e; pos(b) += 1 }
      }
      e += 1
    }
    (img, slotEdge)
  }

  /** Root index per node of the union-find over the edges `keep`
    * accepts (all when null): each set's smallest index, i.e. its
    * minimum id. Duplicate, reversed and self-loop edges are harmless. */
  def roots(keep: Int => Boolean = null): Array[Int] = {
    val uf = new LocalGraph.UnionFind(n)
    var e = 0
    while (e < m) {
      if (keep == null || keep(e)) uf.union(src(e), dst(e))
      e += 1
    }
    Array.tabulate(n)(uf.find)
  }

  /** The subgraph over the rows of `base` (an `id` frame, payload
    * columns allowed) that are endpoints here: one semi-join of `base`
    * against the dictionary, collected and sorted by id. Keeps the
    * edges whose BOTH endpoints are members, in edge order. Returns
    * the subgraph and the member rows (row i = subgraph index i, with
    * `id` cast to long). */
  def restrict(base: DataFrame): (LocalGraph, Array[Row]) = {
    val spark = base.sparkSession
    import spark.implicits._
    val rows = base.join(LocalGraph.relation(spark, ids.toIndexedSeq, "id"),
        Seq("id"), "left_semi")
      .withColumn("id", col("id").cast("long"))
      .collect().sortBy(_.getLong(0))
    val vid = rows.map(_.getLong(0))
    val member = Array.fill(n)(-1)
    var k = 0
    while (k < vid.length) { member(index(vid(k))) = k; k += 1 }
    val ms = new Array[Int](m); val md = new Array[Int](m)
    var kept = 0
    var e = 0
    while (e < m) {
      val a = member(src(e)); val b = member(dst(e))
      if (a >= 0 && b >= 0) { ms(kept) = a; md(kept) = b; kept += 1 }
      e += 1
    }
    (new LocalGraph(vid, java.util.Arrays.copyOf(ms, kept),
      java.util.Arrays.copyOf(md, kept)), rows)
  }
}

private[graft] object LocalGraph {

  /** The graph of edges (us(i), vs(i)); `extra` ids (e.g. SSSP seeds)
    * join the dictionary without edges. */
  def apply(us: Array[Long], vs: Array[Long],
            extra: Array[Long] = Array.emptyLongArray): LocalGraph = {
    val m = us.length
    val all = new Array[Long](2 * m + extra.length)
    var i = 0
    while (i < m) { all(2 * i) = us(i); all(2 * i + 1) = vs(i); i += 1 }
    System.arraycopy(extra, 0, all, 2 * m, extra.length)
    java.util.Arrays.sort(all)
    var n = 0
    i = 0
    while (i < all.length) { // in-place dedup of the sorted ids
      if (n == 0 || all(n - 1) != all(i)) { all(n) = all(i); n += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(all, n)
    val src = new Array[Int](m); val dst = new Array[Int](m)
    i = 0
    while (i < m) {
      src(i) = java.util.Arrays.binarySearch(ids, us(i))
      dst(i) = java.util.Arrays.binarySearch(ids, vs(i))
      i += 1
    }
    new LocalGraph(ids, src, dst)
  }

  /** Collect the (u, v) columns of an edge frame. */
  def collect(edges: DataFrame, u: String, v: String): LocalGraph = {
    val spark = edges.sparkSession
    import spark.implicits._
    val rows = edges.select(col(u).cast("long"), col(v).cast("long"))
      .as[(Long, Long)].collect()
    LocalGraph(rows.map(_._1), rows.map(_._2))
  }

  /** Collect (u, v) plus an integral weight column, one weight per edge. */
  def collectLongW(edges: DataFrame, u: String, v: String, w: String)
      : (LocalGraph, Array[Long]) = {
    val spark = edges.sparkSession
    import spark.implicits._
    val rows = edges.select(col(u).cast("long"), col(v).cast("long"),
      col(w).cast("long")).as[(Long, Long, Long)].collect()
    (LocalGraph(rows.map(_._1), rows.map(_._2)), rows.map(_._3))
  }

  /** Collect (u, v) plus a double weight column, one weight per edge. */
  def collectDoubleW(edges: DataFrame, u: String, v: String, w: String,
                     extra: Array[Long] = Array.emptyLongArray)
      : (LocalGraph, Array[Double]) = {
    val spark = edges.sparkSession
    import spark.implicits._
    val rows = edges.select(col(u).cast("long"), col(v).cast("long"),
      col(w).cast("double")).as[(Long, Long, Double)].collect()
    (LocalGraph(rows.map(_._1), rows.map(_._2), extra), rows.map(_._3))
  }

  /** Driver rows as a frame: one parallelized RDD of at most
    * `defaultParallelism` slices. */
  def relation[T: Encoder: ClassTag](spark: SparkSession, rows: Seq[T],
                                     names: String*): DataFrame = {
    val sc = spark.sparkContext
    spark.createDataset(sc.parallelize(rows,
        math.max(1, math.min(rows.length, sc.defaultParallelism))))
      .toDF(names: _*)
  }

  /** Re-attach per-id twin results `rel` to the caller's node frame:
    * `base` left-joined on `id`, then `out` — whose coalesce gives the
    * nodes off the edge list their distributed fixpoint value. */
  def attach(base: DataFrame, rel: DataFrame)(out: Column*): DataFrame =
    base.join(rel, Seq("id"), "left_outer").select(out: _*)

  /** Union-find over indices 0 until n with path halving; every union
    * roots at the smaller index. */
  final class UnionFind(n: Int) {
    private val parent = Array.tabulate(n)(identity)

    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }

    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
  }
}
