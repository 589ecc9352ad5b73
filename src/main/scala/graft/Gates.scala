package graft

import scala.util.DynamicVariable

/** The size bounds behind every gated kernel: below its bound a kernel
  * collects its input and runs on the driver (a twin loop or a
  * broadcast image); above it the distributed plan stands — the
  * 100 TB regime, where the intrinsic work parallelizes per partition.
  * One logical program, the physical plan picked by data size in one
  * place (Pregelix, VLDB 2014). The bounds come from heap arithmetic
  * against the 8 GiB driver:
  *
  *  - [[edges]]: 4M edge rows (symmetric rows for the sym-layer
  *    kernels). 4M pairs of longs is ~64 MB raw, a few hundred MB
  *    transient with collect boxing. The forest cuts and Borůvka merge
  *    graphs fed to the CC kernel are ≤ |V|−1 edges, so at any tested
  *    scale they pass; at 10^10-node scale the distributed loops stand.
  *  - [[cells]]: 256M adjacency-array cells (2|E|, one per endpoint) in
  *    a broadcast CSR image: ≈ 2 GB as longs, the dense-synthetic
  *    150k/85M point. Images index nodes by int, which this bound keeps
  *    safe: ≤ 256M cells means |V| ≤ cells + 1 < 2³¹. One place reads
  *    it for every image: [[graph.Algorithms.collectAdjImage]], the
  *    image tier that builds, gates and destroys each broadcast image.
  *    The walk kernels' driver-built images also check it beside
  *    [[edges]].
  *  - [[bytes]]: 256 MiB of collected strings, for the driver-local
  *    pair kernel over the capped (doc_id, gram) table and for the BPE
  *    trainer's wrapped corpus — one copy of either is trivial against
  *    the driver heap.
  *
  * The bounds are not configurable. Specs pin both sides of a gate on
  * the same input through [[within]]. */
object Gates {
  private final case class Bounds(edges: Long, cells: Long, bytes: Long)

  private val bounds =
    new DynamicVariable(Bounds(4L * 1000 * 1000, 256L * 1000 * 1000, 256L * 1024 * 1024))

  def edges: Long = bounds.value.edges
  def cells: Long = bounds.value.cells
  def bytes: Long = bounds.value.bytes

  /** Runs `body` with the given bounds on this thread: −1 or 0 forces
    * the distributed path, `Long.MaxValue` the driver path. A test
    * seam: production code never calls it. */
  private[graft] def within[T](edges: Long = Gates.edges, cells: Long = Gates.cells,
                               bytes: Long = Gates.bytes)(body: => T): T =
    bounds.withValue(Bounds(edges, cells, bytes))(body)
}
