package graft

/** [[Verify]] on both sides of every size gate: once inside
  * `Gates.within(edges = 0, cells = 0, bytes = 0)`, so each gated
  * kernel runs its distributed path, and once inside `Long.MaxValue`,
  * so each runs its driver path. The outputs land in
  * `<outDir>/distributed` and `<outDir>/driver`; compare each against
  * DuckDB with `tools/check.py`:
  *
  * {{{
  * sbt "Test/runMain graft.VerifyBothGates <sfDir> <outDir>"
  * python3 tools/check.py <sfDir> <outDir>/distributed --skip-run
  * python3 tools/check.py <sfDir> <outDir>/driver --skip-run
  * }}}
  *
  * Both sides always run; the process exits 1 when a key failed on
  * either. Lives in test scope, outside the suite: a full
  * forced-distributed run takes minutes. */
object VerifyBothGates {
  def main(args: Array[String]): Unit = {
    val failed = for ((side, bound) <- Seq("distributed" -> 0L, "driver" -> Long.MaxValue)) yield {
      System.err.println(s"[verify-both] $side side: every gate bound = $bound")
      side -> Gates.within(edges = bound, cells = bound, bytes = bound) {
        Verify.run(Array(args(0), s"${args(1)}/$side"))
      }
    }
    for ((side, keys) <- failed if keys.nonEmpty)
      System.err.println(s"[verify-both] $side side FAILED: ${keys.mkString(", ")}")
    if (failed.exists(_._2.nonEmpty)) sys.exit(1)
  }
}
