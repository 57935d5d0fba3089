package graft

/** Data-sized initial shuffle partition count, applied by [[Session]].
  *
  * Round 10 pinned `adaptive.coalescePartitions.initialPartitionNum` to a
  * constant 192 — the right call at the 100× stress corpus (a cores-pinned
  * shuffle spilled: 60M rows in 4 partitions) but a measured ~2.2-2.6× tax
  * on the ioc-consumer family at sf0.1 (round-11 solo interleaved A/B,
  * medians of 3: ioc_allowlist 2.80 s at 192 vs 1.08 s at 32, ioc_unified
  * 3.22 vs 1.46, family totals 31.2/31.7/30.3 vs 18.7/18.4/18.7 — and the
  * 192 arm reproduces the r10 driver numbers exactly, so the driver-bench
  * inflation was the posture, not co-tenant noise). A constant cannot be
  * right at both ends; the partition count must follow DATA bytes.
  *
  * Formula: `clamp(cores, inputBytes / 4 MiB, 4096)` over the corpus
  * directory's compressed parquet bytes. Rationale: snappy parquet expands
  * ~4-8× raw, so 4 MiB of input per initial partition ≈ 16-32 MiB of
  * pre-coalesce shuffle — comfortably under the 64 MiB advisory AQE then
  * coalesces toward (at `parallelismFirst=true`, Spark's default, AQE
  * never coalesces below the parallelism floor — see Session.scala). Yields
  * cores at sf0.01/sf0.1 (1.9/17.5 MB → the floor — small SFs pay zero
  * tax), 45 at the 10× corpus, ~520 at the 100× corpus (≥ the 192 that
  * fixed the spill). The clamp top is a runaway guard for a mispointed
  * directory, not a tuning value; on a real cluster `cores` is the
  * executor total and the same formula holds until inputs pass ~16 TB,
  * where per-partition input is capped by maxPartitionBytes anyway.
  */
object Tuning {
  def initialShufflePartitions(sfDir: String, cores: Int): Int =
    math.min(4096L, math.max(cores.toLong, corpusBytes(sfDir) / (4L << 20))).toInt

  /** Total bytes under the corpus dir; 0 if unreadable (→ cores floor). */
  private[graft] def corpusBytes(sfDir: String): Long =
    try {
      val root = java.nio.file.Paths.get(sfDir)
      if (!java.nio.file.Files.isDirectory(root)) 0L
      else {
        val s = java.nio.file.Files.walk(root)
        try s.filter(p => java.nio.file.Files.isRegularFile(p))
          .mapToLong(p => java.nio.file.Files.size(p)).sum()
        finally s.close()
      }
    } catch { case _: Throwable => 0L }
}
