package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session posture: every main in `graft` starts its
  * SparkSession here, so the bench, the correctness dump, the profilers
  * and the plan tool all run the same configuration.
  *
  * - master: `SPARK_GRAFT_MASTER`, else `local[SPARK_GRAFT_CPUS]` (4 if
  *   unset). `local-cluster[2,8,8192]` runs the same job on separate
  *   executor JVMs (multi-process smoke, fault injection); those executors
  *   don't inherit the sbt classpath, so pass the app jar via
  *   `SPARK_GRAFT_JARS` (→ `spark.jars`).
  * - `shuffle.partitions` = the master's core count.
  * - `initialPartitionNum` sized to the data ([[Tuning]]).
  * - UTC session zone; `nanosAsLong` for the TIMESTAMP(NANOS) `events.ts`
  *   of older corpora (normalized by `Tables.events`); UI off; WARN logs.
  */
object Session {

  /** Starts (or returns) the session. `dataDir` is the corpus the job
    * reads, which sizes the initial shuffle partition count; without one
    * the count is the core floor. `defaultMaster` applies only when
    * `SPARK_GRAFT_MASTER` is unset. */
  def start(dataDir: Option[String] = None,
            defaultMaster: String =
              s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]"): SparkSession = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", defaultMaster)
    val n = cores(master)
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", n.toString)
      // Partition count must follow DATA size, not core count: with the
      // default (initialPartitionNum = shuffle.partitions = cores) a
      // 60M-row shuffle at the 100× stress corpus lands in 4 partitions
      // of ~15M rows each and spills — the superlinear curve the sf10
      // point exposed on basket_pairs/dedup_ngram_jaccard. But a constant
      // 192 (the r10 posture) taxed every sf0.1 ioc-family query ~2.2-2.6×
      // (round-11 solo A/B — see [[Tuning]]); the count is now derived
      // from the corpus bytes: cores at small SFs, ~520 at the 100×
      // corpus. Production posture for the 100 TB target unchanged —
      // initialPartitionNum sized to data, AQE fits partitions to
      // advisoryPartitionSizeInBytes.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        dataDir.fold(n)(Tuning.initialShufflePartitions(_, n)).toString)
      // AQE is Spark's default; set explicitly because the data-sized
      // initial count above only acts under it.
      .config("spark.sql.adaptive.enabled", "true")
      // parallelismFirst stays at Spark's default (true) since r11: the
      // r10 "192-sliver" pathology pf=false worked around was a symptom of
      // the CONSTANT 192 initial (more slivers than data); with the
      // data-sized initial above there is nothing to sliver at small SFs,
      // and pf=false's 64 MB-advisory coalescing was measured OVER-merging
      // the CPU-heavy shuffles at sf0.1 (basket_pairs 3.89 -> 2.55 s,
      // dedup_ngram_jaccard 4.04 -> 2.69 s at pf=true, medians of 3 solo
      // runs; rest of the family +/-10%). pf=true only ever ADDS
      // partitions at scale, so the 100x spill fix is unaffected
      // (re-validated on target/sf10 — see BASELINE_HISTORY.md r11).
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_JARS").foreach(j => builder.config("spark.jars", j))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val LocalN = """local\[(\d+)\]""".r
  private val LocalCluster = """local-cluster\[(\d+),\s*(\d+),\s*(\d+)\]""".r

  /** Total cores a master string grants: `local[N]` → N, `local[*]` → the
    * host's processors, `local-cluster[w,c,m]` → w·c. Anything else throws:
    * a silently-wrong count would skew every shuffle. */
  private[graft] def cores(master: String): Int = master match {
    case LocalN(n) if n.toInt > 0 => n.toInt
    case "local[*]" => Runtime.getRuntime.availableProcessors()
    case LocalCluster(w, c, _) if w.toInt > 0 && c.toInt > 0 => w.toInt * c.toInt
    case other => throw new IllegalArgumentException(
      s"unsupported master '$other': expected local[N], local[*] or local-cluster[w,c,m]")
  }
}
