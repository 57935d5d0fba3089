package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress corpus synthesizer: materialize an N× replica of a driver
  * testdata directory (default: 10× sf0.1 ≈ a "sf1") so the 100 TB design
  * claims — bucket caps, memoized index-build cost, window frames,
  * propagation rounds — become MEASURED curves instead of arguments
  * (`graft.Bench` against the output dir; BASELINE.md "Scale evidence").
  *
  * Replication is key-offset, not row-copy: replica r shifts every
  * surrogate key by r × unit, unit = (max base key + 1) rounded up to a
  * multiple of 10 (keys are 0-based contiguous), so
  * referential integrity (orders→customer, lineitem→part/supplier) and
  * per-key history sizes (events per user, lineitems per order) are
  * PRESERVED while key cardinality grows N× — the way a real corpus
  * grows. `region`/`nation` stay fixed (dimension constants, as in
  * TPC-H's own scaling model).
  *
  * Content columns must NOT be byte-identical across replicas or the
  * similarity family degenerates (10 identical copies of a doc form a
  * 45-pair near-dup clique per base doc — quadratic, unlike any real 10×
  * crawl):
  *  - `documents.text`: per-replica affine alphabet substitution
  *    (`translate`; [[alphabetFor]]) — length/token structure identical,
  *    3-gram shingles disjoint across replicas (up to [[MaxFactor]]
  *    replicas), so intra-replica near-dup structure replicates linearly;
  *  - `embeddings.embedding`: per-(replica, dimension) deterministic
  *    perturbation — vectors stay near the original direction (IVF cell
  *    occupancy scales evenly) without exact collisions.
  * Mod-10 split conventions (dedup_incremental, sim_incremental) survive
  * because every offset is a multiple of 10.
  */
object Synth {

  private val lower = "abcdefghijklmnopqrstuvwxyz"
  // multipliers coprime to 26 — 12 × 26 shifts = 312 distinct affine
  // letter permutations, the factor ceiling
  private val AffineMultipliers = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
  val MaxFactor: Int = AffineMultipliers.size * 26

  /** Replica r's alphabet: the affine permutation x → a·x + b (mod 26)
    * with (a, b) enumerated so no two replicas share a map and replica 0
    * is the identity. A pure SHIFT (round-9's first version) is mod-26:
    * at factor > 26 replicas 26+k verbatim-duplicated replicas k, which
    * the 30× scale-stress exposed as cross-replica exact dups driving
    * shingle DF to the cap — pair volume grew 5.2× for 3× data and the
    * near-dup family looked superlinear. Affine maps are distinct for
    * every distinct (a, b), so content stays pairwise-disjoint up to
    * [[MaxFactor]] replicas. */
  private[graft] def alphabetFor(r: Int): String = {
    require(r >= 0 && r < MaxFactor, s"replica $r outside 0..${MaxFactor - 1}")
    if (r == 0) lower
    else {
      val a = AffineMultipliers(r / 26)
      val b = r % 26
      lower.map(c => ((a * (c - 'a') + b) % 26 + 'a').toChar)
    }
  }

  /** Per-(replica, dimension) deterministic embedding perturbation.
    * Amplitude is bounded at 0.02·((r mod 10)+1) ≤ 0.2 INDEPENDENT of the
    * replica index — an earlier 0.02·r amplitude reached zero/negative
    * multipliers from r≈50, scrambling vector direction at high factors —
    * so the per-dimension multiplier stays in [0.8, 1.2] and cosine to the
    * base vector stays ≥ ~0.95 for every replica up to [[MaxFactor]]
    * (SynthSpec pins r = MaxFactor-1 directly). Replicas stay pairwise
    * distinct via r in the phase term. */
  private[graft] def perturbEmbedding(embedding: Column, rep: Column): Column =
    // replica 0 IS the base corpus, byte-identical — the multiplicative
    // perturbation (amplitude 0.02 at r=0 via pmod(0,10)+1 = 1) would
    // silently break that invariant for the embeddings table alone, and
    // float round-trip through *(1+ε·cos) is not exactly identity
    when(rep === 0, embedding).otherwise(
      transform(embedding, (x, i) =>
        (x * (lit(1.0) + lit(0.02) * (pmod(rep, lit(10)) + 1) * cos(i * 1.7 + rep)))
          .cast("float")))

  /** Per-replica affine alphabet substitution; identity for replica 0. */
  private def rotateText(text: Column, rep: Column, factor: Int): Column =
    (1 until factor).foldLeft(text) { (acc, r) =>
      when(rep === r, translate(text, lower, alphabetFor(r))).otherwise(acc)
    }

  def main(args: Array[String]): Unit = {
    val spark = Session.start()
    run(spark,
      args.headOption.getOrElse("/root/testdata/sf0.1"),
      args.lift(1).getOrElse("target/sf1"),
      args.lift(2).map(_.toInt).getOrElse(10))
    spark.stop()
  }

  /** Session-agnostic body (SynthSpec runs it on the shared test session). */
  def run(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    require(factor >= 1 && factor <= MaxFactor,
      s"factor $factor outside 1..$MaxFactor (distinct alphabet permutations)")
    // key-offset unit per key domain: max key + 1, rounded UP to a
    // multiple of 10 so the mod-10 split conventions survive at ANY
    // source scale factor (keys are 0-based, so this always clears the
    // base range). The SAME unit is used everywhere a key is referenced —
    // that is what keeps the foreign keys intact.
    def unit(table: String, key: String): Long = {
      val mx = spark.read.parquet(s"$src/$table.parquet")
        .agg(max(col(key))).head().getLong(0)
      ((mx + 1 + 9) / 10) * 10
    }
    val uCust = unit("customer", "c_custkey")
    val uSupp = unit("supplier", "s_suppkey")
    val uPart = unit("part", "p_partkey")
    val uOrd = unit("orders", "o_orderkey")
    val uEvent = unit("events", "event_id")
    val uUser = unit("events", "user_id")
    val uDoc = unit("documents", "doc_id")
    val uVec = unit("embeddings", "vec_id")

    // one scan per table; the replica axis is a broadcast range join, so
    // the 10× fan-out happens executor-side with no repeated reads
    def replicate(name: String)(tx: (DataFrame, Column) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val n = base.count()
      val reps = spark.range(factor).select(col("id").as("__rep"))
      val outDf = tx(base.crossJoin(broadcast(reps)), col("__rep")).drop("__rep")
      // `factor` output files (round-robin, so replicas MIX across files —
      // the balance, not a file↔replica mapping, is the point): the
      // driver's base tables are single row groups, and without this the
      // N× table inherits that — one unsplittable row group that
      // serializes every scan onto one task no matter the cluster size (a
      // real N× table has N× the row groups; scan parallelism growing
      // with data is the thing a scaling measurement must preserve)
      outDf.repartition(factor)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[synth] $name: $n -> ${n * factor} rows ($factor files)")
    }
    def copy(name: String): Unit = {
      spark.read.parquet(s"$src/$name.parquet")
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[synth] $name: copied as-is (fixed dimension)")
    }

    copy("region")
    copy("nation")
    // Entity names are regenerated from the offset key ('Supplier#' ||
    // 9-digit key — verified to hold for 100% of base rows, so replica 0
    // stays byte-identical). Keeping the base name would duplicate it
    // across replicas and silently break the name↔key bijection real
    // data guarantees: q21 groups by s_name (10 merged suppliers = 10×
    // numwait) and q20 orders by s_name alone (ties → nondeterministic
    // row order) — both surfaced as sf1 oracle mismatches.
    // printf-style %09d, NOT lpad: Spark's lpad TRUNCATES strings longer
    // than the pad length, so an offset key ≥ 10^9 (bigger base × high
    // factor) would silently collide names and break the exact name↔key
    // bijection this regeneration exists to preserve (dbgen's %09d pads
    // but never truncates).
    def entityName(prefix: String, key: Column): Column =
      format_string(s"$prefix%09d", key)
    replicate("customer")((df, r) => df
      .withColumn("c_custkey", col("c_custkey") + r * uCust)
      .withColumn("c_name", entityName("Customer#", col("c_custkey"))))
    replicate("supplier")((df, r) => df
      .withColumn("s_suppkey", col("s_suppkey") + r * uSupp)
      .withColumn("s_name", entityName("Supplier#", col("s_suppkey"))))
    replicate("part")((df, r) => df.withColumn("p_partkey", col("p_partkey") + r * uPart))
    replicate("orders")((df, r) => df
      .withColumn("o_orderkey", col("o_orderkey") + r * uOrd)
      .withColumn("o_custkey", col("o_custkey") + r * uCust))
    replicate("lineitem")((df, r) => df
      .withColumn("l_orderkey", col("l_orderkey") + r * uOrd)
      .withColumn("l_partkey", col("l_partkey") + r * uPart)
      .withColumn("l_suppkey", col("l_suppkey") + r * uSupp))
    replicate("events")((df, r) => df
      .withColumn("event_id", col("event_id") + r * uEvent)
      .withColumn("user_id", col("user_id") + r * uUser))
    replicate("documents")((df, r) => df
      .withColumn("doc_id", col("doc_id") + r * uDoc)
      .withColumn("text", rotateText(col("text"), r, factor)))
    replicate("embeddings")((df, r) => df
      .withColumn("vec_id", col("vec_id") + r * uVec)
      .withColumn("embedding", perturbEmbedding(col("embedding"), r)))
  }
}
