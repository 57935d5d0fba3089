package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Deterministic sampling for training-data pipelines — the operators a
  * 100 TB corpus job runs constantly (downsample a stratum, carve a
  * held-out split) done WITHOUT `rand()`: every decision is a pure
  * function of the row's id via md5, so task retries, AQE re-planning,
  * and re-runs produce byte-identical samples, and the DuckDB oracle
  * reproduces them exactly. The SAMPLERS (stratified/split/mixture/
  * quality/temperature) are per-row Column algebra — shuffle-free until
  * the (optional) final aggregation, the predicate riding the scan like
  * any other filter; the ORDER/QUOTA operators (topk_quality, epoch,
  * docs_shuffle) each pay exactly one keyed window shuffle, sharded as
  * their per-query notes describe.
  */
object Sampling {

  /** Uniform hash bucket in [0, mod): md5 of the id's decimal string. */
  def hashBucket(id: Column, mod: Int): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long") % mod

  /** Every document's language and whitespace-token count `n_toks` — the
    * stats input and the sampled rows of both rate samplers. SQL twin:
    * [[sizedCte]]. */
  private def sized(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))

  /** The rate samplers' second pass: [[sized]] `docs` kept where their md5
    * bucket falls under their language's `threshold_ppm` (`rates` is
    * |langs|-row, broadcast), counted per `rates` row. SQL twin:
    * [[keptSql]]. */
  private def keptAtRates(docs: DataFrame, rates: DataFrame): DataFrame =
    docs
      .join(broadcast(rates), Seq("lang"))
      .filter(hashBucket(col("doc_id"), 1000000) < col("threshold_ppm"))
      .groupBy(rates.columns.map(col): _*)
      .agg(count(lit(1)).as("n_kept"), sum(col("n_toks")).as("kept_tokens"))
      .orderBy(col("lang"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // stratified downsampling: per-language keep-rates (en 50%, es 20%,
    // de 10%) applied via hash buckets — the class-rebalancing step of a
    // corpus build. Emits the surviving rows; the sample is a pure filter,
    // so at 100 TB it fuses into the scan.
    "sample_stratified" -> ((s, d) => {
      val b = hashBucket(col("doc_id"), 10)
      val keep = when(col("lang") === "en", b < 5)
        .when(col("lang") === "es", b < 2)
        .otherwise(b < 1)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), b.as("bucket"))
        .filter(keep)
        .orderBy(col("doc_id"))
    }),

    // 90/10 train/test split: per-(lang, split) counts — the split
    // assignment is the same hash-bucket function, so a document's split
    // never changes across runs (the property that keeps held-out data
    // held out).
    "sample_split" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"),
          when(hashBucket(col("doc_id"), 10) < 9, "train").otherwise("test").as("split"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("split"))),

    // data mixing: resample the corpus to a TARGET composition (en 50%,
    // es 30%, rest 20% of a half-corpus token budget) — unlike
    // sample_stratified's fixed per-stratum rates, the rate here is
    // COMPUTED from corpus statistics: pass 1 aggregates per-lang token
    // totals (tiny: |langs| rows), the thresholds derive from them in
    // exact integer arithmetic (ppm of the hash space — no float
    // division anywhere, so Spark and the oracle agree bit-for-bit; at
    // ≳10^13-token corpora widen the b·share product to DECIMAL(38,0),
    // DEPLOYMENT.md), and pass 2 re-scans with the threshold filter
    // fused into the scan after a |langs|-row broadcast join. This
    // stats→broadcast→filter shape is the 100 TB mixture sampler: the
    // corpus is never shuffled, only scanned (pruned to two columns for
    // the stats pass, whose scalar-glue total costs one extra pruned
    // scan — the q22_idle pattern; at 100 TB the stats relation is a
    // persisted byproduct and both extra scans disappear).
    "sample_mixture" -> ((s, d) => {
      val docs = sized(s, d)
      val sharePpm = when(col("lang") === "en", 500000L)
        .when(col("lang") === "es", 300000L)
        .otherwise(200000L)
      val rates = docs.groupBy(col("lang"))
        .agg(sum(col("n_toks")).as("lang_toks"))
        .withColumn("share_ppm", sharePpm)
        .crossJoin(broadcast(docs.agg(expr("sum(n_toks) div 2").as("b"))))
        .select(col("lang"),
          least(lit(1000000L), expr("(b * share_ppm) div lang_toks")).as("threshold_ppm"))
      keptAtRates(docs, rates)
    }),

    // quality-proportional rejection sampling (the DCLM/FineWeb-style
    // soft filter): instead of sample_stratified's hard strata or
    // text_quality's binary keep-cut, every document is kept with
    // probability equal to its quality score — high-quality docs almost
    // always survive, low-quality docs are thinned, mid-band keeps its
    // diversity. Determinism: the score is the SHARED [[TextStats
    // .qualityScore]] formula (bit-stable cross-engine), floored to a
    // per-doc ppm threshold, compared against the md5 hash bucket — no
    // rand() — so retries and the oracle agree exactly. Per-row algebra:
    // shuffle-free, the predicate fuses into the scan at any corpus size.
    "sample_quality" -> ((s, d) => {
      val q = graft.functions.TextStats.qualityScore(col("text"))
      Tables.fanout(Tables.documents(s, d))
        .select(col("doc_id"), col("lang"),
          floor(q * 1000000).cast("long").as("keep_ppm"),
          hashBucket(col("doc_id"), 1000000).as("bucket"))
        .filter(col("bucket") < col("keep_ppm"))
        .orderBy(col("doc_id"))
    }),

    // per-language quality QUOTA: keep exactly the top fifth (by the
    // SHARED quality score) of every language — the budgeted counterpart
    // of sample_quality's probabilistic thinning. When a mixture spec
    // fixes each language's document budget, curation takes the BEST
    // docs up to that budget rather than a quality-proportional coin
    // flip. One language-keyed window (rank over score desc, doc_id
    // tie-break — doubles order identically in both engines) and the
    // quota test is pure integers (rk·5 ≤ n ⇔ rk ≤ ⌊n/5⌋): no float
    // thresholds, re-run- and retry-stable. At 100 TB the lang window
    // partitions are corpus-language-sized — shard the key ((lang,
    // doc_id % S) with per-shard quotas) exactly like docs_pack when one
    // language dominates.
    "sample_topk_quality" -> ((s, d) => {
      val q = graft.functions.TextStats.qualityScore(col("text"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("score").desc, col("doc_id"))
      val wn = Window.partitionBy(col("lang"))
      Relational.sortedOnce(
        Tables.fanout(Tables.documents(s, d))
          .select(col("doc_id"), col("lang"), q.as("score"))
          .withColumn("rk", row_number().over(w).cast("long"))
          .withColumn("n_lang", count(lit(1)).over(wn))
          .withColumn("kept", col("rk") * 5 <= col("n_lang"))
          .select(col("doc_id"), col("lang"), col("score"), col("rk"), col("kept")),
        col("doc_id"))
    }),

    // temperature-scaled language mixing (the mT5/UniMax α-smoothing):
    // target weights w_i ∝ lang_toks^α with α = 1/2 — unlike
    // sample_mixture's GIVEN shares, the target composition here is
    // COMPUTED from the corpus statistics, up-weighting tail languages.
    // Determinism discipline: the only irrational step (√) is evaluated
    // once per LANGUAGE on the stats relation — floor(√toks) as a BIGINT
    // "integer root" — and everything after is exact integer rationals
    // (ppm thresholds), so Spark and the oracle agree bit-for-bit and
    // retries/AQE re-plans can't perturb the sample. Same stats →
    // broadcast → scan-fused filter shape as sample_mixture: the corpus
    // is never shuffled. Overflow note: budget·sroot·10⁶ needs
    // DECIMAL(38,0) beyond ~10¹³ tokens (DEPLOYMENT.md).
    "sample_temperature" -> ((s, d) => {
      val docs = sized(s, d)
      val stats = docs.groupBy(col("lang"))
        .agg(sum(col("n_toks")).as("lang_toks"))
        .withColumn("sroot", floor(sqrt(col("lang_toks").cast("double"))).cast("long"))
      val tot = stats.agg(sum(col("sroot")).as("s_sum"),
        expr("sum(lang_toks) div 2").as("budget"))
      val rates = stats.crossJoin(broadcast(tot))
        .select(col("lang"), col("lang_toks"),
          expr("(sroot * 1000000) div s_sum").as("weight_ppm"),
          least(lit(1000000L),
            expr("(budget * sroot * 1000000) div (s_sum * lang_toks)"))
            .as("threshold_ppm"))
      keptAtRates(docs, rates)
    }),

    // deterministic training-order shuffle + sharding: every epoch reader
    // needs the corpus in a pseudo-random order that is STABLE across
    // retries and re-runs — order by md5(doc_id) within hash shards.
    // Each shard's window sorts only its own slice (shards are the unit
    // of parallelism: thousands at 100 TB, so no single-task sort), and
    // the (shard, pos) pair is the deterministic address a loader seeks
    // to — resharding is a pure function of NumShards, no data movement
    // decision left to the engine.
    // Multi-epoch training order: a NEW deterministic permutation per
    // epoch from the same shard layout — the hash is salted with the
    // epoch, so re-shuffling between epochs is a pure ORDER change (the
    // loader re-sorts each shard's manifest slice; no rows move between
    // shards, no corpus re-shuffle). Shard membership stays epoch-
    // independent on purpose: shard files are written once, epochs only
    // permute read order within them. Same md5 discipline as
    // docs_shuffle: retries and engines agree byte-for-byte.
    "sample_epoch" -> ((s, d) => {
      val epochs = explode(sequence(lit(0), lit(1))).as("epoch")
      val h = md5(concat(col("epoch").cast("string"), lit(":"),
        col("doc_id").cast("string")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("epoch"), col("shard")).orderBy(col("h"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), hashBucket(col("doc_id"), NumShards).as("shard"), epochs)
        .withColumn("h", h)
        .withColumn("pos", row_number().over(w).cast("long"))
        .select(col("epoch"), col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("epoch"), col("shard"), col("pos"))
    }),

    "docs_shuffle" -> ((s, d) => {
      val h = md5(col("doc_id").cast("string"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), hashBucket(col("doc_id"), NumShards).as("shard"), h.as("h"))
        .withColumn("pos", row_number().over(w).cast("long"))
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))
    })
  )

  /** Training shards for docs_shuffle — the unit of sort parallelism and
    * of loader addressing; scale with the corpus (DEPLOYMENT.md). */
  val NumShards = 8

  /** SQL twin of [[hashBucket]] over `doc_id`. */
  private def bucketSql(mod: Int): String =
    s"CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % $mod"

  /** SQL twin of [[sized]]. */
  private val sizedCte =
    """sized AS (
      |  SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      |  FROM documents)""".stripMargin

  /** SQL twin of [[keptAtRates]] over the `sized` and `rates` CTEs; `cols`
    * are rates' columns. */
  private def keptSql(cols: String*): String =
    s"""SELECT ${cols.mkString(", ")}, COUNT(*) AS n_kept,
       |  CAST(SUM(n_toks) AS BIGINT) AS kept_tokens
       |FROM sized JOIN rates USING (lang)
       |WHERE ${bucketSql(1000000)} < threshold_ppm
       |GROUP BY ${cols.mkString(", ")}
       |ORDER BY lang""".stripMargin

  val oracle: Map[String, String] = Map(
    "sample_stratified" ->
      s"""SELECT doc_id, lang, ${bucketSql(10)} AS bucket
         |FROM documents
         |WHERE CASE WHEN lang = 'en' THEN ${bucketSql(10)} < 5
         |           WHEN lang = 'es' THEN ${bucketSql(10)} < 2
         |           ELSE ${bucketSql(10)} < 1 END
         |ORDER BY doc_id""".stripMargin,
    "sample_split" ->
      s"""SELECT lang,
         |  CASE WHEN ${bucketSql(10)} < 9 THEN 'train' ELSE 'test' END AS split,
         |  COUNT(*) AS n_docs
         |FROM documents
         |GROUP BY 1, 2
         |ORDER BY lang, split""".stripMargin,
    "sample_mixture" ->
      s"""WITH $sizedCte,
         |ls AS (
         |  SELECT lang, CAST(SUM(n_toks) AS BIGINT) AS lang_toks,
         |    CASE lang WHEN 'en' THEN 500000 WHEN 'es' THEN 300000 ELSE 200000 END AS share_ppm
         |  FROM sized GROUP BY 1),
         |tot AS (SELECT CAST(SUM(lang_toks) // 2 AS BIGINT) AS b FROM ls),
         |rates AS (
         |  SELECT lang,
         |    CAST(least(1000000, (b * share_ppm) // lang_toks) AS BIGINT) AS threshold_ppm
         |  FROM ls CROSS JOIN tot)
         |${keptSql("lang", "threshold_ppm")}""".stripMargin,
    "sample_quality" ->
      s"""WITH scored AS (
         |  SELECT doc_id, lang,
         |    CAST(floor(${graft.functions.TextStats.sqlQualityScore} * 1000000) AS BIGINT) AS keep_ppm,
         |    ${bucketSql(1000000)} AS bucket
         |  FROM documents)
         |SELECT doc_id, lang, keep_ppm, bucket
         |FROM scored
         |WHERE bucket < keep_ppm
         |ORDER BY doc_id""".stripMargin,
    "sample_topk_quality" ->
      s"""WITH scored AS (
         |  SELECT doc_id, lang,
         |    ${graft.functions.TextStats.sqlQualityScore} AS score
         |  FROM documents),
         |ranked AS (
         |  SELECT doc_id, lang, score,
         |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS rk,
         |    COUNT(*) OVER (PARTITION BY lang) AS n_lang
         |  FROM scored)
         |SELECT doc_id, lang, score, rk, rk * 5 <= n_lang AS kept
         |FROM ranked
         |ORDER BY doc_id""".stripMargin,
    "sample_temperature" ->
      s"""WITH $sizedCte,
         |ls AS (
         |  SELECT lang, CAST(SUM(n_toks) AS BIGINT) AS lang_toks,
         |    CAST(floor(sqrt(CAST(SUM(n_toks) AS DOUBLE))) AS BIGINT) AS sroot
         |  FROM sized GROUP BY 1),
         |tot AS (
         |  SELECT CAST(SUM(sroot) AS BIGINT) AS s_sum,
         |    CAST(SUM(lang_toks) // 2 AS BIGINT) AS budget
         |  FROM ls),
         |rates AS (
         |  SELECT lang, lang_toks,
         |    CAST((sroot * 1000000) // s_sum AS BIGINT) AS weight_ppm,
         |    CAST(least(1000000, (budget * sroot * 1000000) // (s_sum * lang_toks)) AS BIGINT)
         |      AS threshold_ppm
         |  FROM ls CROSS JOIN tot)
         |${keptSql("lang", "lang_toks", "weight_ppm", "threshold_ppm")}""".stripMargin,
    "sample_epoch" ->
      s"""WITH sh AS (
         |  SELECT doc_id, ${bucketSql(NumShards)} AS shard
         |  FROM documents),
         |ep AS (
         |  SELECT doc_id, shard, CAST(e.e AS INTEGER) AS epoch,
         |    md5(CAST(e.e AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS h
         |  FROM sh, range(0, 2) e(e))
         |SELECT epoch, doc_id, shard,
         |  ROW_NUMBER() OVER (PARTITION BY epoch, shard ORDER BY h, doc_id) AS pos
         |FROM ep
         |ORDER BY epoch, shard, pos""".stripMargin,
    "docs_shuffle" ->
      s"""SELECT doc_id, ${bucketSql(NumShards)} AS shard,
         |  ROW_NUMBER() OVER (PARTITION BY ${bucketSql(NumShards)}
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pos
         |FROM documents
         |ORDER BY shard, pos""".stripMargin
  )
}
