package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Salting

/** Scale-technique specs: Z-order pruning, salted joins/aggs equal to their
  * unsalted twins on skewed data, AQE skew splits, bucketed co-located
  * joins and approximate-aggregate error bounds.
  */
class ScaleOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val skewed = {
    // 10k rows, 95% on one hot key — the shape that breaks a plain shuffle
    (1 to 10000).map(i => (if (i % 20 == 0) s"key${i % 7}" else "hot", i.toLong, i * 1.0))
      .toDF("k", "uid", "v")
  }
  private lazy val dim = Seq(("hot", "H"), ("key1", "A"), ("key3", "B"))
    .toDF("k", "label")

  test("Z-ordered layout prunes 2-dim box predicates better than time-sorted") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._

    // 40k rows over a 256-user × 256-hour grid
    val ev = spark.range(40000).select(
      col("id").as("event_id"),
      (col("id") * 7919 % 256).as("user_id"),
      (col("id") * 104729 % 256).as("hour_bucket"))
    val base = java.nio.file.Files.createTempDirectory("zorder").toString
    val smallGroups = Map(
      "parquet.block.size" -> (16 * 1024).toString,
      "parquet.page.size" -> (4 * 1024).toString)
    // the PRODUCTION write path, not a hand-rolled twin
    graft.sinks.ParquetSink.writeZOrdered(ev, s"$base/zsorted",
      "user_id", "hour_bucket", smallGroups)
    ev.sort(col("hour_bucket")).write.options(smallGroups)
      .mode("overwrite").parquet(s"$base/timesorted")

    // count row groups whose (user_id, hour_bucket) min/max stats overlap
    // the box — exactly the footer-stats test a parquet reader applies
    def overlapping(dir: String, uLo: Long, uHi: Long, hLo: Long, hHi: Long): (Int, Int) = {
      val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet"))
      val blocks = files.toList.flatMap { f =>
        val r = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(f.getPath), new Configuration()))
        try r.getFooter.getBlocks.asScala.toList finally r.close()
      }
      def hits(b: org.apache.parquet.hadoop.metadata.BlockMetaData): Boolean = {
        val stats = b.getColumns.asScala.map(c => c.getPath.toDotString -> c.getStatistics).toMap
        def within(name: String, lo: Long, hi: Long): Boolean = {
          val st = stats(name)
          val mn = st.genericGetMin.asInstanceOf[Number].longValue
          val mx = st.genericGetMax.asInstanceOf[Number].longValue
          mx >= lo && mn <= hi
        }
        within("user_id", uLo, uHi) && within("hour_bucket", hLo, hHi)
      }
      (blocks.count(hits), blocks.size)
    }
    val (zHit, zTotal) = overlapping(s"$base/zsorted", 32, 63, 32, 63)
    val (tHit, tTotal) = overlapping(s"$base/timesorted", 32, 63, 32, 63)
    assert(zTotal >= 8 && tTotal >= 8, s"too few row groups to test pruning ($zTotal/$tTotal)")
    // a 1/8 × 1/8 box: time-sorted prunes one dimension, Z-sorted both
    assert(zHit.toDouble / zTotal < tHit.toDouble / tTotal,
      s"Z-order did not prune better: z=$zHit/$zTotal time=$tHit/$tTotal")
  }

  test("saltedJoin equals the plain join on skewed data") {
    val plain = skewed.join(dim, Seq("k")).select("k", "uid", "label")
    val salted = Salting.saltedJoin(skewed, dim, Seq("k"), col("uid"), factor = 8)
      .select("k", "uid", "label")
    assert(salted.except(plain).count() == 0 && plain.except(salted).count() == 0)
    assert(salted.count() == plain.count()) // duplicates preserved too
  }

  test("saltedSum equals the plain grouped sum") {
    val plain = skewed.groupBy(col("k")).agg(sum(col("v")).as("total"))
    val salted = Salting.saltedSum(skewed, "k", col("v"), col("uid"), factor = 8)
    val joined = plain.withColumnRenamed("total", "expected")
      .join(salted, Seq("k"))
    assert(joined.filter(col("expected") =!= col("total")).count() == 0)
    assert(salted.count() == plain.count())
  }

  test("AQE splits the skewed partition of a shuffled join (skew=true at runtime)") {
    // the built-in half of the skew story (saltedJoin above is the manual
    // half): with AQE on, a hot shuffle partition is split into subtasks at
    // RUNTIME from the actual map statistics — no code change, no salt.
    // Thresholds are sized for real tables; force them down to pin the
    // mechanism at test scale.
    val conf = spark.conf
    val overrides = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = overrides.map { case (k, _) => k -> conf.getOption(k) }
    overrides.foreach { case (k, v) => conf.set(k, v) }
    try {
      // one hot key carrying a wide payload vs a uniform build side. The
      // consumer is a GLOBAL aggregate over the payload: a groupBy on the
      // join key would pin the join's output partitioning and forbid the
      // split (AQE won't trade a skew fix for an extra shuffle), and the
      // payload must survive pruning or the hot partition has no bytes.
      val fact = spark.range(60000).select(
        (when(col("id") % 10 === 0, concat(lit("k"), col("id") % 50))
          .otherwise(lit("hot"))).as("k"),
        concat(lit("payload-"), col("id"), lit("-"), md5(col("id").cast("string"))).as("pay"))
      val dimS = spark.range(51).select(
        when(col("id") === 50, lit("hot")).otherwise(concat(lit("k"), col("id"))).as("k"),
        col("id").as("v"))
      val j = fact.join(dimS, Seq("k"))
        .agg(count(lit(1)).as("n"), max(length(col("pay"))).as("w"))
      // collect() (not head(): head builds a separate limit-plan
      // QueryExecution) so THIS plan executes and AQE finalizes
      assert(j.collect()(0).getLong(0) == 60000L)
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not mark the hot partition as skewed:\n$p")
    } finally saved.foreach { case (k, ov) =>
      ov.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("AQE defaults leave MB-scale skew unsplit — the gap tuning or salting must fill") {
    // the other half of the AQE story (the test above FORCES the split):
    // at DEFAULT thresholds (256 MB skewedPartitionThresholdInBytes) a
    // hot partition of mere megabytes is never split, so an untuned
    // cluster still gets the straggler. The round-9 sf1 probe
    // (DEPLOYMENT.md salting row) measured the consequences:
    // broadcast 1.1 s < AQE-tuned 3.6 s < salted-16 4.7 s < plain
    // straggler — tune AQE (or broadcast) first; salt is the fallback for
    // shapes AQE cannot reach (skewed AGG keys, non-SMJ paths).
    val conf = spark.conf
    val overrides = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = overrides.map { case (k, _) => k -> conf.getOption(k) }
    overrides.foreach { case (k, v) => conf.set(k, v) }
    try {
      val fact = spark.range(60000).select(
        (when(col("id") % 10 === 0, concat(lit("k"), col("id") % 50))
          .otherwise(lit("hot"))).as("k"),
        concat(lit("payload-"), col("id"), lit("-"), md5(col("id").cast("string"))).as("pay"))
      val dimS = spark.range(51).select(
        when(col("id") === 50, lit("hot")).otherwise(concat(lit("k"), col("id"))).as("k"),
        col("id").as("v"))
      val j = fact.join(dimS, Seq("k"))
        .agg(count(lit(1)).as("n"), max(length(col("pay"))).as("w"))
      assert(j.collect()(0).getLong(0) == 60000L)
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("skew=true"),
        s"default thresholds unexpectedly split the hot partition:\n$p")
    } finally saved.foreach { case (k, ov) =>
      ov.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("bucketed tables: co-located equi-join plans with zero shuffle exchanges") {
    val a = (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
    val b = (1 to 1000).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
    // the in-memory catalog is per-session but the warehouse dir persists:
    // drop both layers so reruns don't hit LOCATION_ALREADY_EXISTS
    Seq("bkt_a", "bkt_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (java.nio.file.Files.exists(loc))
        org.apache.commons.io.FileUtils.deleteDirectory(loc.toFile)
    }
    graft.sinks.ParquetSink.writeBucketed(a, "bkt_a", 8, "k")
    graft.sinks.ParquetSink.writeBucketed(b, "bkt_b", 8, "k")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
      assert(j.count() == 1000)
      val plan = j.queryExecution.executedPlan.toString
      // both sides were hash-bucketed on k at write time → the join reuses
      // the on-disk layout: no ShuffleExchange anywhere in the plan
      assert(!plan.contains("Exchange hashpartitioning"),
        s"unexpected shuffle in bucketed join plan:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("native approximate aggregates bound their error vs exact (HLL + approx percentile)") {
    // The sketch surface the suite's own KMV/bloom implementations sit
    // beside: Spark's built-in approx_count_distinct (HyperLogLog++) and
    // percentile_approx are the zero-maintenance defaults at 100 TB, so
    // pin their error contracts on real data — rsd=0.05 HLL must land
    // within ±3·rsd of the exact distinct count, and the approx median
    // must fall between the exact p40 and p60 (rank-error bound, the
    // guarantee percentile_approx actually makes).
    val d = "/root/testdata/sf0.01"
    val e = graft.sources.Tables.events(spark, d)
    val row = e.agg(
      approx_count_distinct(col("user_id"), 0.05).as("approx_u"),
      countDistinct(col("user_id")).as("exact_u"),
      percentile_approx(col("value"), lit(0.5), lit(1000)).as("approx_med"),
      expr("percentile(value, 0.4)").as("p40"),
      expr("percentile(value, 0.6)").as("p60")).collect().head
    val (au, eu) = (row.getLong(0), row.getLong(1))
    assert(math.abs(au - eu) <= math.max(1L, (eu * 0.15).toLong),
      s"HLL distinct $au vs exact $eu outside 3*rsd")
    val (am, p40, p60) = (row.getDouble(2), row.getDouble(3), row.getDouble(4))
    assert(am >= p40 && am <= p60,
      s"approx median $am outside exact [p40=$p40, p60=$p60]")
  }
}
