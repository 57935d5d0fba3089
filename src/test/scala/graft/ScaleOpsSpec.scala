package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Salting
import graft.streaming.{StatefulCounters, TweetStream}

/** Scale-technique specs: salted joins/aggs equal their unsalted twins on
  * skewed data; flatMapGroupsWithState running totals accumulate across
  * micro-batches.
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

  test("flatMapGroupsWithState running totals accumulate across micro-batches") {
    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    def tw(id: Long, ip: String) =
      s"""{"created_at":"2024-02-02","id":$id,"text":"c2 $ip","retweeted":false,"user":{"screen_name":"acct"},"entities":{"hashtags":[],"urls":[]}}"""
    val totals = StatefulCounters.runningTotals(spark, TweetStream.iocStream(mem.toDF()))
    val q = totals.writeStream.format("memory").queryName("totals_out")
      .outputMode("append").start()
    mem.addData(tw(1, "1.1.1.1"), tw(2, "2.2.2.2")) // batch 1: 2 ips
    q.processAllAvailable()
    mem.addData(tw(3, "3.3.3.3"))                   // batch 2: 1 more
    q.processAllAvailable()
    q.stop()
    val perBatch = spark.table("totals_out")
      .filter(col("iocType") === "ip" && col("source") === "acct")
      .select("total").collect().map(_.getLong(0)).sorted.toSeq
    assert(perBatch == Seq(2L, 3L)) // state carried 2 → 3 across batches
  }

  test("transformWithState (Spark 4 arbitrary-state API) accumulates per-key stats") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // transformWithState's typed state handles are column families — only
    // the RocksDB provider supports them (HDFSBacked throws). This IS the
    // production provider for large state anyway.
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // try/finally: a mid-test failure must not leak the provider override
    // (or a running query) into the shared session for later suites
    try {
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
      val out = mem.toDS()
        .groupByKey(_._1)
        .transformWithState(new graft.streaming.RunningStatsProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF("key", "n", "max_value")
      val q = out.writeStream.format("memory").queryName("tws_out")
        .outputMode("update").start()
      try {
        mem.addData((1L, 5.0), (1L, 3.0), (2L, 7.0))
        q.processAllAvailable()
        mem.addData((1L, 9.0)) // key 1 state must carry n=2 → 3, max 5 → 9
        q.processAllAvailable()
        // state-bound audit: the store holds one row per (key, state
        // variable) — 2 distinct keys × 2 ValueStates (count, maxV) = 4;
        // per-ROW state (a leak) would keep growing with input (6+ here)
        val stateRows = q.recentProgress.flatMap(_.stateOperators)
          .map(_.numRowsTotal).lastOption
        assert(stateRows.contains(4L),
          s"state rows must be keys × state vars (2×2), got $stateRows")
      } finally q.stop()
    } finally prevProv match {
      case Some(v) => spark.conf.set(provKey, v)
      case None    => spark.conf.unset(provKey)
    }
    val rows = spark.table("tws_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows((1L, 2L, 5.0)) && rows((2L, 1L, 7.0)), s"batch-1 state wrong: $rows")
    assert(rows((1L, 3L, 9.0)), s"batch-2 did not accumulate: $rows")
  }

  test("streaming funnel (transformWithState) ends batch-identical to events_funnel") {
    implicit val sq = spark.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val d = "/root/testdata/sf0.001"
    val ev = graft.sources.Tables.events(spark, d)
      .filter(col("event_type").isin("view", "click", "purchase"))
    // the ordered log: globally ts-ordered, (ts, et) tie-break matching
    // the batch fold's sort_array key, cut at an arbitrary point so the
    // batch boundary falls mid-funnel for most users
    val log = ev.select(col("user_id"), expr("unix_micros(ts)"), col("event_type"))
      .as[(Long, Long, String)].collect().sortBy(r => (r._2, r._3, r._1))
    val (b1, b2) = log.splitAt(log.length * 2 / 5)
    // try/finally: a mid-test failure must not leak the provider override
    // (or a running query) into the shared session for later suites
    try {
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, String)]
      val out = mem.toDS()
        .groupByKey(_._1)
        .transformWithState(new graft.streaming.FunnelProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF("user_id", "tv", "tc", "tp", "stage")
      val q = out.writeStream.format("memory").queryName("funnel_out")
        .outputMode("update").start()
      try {
        mem.addData(b1.toIndexedSeq)
        q.processAllAvailable()
        mem.addData(b2.toIndexedSeq)
        q.processAllAvailable()
        // state-bound audit: the funnel keeps ONE (tv, tc, tp) ValueState
        // row per user ever seen — never per event. 100 TB story: state
        // is |users|, not |events|
        val users = log.map(_._1).distinct.length.toLong
        val stateRows = q.recentProgress.flatMap(_.stateOperators)
          .map(_.numRowsTotal).lastOption
        assert(stateRows.contains(users),
          s"funnel state must be one row per user ($users), got $stateRows")
      } finally q.stop()
    } finally prevProv match {
      case Some(v) => spark.conf.set(provKey, v)
      case None    => spark.conf.unset(provKey)
    }
    // the automaton only advances, so a user's FINAL state is their
    // max-stage emission (same-stage emissions are identical rows)
    val streamed = spark.table("funnel_out")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Long]),
         Option(r.get(2)).map(_.asInstanceOf[Long]),
         Option(r.get(3)).map(_.asInstanceOf[Long]),
         r.getLong(4)))
      .groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).maxBy(_._4) }
    val batch = graft.operators.Events.funnelFoldForTest(ev)
      .select(col("user_id"), expr("unix_micros(t_view)"),
        expr("unix_micros(t_click)"), expr("unix_micros(t_purchase)"), col("stage"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Long]),
         Option(r.get(2)).map(_.asInstanceOf[Long]),
         Option(r.get(3)).map(_.asInstanceOf[Long]),
         r.getLong(4))).toMap
    assert(streamed == batch,
      s"stream/batch funnel divergence:\n stream=$streamed\n batch=$batch")
  }

  test("streaming funnel is order-independent: 150k-row shuffled single key == batch fold") {
    // Pins the soundness fix for the old chunk-local sort: the per-key
    // iterator after the groupByKey shuffle has ARBITRARY within-key
    // order, so the processor must reach the batch end state with no
    // ordering premise at all. One hot key, well past the old 65536
    // FoldChunk, fully shuffled, with the minimal view placed LATE in
    // iterator order and clicks/purchases straddling every threshold.
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(42)
    val n = 150000
    val events = scala.collection.mutable.ArrayBuffer[(Long, Long, String)]()
    // bulk noise: views well above the true min, clicks/purchases on both
    // sides of the eventual tv/tc
    (1 to n).foreach { i =>
      val et = rnd.nextInt(3) match {
        case 0 => "view"; case 1 => "click"; case 2 => "purchase"
      }
      // views never below 5000 here; the true min view (1000) is injected below
      val ts = if (et == "view") 5000L + rnd.nextInt(1000000) else rnd.nextInt(1100000).toLong
      events += ((7L, ts, et))
    }
    events += ((7L, 1000L, "view"))  // the true tv — a late, out-of-order arrival
    events += ((7L, 900L, "click"))  // below tv: must NOT be taken
    events += ((7L, 1000L, "click")) // tie with tv: strict > must exclude
    val shuffled = rnd.shuffle(events.toIndexedSeq)

    val batch = graft.operators.Events.funnelFoldForTest(
      shuffled.toDF("user_id", "tsm", "event_type")
        .select(col("user_id"), expr("timestamp_micros(tsm)").as("ts"), col("event_type")))
      .select(col("user_id"), expr("unix_micros(t_view)"),
        expr("unix_micros(t_click)"), expr("unix_micros(t_purchase)"), col("stage"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4))).head

    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, String)]
    val out = mem.toDS()
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.FunnelProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("user_id", "tv", "tc", "tp", "stage")
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = out.writeStream.format("memory").queryName("funnel_big")
        .outputMode("update").start()
      try {
        mem.addData(shuffled)
        q.processAllAvailable()
      } finally q.stop()
    } finally prevProv match {
      case Some(v) => spark.conf.set(provKey, v)
      case None    => spark.conf.unset(provKey)
    }
    val streamed = spark.table("funnel_big")
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4))).head
    assert(streamed == batch,
      s"order-independence broken:\n stream=$streamed\n batch=$batch")
    assert(streamed._2.contains(1000L), s"tv must be the late-arriving min view: $streamed")
  }

  test("funnel buffer compaction: 145k buffered rows for one key, stale entries dropped, end state exact") {
    // Drives the r11 buffer bound (FunnelProcessor CompactAt = 2^16): the
    // adversarial iterator order buffers 70k clicks + 70k purchases while
    // cCand is still unknown, THEN resolves cCand low (10001) so every
    // buffered entry is stale — the next append must compact both buffers
    // in place (clicks: filter < cCand drops all 70k; purchases: fold
    // > cCand into the running min pHigh, which must surface 40000 as tp).
    // The sibling 150k shuffled test can never reach the cap (its ~50k
    // clicks split across thresholds); this one exercises the compaction
    // lines deterministically via MemoryStream's per-key iterator order.
    implicit val sq = spark.sqlContext
    val events = scala.collection.mutable.ArrayBuffer[(Long, Long, String)]()
    events += ((1L, 100000L, "view"))                                  // minView = 100000
    (30000L until 100000L).foreach(ts => events += ((1L, ts, "click"))) // 70k buffered (<= minView, cCand unset)
    (40000L until 110000L).foreach(ts => events += ((1L, ts, "purchase"))) // 70k buffered (tc unknown)
    events += ((1L, 10000L, "view"))                                   // true tv
    events += ((1L, 10001L, "click"))                                  // cCand = 10001 (> new minView)
    events += ((1L, 200000L, "purchase"))                              // > cCand -> pHigh candidate
    (1L to 5537L).foreach(ts => events += ((1L, ts, "click")))         // < cCand -> append => compaction fires
    (1L to 3L).foreach(ts => events += ((1L, ts, "purchase")))         // <= cCand -> append => compaction fires
    events += ((2L, 5L, "view")); events += ((2L, 10L, "click")); events += ((2L, 15L, "purchase"))

    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, String)]
    val out = mem.toDS()
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.FunnelProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("user_id", "tv", "tc", "tp", "stage")
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = out.writeStream.format("memory").queryName("funnel_compact")
        .outputMode("update").start()
      try { mem.addData(events.toIndexedSeq); q.processAllAvailable() } finally q.stop()
    } finally prevProv match {
      case Some(v) => spark.conf.set(provKey, v)
      case None    => spark.conf.unset(provKey)
    }
    val got = spark.table("funnel_compact")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Long]),
         Option(r.get(2)).map(_.asInstanceOf[Long]),
         Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4))).toMap
    // hand-derived batch semantics: tv = min view = 10000; tc = min click
    // > tv = 10001 (every dropped click 30000..99999 exceeds cCand and can
    // never win); tp = min purchase > tc = 40000 — which only pHigh holds
    // after the purchase fold (the buffer retains just {1,2,3})
    assert(got(1L) == (Some(10000L), Some(10001L), Some(40000L), 3L),
      s"compacted funnel end state wrong: ${got(1L)}")
    assert(got(2L) == (Some(5L), Some(10L), Some(15L), 3L),
      s"control user corrupted: ${got(2L)}")
  }

  test("streaming state stays keys-bounded (not events-bounded) at 1M-event volume") {
    // The fixture-sized bound specs prove the SHAPE (rows = keys × state
    // vars); this replays the synthesized 10× corpus' ~1M events so the
    // bound is demonstrated at volume: funnel state must be ONE row per
    // user and running-stats TWO (2 ValueStates), however many events
    // stream through — plus full stream/batch funnel parity at volume.
    // Opt-in with the scale stress (needs target/sf1, costs minutes):
    //   SPARK_GRAFT_SCALE_SPEC=1 sbt "testOnly graft.ScaleOpsSpec"
    assume(sys.env.contains("SPARK_GRAFT_SCALE_SPEC"),
      "volume leg opt-in via SPARK_GRAFT_SCALE_SPEC")
    val sf1 = "target/sf1"
    assume(new java.io.File(s"$sf1/events.parquet").exists,
      "target/sf1 not built (run graft.Synth first)")
    implicit val sq = spark.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the ordered log ACROSS batches (the premise: a stream cannot
      // rewind history it already consumed) — WITHIN each batch the
      // shuffle delivers arbitrary per-key order, which the processor's
      // order-independent fold must absorb
      val ev = graft.sources.Tables.events(spark, sf1)
        .filter(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"), expr("unix_micros(ts)"), col("event_type"))
        .as[(Long, Long, String)].collect().sortBy(r => (r._2, r._3))
      val users = ev.map(_._1).distinct.length.toLong
      assert(ev.length > 500000, s"expected ~1M-scale replay, got ${ev.length}")

      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, String)]
      val out = mem.toDS()
        .groupByKey(_._1)
        .transformWithState(new graft.streaming.FunnelProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF("user_id", "tv", "tc", "tp", "stage")
      val q = out.writeStream.format("memory").queryName("funnel_1m")
        .outputMode("update").start()
      try {
        ev.grouped(ev.length / 4 + 1).foreach { chunk =>
          mem.addData(chunk.toIndexedSeq); q.processAllAvailable()
        }
        val stateRows = q.recentProgress.flatMap(_.stateOperators)
          .map(_.numRowsTotal).lastOption
        assert(stateRows.contains(users),
          s"funnel state must stay one row per user ($users) at 1M events, got $stateRows")
      } finally q.stop()
      // stream/batch parity at volume: per-user final state (max stage;
      // same-stage emissions are identical rows) == the batch fold
      val streamedFinal = spark.table("funnel_1m")
        .groupBy(col("user_id"))
        .agg(max(struct(col("stage"), col("tv"), col("tc"), col("tp"))).as("f"))
        .select(col("user_id"), col("f.tv").as("tv"), col("f.tc").as("tc"),
          col("f.tp").as("tp"), col("f.stage").as("stage"))
      val batch = graft.operators.Events.funnelFoldForTest(
          graft.sources.Tables.events(spark, sf1))
        .select(col("user_id"), expr("unix_micros(t_view)").as("tv"),
          expr("unix_micros(t_click)").as("tc"),
          expr("unix_micros(t_purchase)").as("tp"), col("stage"))
      assert(streamedFinal.except(batch).count() == 0 &&
        batch.except(streamedFinal).count() == 0,
        "stream/batch funnel divergence at 1M-event volume")

      // running stats: 2 ValueStates per key → exactly 2 rows per user
      val evAll = graft.sources.Tables.events(spark, sf1)
        .select(col("user_id"), col("value")).as[(Long, Double)].collect()
      val usersAll = evAll.map(_._1).distinct.length.toLong
      val mem2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
      val out2 = mem2.toDS()
        .groupByKey(_._1)
        .transformWithState(new graft.streaming.RunningStatsProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF("user_id", "total", "max_value")
      val q2 = out2.writeStream.format("memory").queryName("rstats_1m")
        .outputMode("update").start()
      try {
        evAll.grouped(evAll.length / 2 + 1).foreach { chunk =>
          mem2.addData(chunk.toIndexedSeq); q2.processAllAvailable()
        }
        val stateRows2 = q2.recentProgress.flatMap(_.stateOperators)
          .map(_.numRowsTotal).lastOption
        assert(stateRows2.contains(2 * usersAll),
          s"running-stats state must be 2 rows per user (${2 * usersAll}), got $stateRows2")
      } finally q2.stop()
    } finally prevProv match {
      case Some(v) => spark.conf.set(provKey, v)
      case None    => spark.conf.unset(provKey)
    }
  }

  test("near-dedup stream state is bounded by the watermark horizon, not stream length") {
    implicit val sq = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, java.sql.Timestamp)]
    val dd = TweetStream.nearDedupedStream(
      mem.toDF().toDF("text", "created_at"), "10 minutes")
    val q = dd.writeStream.format("memory").queryName("neardup_bound")
      .outputMode("append").start()
    def stateRows: Option[Long] = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsTotal).lastOption
    try {
      // batch 1: three texts, TWO distinct SimHash keys, all at 10:00
      mem.addData(
        ("alpha beta gamma delta", ts("2024-01-01 10:00:00")),
        ("alpha beta gamma delta", ts("2024-01-01 10:00:00")),
        ("totally different words entirely", ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      assert(stateRows.contains(2L),
        s"dedup state must be one row per distinct key (2), got $stateRows")
      // advance event time far past the horizon; the 10:00 keys expire at
      // 10:10 and must be EVICTED once the watermark passes them — state
      // tracks the horizon, not everything ever seen
      mem.addData(("new topic entirely", ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      mem.addData(("yet another thing", ts("2024-01-01 13:00:00")))
      q.processAllAvailable()
      // 4 distinct keys ever ingested; only in-horizon keys may remain
      assert(stateRows.exists(_ <= 2L),
        s"expired keys were not evicted: state $stateRows after 4 distinct keys")
    } finally q.stop()
  }
}
