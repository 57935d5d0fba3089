package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Accumulated per-user funnel evidence for the streaming twin of
  * events_funnel_windowed: ALL event timestamps per type (epoch micros),
  * so late/out-of-order arrivals can re-derive the exact funnel — an
  * earlier view arriving late changes which click qualifies. Production
  * bounds this state with a watermark TTL; the spec keeps it whole to
  * assert exact batch parity. */
case class FunnelAcc(views: Seq[Long], clicks: Seq[Long], purchases: Seq[Long])

/** Streaming window semantics (SURVEY.md §2.9 extensions): tumbling window
  * aggregation and session windows with watermarks over a memory stream —
  * the streaming twins of the batch `events_tumbling` / `events_sessionize`
  * oracle queries.
  */
class StreamingWindowsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

  test("tumbling 10-minute windows with watermark over a stream") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    mem.addData((ts(1), "click", 1.0), (ts(4), "click", 2.0),
      (ts(11), "click", 5.0), (ts(12), "buy", 7.0))
    val agg = mem.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
    val q = agg.writeStream.format("memory").queryName("tumbling_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("tumbling_out")
      .select(col("window.start").cast("string"), col("event_type"), col("n"), col("v"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows == Set(
      ("2024-01-01 10:00:00", "click", 2L, 3.0),
      ("2024-01-01 10:10:00", "click", 1L, 5.0),
      ("2024-01-01 10:10:00", "buy", 1L, 7.0)))
  }

  test("sliding 10/5-minute windows assign each event to two windows") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Double)]
    mem.addData((ts(7), 2.0), (ts(12), 3.0))
    val agg = mem.toDF().toDF("ts", "value")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(sum(col("value")).as("v"))
    val q = agg.writeStream.format("memory").queryName("sliding_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("sliding_out")
      .select(col("window.start").cast("string"), col("v"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toSet
    // 10:07 → windows starting 10:00 and 10:05; 10:12 → 10:05 and 10:10
    assert(rows == Set(
      ("2024-01-01 10:00:00", 2.0),
      ("2024-01-01 10:05:00", 5.0),
      ("2024-01-01 10:10:00", 3.0)))
  }

  test("sliding windows, append mode: watermark finalizes windows and drops late data") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Double)]
    val agg = mem.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(sum(col("value")).as("v"), count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("sliding_late_out")
      .outputMode("append").start()

    // batch 1: on-time events at 10:07 and 10:12
    mem.addData((ts(7), 2.0), (ts(12), 3.0)); q.processAllAvailable()
    // batch 2: 10:40 advances the watermark to 10:30 — every window ending
    // at or before 10:30 is finalized and emitted (append semantics)
    mem.addData((ts(40), 1.0)); q.processAllAvailable()
    // batch 3: 10:02 is 28 minutes behind the watermark — its windows
    // ([09:55,10:05) and [10:00,10:10)) are already final; it must be
    // DROPPED, not re-opened and not re-emitted
    mem.addData((ts(2), 100.0)); q.processAllAvailable()
    q.stop()

    val rows = spark.table("sliding_late_out")
      .select(col("window.start").cast("string"), col("v"), col("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    // finalized windows only, with NO contribution from the late 100.0:
    // 10:07 → [10:00,10:10) and [10:05,10:15); 10:12 → [10:05,10:15) and
    // [10:10,10:20). The 10:40 windows are still open → not emitted.
    assert(rows == Set(
      ("2024-01-01 10:00:00", 2.0, 1L),
      ("2024-01-01 10:05:00", 5.0, 2L),
      ("2024-01-01 10:10:00", 3.0, 1L)))
    // the late row was dropped by the watermark, not merely unfinalized
    val dropped = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum
    assert(dropped >= 1)
  }

  test("stream-stream interval join: watermarked, time-bounded, state-bounded") {
    implicit val sq = spark.sqlContext
    val views = MemoryStream[(Timestamp, Long)]
    val clicks = MemoryStream[(Timestamp, Long)]
    val v = views.toDF().toDF("view_ts", "ad")
      .withWatermark("view_ts", "10 minutes")
    val c = clicks.toDF().toDF("click_ts", "click_ad")
      .withWatermark("click_ts", "10 minutes")
    // attribution join: a click matches a view of the same ad within the
    // following 5 minutes — the time bound is what lets Spark EVICT state
    // once the watermark passes, so state never grows unboundedly
    val joined = v.join(c, expr(
      "ad = click_ad AND click_ts >= view_ts AND click_ts <= view_ts + INTERVAL 5 MINUTES"))
    val q = joined.writeStream.format("memory").queryName("ssjoin_out")
      .outputMode("append").start()
    views.addData((ts(0), 1L), (ts(10), 2L))
    clicks.addData((ts(3), 1L), (ts(20), 2L)) // ad 2's click is 10 min late → no match
    q.processAllAvailable(); q.stop()
    val rows = spark.table("ssjoin_out")
      .select(col("ad"), col("view_ts").cast("string"), col("click_ts").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set((1L, "2024-01-01 10:00:00", "2024-01-01 10:03:00")))
  }

  test("windowed funnel: mapGroupsWithState streaming twin ≡ batch query") {
    // stream≡batch parity for events_funnel_windowed: the REAL sf0.001
    // events table is replayed through a MemoryStream in several batches
    // (so state genuinely folds across triggers, with cross-batch
    // ordering preserved only per arrival), a per-user
    // mapGroupsWithState accumulates evidence, and the derived
    // (t_view, t_click, t_purchase, stage) rows must equal the batch
    // query's — same 7-day window rule, same strict inequalities.
    import org.apache.spark.sql.streaming.GroupStateTimeout
    implicit val sq = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val week = 7L * 86400L * 1000000L // micros
    val events = graft.sources.Tables.events(spark, d)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tsu"))
      .as[(Long, String, Long)].collect()

    val mem = MemoryStream[(Long, String, Long)]
    def funnel(acc: FunnelAcc): (Option[Long], Option[Long], Option[Long]) = {
      val tv = acc.views.minOption
      val tc = tv.flatMap(v =>
        acc.clicks.filter(c => c > v && c <= v + week).minOption)
      val tp = tc.flatMap(c =>
        acc.purchases.filter(p => p > c && p <= c + week).minOption)
      (tv, tc, tp)
    }
    val updates = mem.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState[FunnelAcc, (Long, Option[Long], Option[Long], Option[Long], Long)](
        GroupStateTimeout.NoTimeout) { case (uid, it, state) =>
        val prev = state.getOption.getOrElse(FunnelAcc(Nil, Nil, Nil))
        val acc = it.foldLeft(prev) { case (a, (_, typ, t)) => typ match {
          case "view" => a.copy(views = a.views :+ t)
          case "click" => a.copy(clicks = a.clicks :+ t)
          case "purchase" => a.copy(purchases = a.purchases :+ t)
          case _ => a
        }}
        state.update(acc)
        val (tv, tc, tp) = funnel(acc)
        (uid, tv, tc, tp,
          1L + tc.map(_ => 1L).getOrElse(0L) + tp.map(_ => 1L).getOrElse(0L))
      }
    // update-mode memory sink keeps EVERY intermediate row; capture the
    // last write per user via foreachBatch instead (batches are ordered)
    val last = scala.collection.mutable.Map
      .empty[Long, (Option[Long], Option[Long], Option[Long], Long)]
    val q = updates.writeStream.outputMode("update")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[(Long, Option[Long], Option[Long], Option[Long], Long)], _: Long) =>
        ds.collect().foreach(r => last.synchronized { last(r._1) = (r._2, r._3, r._4, r._5) })
      }.start()
    events.grouped(math.max(1, events.length / 5)).foreach { chunk =>
      mem.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()

    val streamed = last.toMap.collect {
      case (uid, (Some(tv), tc, tp, stage)) => (uid, tv, tc, tp, stage)
    }.toSet // users with no view never enter the batch funnel
    val batch = SparkEntry.queries("events_funnel_windowed")(spark, d)
      .select(col("user_id"), unix_micros(col("t_view")),
        unix_micros(col("t_click")), unix_micros(col("t_purchase")), col("stage"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getLong(4))).toSet
    assert(streamed == batch,
      s"stream/batch funnel divergence: stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
  }

  test("rolling WAU: flatMapGroupsWithState streaming twin ≡ batch query") {
    // stream≡batch parity for events_wau, same discipline as the funnel
    // twin above: the REAL sf0.001 events replay through a MemoryStream
    // in several batches; per-user state holds the distinct active-day
    // set (exactly the state a production dedup-first WAU keeps — the
    // watermark would bound it to the trailing window); each trigger
    // re-emits the user's full day set, foreachBatch keeps the LAST
    // emission per user, and the test derives (wday, dau, wau) from the
    // final sets with the same explode-to-window-days rule the batch
    // query plans. Divergence here means the streaming state fold and
    // the batch distinct disagree on what "active" means.
    implicit val sq = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val events = graft.sources.Tables.events(spark, d)
      .select(col("user_id"), to_date(col("ts")).cast("string"))
      .as[(Long, String)].collect()

    val mem = MemoryStream[(Long, String)]
    val updates = mem.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState[Set[String], (Long, Seq[String])](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        case (uid, it, state) =>
          val acc = state.getOption.getOrElse(Set.empty) ++ it.map(_._2)
          state.update(acc)
          (uid, acc.toSeq.sorted)
      }
    val last = scala.collection.mutable.Map.empty[Long, Seq[String]]
    val q = updates.writeStream.outputMode("update")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[(Long, Seq[String])], _: Long) =>
        ds.collect().foreach(r => last.synchronized { last(r._1) = r._2 })
      }.start()
    events.grouped(math.max(1, events.length / 5)).foreach { chunk =>
      mem.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()

    val day = java.time.LocalDate.parse(_: String)
    val streamed = last.toMap.toSeq
      .flatMap { case (uid, days) =>
        days.flatMap(ds => (0 to 6).map(off =>
          (day(ds).plusDays(off.toLong).toString, uid, ds)))
      }
      .groupBy(_._1)
      .map { case (wday, rows) =>
        (wday,
          rows.collect { case (w, uid, ds) if w == ds => uid }.toSet.size.toLong,
          rows.map(_._2).toSet.size.toLong)
      }.toSet
    val batch = SparkEntry.queries("events_wau")(spark, d)
      .select(col("wday").cast("string"), col("dau"), col("wau"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch,
      s"stream/batch WAU divergence: stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
  }

  test("stream-stream interval join ≡ batch join (views ⋈ clicks, 7-day bound)") {
    // The remaining §2.9 surface: a watermarked stream-stream INNER join
    // with an event-time range condition — the shape behind streaming
    // attribution/funnel joins. Both sides replay the REAL sf0.001
    // events in batches (views and clicks as independent streams, so
    // one side's match routinely arrives triggers later and must come
    // from join state); the emitted pairs must equal the batch join
    // exactly. Watermark delay exceeds the data span so no state is
    // evicted mid-test — eviction policy is the interval-bound rule
    // itself, asserted by the append-mode tumbling test above.
    implicit val sq = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val ev = graft.sources.Tables.events(spark, d)
      .select(col("user_id"), col("event_type"), col("ts"))
      .as[(Long, String, java.sql.Timestamp)].collect()
    val vmem = MemoryStream[(Long, java.sql.Timestamp)]
    val cmem = MemoryStream[(Long, java.sql.Timestamp)]
    val views = vmem.toDF().toDF("user_id", "vts").withWatermark("vts", "60 days")
    val clicks = cmem.toDF().toDF("c_user", "cts").withWatermark("cts", "60 days")
    val joined = views.join(clicks,
      col("user_id") === col("c_user") && col("cts") > col("vts") &&
        col("cts") <= col("vts") + expr("INTERVAL 7 DAYS"))
      .select(col("user_id"), col("vts"), col("cts"))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    val vs = ev.toSeq.collect { case (u, "view", t) => (u, t) }
    val cs = ev.toSeq.collect { case (u, "click", t) => (u, t) }
    val empty = Seq.empty[(Long, java.sql.Timestamp)]
    vs.grouped(math.max(1, vs.length / 4)).toSeq
      .zipAll(cs.grouped(math.max(1, cs.length / 4)).toSeq, empty, empty)
      .foreach { case (vc, cc) =>
        if (vc.nonEmpty) vmem.addData(vc: _*)
        if (cc.nonEmpty) cmem.addData(cc: _*)
        q.processAllAvailable()
      }
    q.stop()
    val streamed = spark.table("ssj_out")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    val vb = vs.toSeq.toDF("user_id", "vts")
    val cb = cs.toSeq.toDF("c_user", "cts")
    val batch = vb.join(cb,
        col("user_id") === col("c_user") && col("cts") > col("vts") &&
          col("cts") <= col("vts") + expr("INTERVAL 7 DAYS"))
      .select(col("user_id"), col("vts"), col("cts"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"stream/batch join divergence: stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
  }

  test("native session_window streaming twin ≡ batch events_session_window query") {
    // The batch inventory's events_session_window uses Spark's NATIVE
    // session_window operator; this asserts the SAME operator in a
    // watermarked stream over the REAL sf0.001 events replayed in four
    // batches produces the identical session table — sessions that span
    // a batch boundary must merge from state, not restart. Watermark
    // delay exceeds the data span so no session is finalized early; the
    // split/finalize behavior is pinned by the 5-minute-gap test below.
    implicit val sq = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val ev = graft.sources.Tables.events(spark, d)
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)].collect()
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val agg = mem.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "60 days")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))
    val q = agg.writeStream.format("memory").queryName("session_parity_out")
      .outputMode("complete").start()
    ev.toSeq.grouped(math.max(1, ev.length / 4)).foreach { b =>
      mem.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("session_parity_out").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    val batch = SparkEntry.queries("events_session_window")(spark, d).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"stream/batch session divergence: stream-only=${(streamed -- batch).take(3)} " +
        s"batch-only=${(batch -- streamed).take(3)}")
  }

  test("LSH vector admission: stream verdicts equal the batch sim_incremental gate") {
    // the vector-store twin of the MinHash parity below: arriving
    // vectors stream against the static capped LSH index and must get
    // EXACTLY the batch sim_incremental verdicts, wherever the
    // micro-batch boundaries fall
    implicit val sq = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val oldIdx = graft.operators.Similarity.lshOldIndex(spark, d)
    val newVecs = graft.sources.Tables.embeddings(spark, d)
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val mem = MemoryStream[(Long, Seq[Float])]
    val res = graft.operators.Similarity.lshAdmitted(
      mem.toDF().toDF("vec_id", "embedding"), oldIdx)
    val q = res.writeStream.format("memory").queryName("lsh_admit_out")
      .outputMode("complete").start()
    newVecs.grouped(math.max(1, newVecs.length / 2)).foreach { b =>
      mem.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1), r.getBoolean(2))
    val streamed = spark.table("lsh_admit_out").collect().map(key).toSet
    val batch = SparkEntry.queries("sim_incremental")(spark, d).collect().map(key).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"stream/batch LSH vector admission divergence: " +
        s"stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
  }

  test("session windows (5-minute gap) split on inactivity") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    // user 1: events at 10:01,10:03 (one session) then 10:20 (new session)
    mem.addData((ts(1), 1L), (ts(3), 1L), (ts(20), 1L))
    val agg = mem.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("session_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val ns = spark.table("session_out").select("n")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ns == Seq(1L, 2L))
  }
}
