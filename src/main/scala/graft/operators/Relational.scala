package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Relational core over the star schema (SURVEY.md §2.5-§2.7 extensions):
  * join strategies, windows, rollup, set ops, unpivot. The reference has no
  * relational layer (SURVEY.md §2.6) — these are the Catalyst built-ins the
  * engine exposes once the data is tabular, shaped TPC-H-style.
  *
  * Scale notes (100 TB): dimension joins broadcast explicitly
  * (region/nation/customer/supplier are tiny vs lineitem/orders, which at
  * scale are fact tables — broadcasting keeps the plan shuffle-free up to
  * the final aggregation); AQE re-plans the rest at runtime. Window queries
  * shuffle once on the partition key — the partition key is always the
  * high-cardinality entity key (suppkey/userkey), never a low-cardinality
  * column, so 1000 executors stay busy.
  */
object Relational {

  /** Exact decimal accumulation → DOUBLE: bit-stable under any row order. */
  def dsum(c: Column): Column = sum(c.cast("decimal(12,2)")).cast("double")

  /** Total-order a result whose expensive work would otherwise run twice:
    * a bare global sort range-samples its child to pick partition bounds,
    * and everything between the last MATERIALIZED exchange and the sort is
    * re-executed by the sample job. That is the whole pipeline for narrow
    * lineage (measured ~2× on the regex ETLs), and the window-function
    * evaluation for window queries (a Window's output is never
    * materialized — measured ~2× on window_nav/window_running too). A
    * round-robin exchange first writes the finished output to shuffle
    * files ONCE; the range sampler and the sort both re-read those files.
    * Queries whose plan ends in an AGGREGATION don't need this — the agg
    * result is small and its exchange sits directly under the sort.
    *
    * The exchange is a REBALANCE hint, not repartition(shuffle.partitions):
    * an explicit count is exempt from AQE and pins the materialization to
    * the core count at every data size (a 4-way bottleneck under the 100×
    * stress corpus), while rebalance lets AQE size the round-robin by
    * bytes — few partitions at bench SF, enough to stay in memory at 100×. */
  def sortedOnce(df: DataFrame, keys: Column*): DataFrame =
    df.hint("rebalance").orderBy(keys: _*)

  /** Equi-width histogram bucket count (`agg_histogram`) — resolution
    * knob; the output stays (groups × buckets) rows at any corpus size. */
  val HistogramBuckets = 16L

  /** Discounted price l_extendedprice * (1 - l_discount), exact decimal. */
  private def discPrice: Column =
    col("l_extendedprice").cast("decimal(12,2)") *
      (lit(new java.math.BigDecimal("1.00")) - col("l_discount").cast("decimal(12,2)"))

  /** revenue term: the summed [[discPrice]] → DOUBLE. */
  private def revenue: Column = sum(discPrice).cast("double")

  /** KMV sketch size k: a group's signature is its k smallest distinct
    * 48-bit hashes. */
  private val SketchK = 256

  /** (k − 1)·2^48, the numerator of the KMV estimate (k − 1)·2^48 div h_k. */
  private val SketchNum = (SketchK - 1).toLong << 48

  /** The 48-bit md5 hash of `c` the KMV sketches rank: integer-only, so
    * DuckDB reproduces it bit for bit ([[kmvHashSql]]). */
  private[graft] def kmvHash(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 12), 16, 10).cast("long")

  /** The KMV signature of a group's `h` column: its bottom-k distinct
    * hashes, sorted. */
  private[graft] def bottomK: Column = slice(array_sort(collect_set(col("h"))), 1, SketchK)

  /** Merge the (key, hs) partial signatures of `partials` into one
    * (key, est) row per key: explode, re-bottom-k, then the exact count
    * n when fewer than k distinct hashes exist, else (k − 1)·2^48 div h_k.
    * The union of partial bottom-ks contains the global bottom-k, so the
    * merge is lossless. Integer arithmetic only; SQL twin [[kmvSql]]. */
  private[graft] def kmvEstimate(partials: DataFrame, key: String, est: String): DataFrame =
    partials.select(col(key), explode(col("hs")).as("h"))
      .groupBy(col(key)).agg(bottomK.as("hs"))
      .select(col(key), size(col("hs")).cast("long").as("n"),
        element_at(col("hs"), size(col("hs"))).as("hk"))
      .select(col(key),
        when(col("n") < SketchK, col("n")).otherwise(expr(s"$SketchNum div hk")).as(est))

  /** (part_a < part_b, n_orders ≥ 2): the part pairs shipped together in at
    * least two orders — `basket_pairs` and [[Graph.edges]]. Each order
    * folds to its sorted distinct part set, paired by [[Dedup.setPairs]]
    * (no self-join). SQL twin: [[basketPairsCtes]]. */
  private[graft] def basketPairs(s: SparkSession, d: String): DataFrame =
    Dedup.setPairs(Tables.lineitem(s, d), col("l_partkey"), "l_orderkey")
      .groupBy(col("x").as("part_a"), col("y").as("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 2)

  /** One CDC merge pass, the kernel of both `cdc_*` queries: the customer
    * snapshot and the events change feed melted onto one keyed axis with a
    * source priority, and each key's winner picked by one window (change
    * beats snapshot, later version beats earlier, event_id breaks ties).
    * `op` is the winning row's operation: 'D' for an error event (the
    * feed's delete record), 'U' otherwise. SQL twin: [[cdcSql]]. */
  private def cdcWinners(s: SparkSession, d: String): DataFrame = {
    val snap = Tables.customer(s, d).select(
      col("c_custkey").as("key"), col("c_acctbal").as("bal"),
      lit(0).as("src"), lit(null).cast("timestamp").as("ver"),
      lit(null).cast("long").as("change_id"), lit("U").as("op"))
    val chg = Tables.events(s, d).select(
      col("user_id").as("key"), col("value").as("bal"),
      lit(1).as("src"), col("ts").as("ver"),
      col("event_id").cast("long").as("change_id"),
      when(col("event_type") === "error", "D").otherwise("U").as("op"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key"))
      .orderBy(col("src").desc, col("ver").desc_nulls_last, col("change_id").desc_nulls_last)
    snap.unionByName(chg)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
  }

  /** The merged dimension over (kept) [[cdcWinners]] rows, key-sorted. */
  private def cdcMerged(winners: DataFrame): DataFrame =
    sortedOnce(winners.select(col("key"), col("bal"),
      (col("src") === 1).as("updated"), col("ver").as("last_ver")), col("key"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TPC-H Q1 shape: single scan, partial+final hash agg, no join.
    "q1_agg" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("2000-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          revenue.as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // TPC-H Q3 shape: selective dim filter → broadcast join into facts →
    // hash agg → top-k. Only the customer DIMENSION broadcasts; the
    // orders⋈customer result is fact-derived (unbounded at scale), so
    // lineitem⋈orders is a shuffled equi-join on the orderkey — AQE still
    // upgrades it to broadcast at SFs where the filtered side fits.
    "q3_topk" -> ((s, d) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).filter(col("o_orderdate") < lit("2000-06-01"))
      val l = Tables.lineitem(s, d).filter(col("l_shipdate") > lit("2000-06-01"))
      l.join(o.join(broadcast(c), col("c_custkey") === col("o_custkey")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("o_orderdate"),
          col("o_orderpriority"))
        .agg(revenue.as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5 shape: snowflake join with the local-supplier condition.
    // Dimensions (region, nation, customer-pruned-by-region, supplier)
    // broadcast; the orders slice is fact-derived, so lineitem⋈orders is
    // a shuffled equi-join on the orderkey (AQE upgrades when it fits).
    "q5_join" -> ((s, d) => {
      val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, d).join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      val c = Tables.customer(s, d).join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1998-01-01") && col("o_orderdate") < lit("2000-01-01"))
      val su = Tables.supplier(s, d)
      Tables.lineitem(s, d)
        .join(o.join(broadcast(c), col("o_custkey") === col("c_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(su),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(revenue.as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // left-semi = EXISTS: customers with at least one big order.
    "join_semi" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))),

    // Runtime bloom-filter semi-join reduction — the pattern behind
    // Spark's own runtime row-level filtering, built explicitly so the
    // mechanics are a first-class query: fold the SMALL side's keys into
    // an m-bit bloom bitmap, broadcast it, and probe the BIG side with k
    // integer positions BEFORE any join ([[Corpus.bloomProbe]]) — the exchange then
    // carries rows proportional to MATCHES (+ the FP rate, the m/k
    // sizing knob), not to the fact table. Survivors re-check against
    // the exact key set (semi join), so bloom false positives never
    // reach the result: answer ≡ the plain semi join, which is the
    // oracle. At 100 TB this is what turns a fact-table-sized shuffle
    // into a match-sized one when the dim filter is selective.
    "join_bloom_semi" -> ((s, d) => {
      val keys = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "F")
        .select(col("o_orderkey"))
      // Probe family: 31-bit halves of xxhash64 (one codegen-native integer
      // hash per side; the 2-seed pair spreads h1 + j·h2 like the MinHash
      // family). r14: the previous md5-hex probes (2 digests + hex conv per
      // fact row) were the query's dominant task time — the bitmap is
      // engine-internal and the oracle is the EXACT semi join, so the hash
      // family is free. 31-bit masks keep h1 + j·h2 < 2^33: no overflow
      // under ANSI, and the mod is non-negative by construction.
      val m31 = lit(0x7FFFFFFFL)
      // explicit cast("long") on the probe input (r14 ADVICE): xxhash64 is
      // TYPE-sensitive, so build and probe sides must hash the identical
      // Catalyst type — today both keys are int64 and the cast folds away,
      // but a future int32 regen of one table would otherwise create bloom
      // false negatives the exact semi join can't recover (the bloom
      // predicate is conjoined with it)
      val halves = (c: Column) => Seq(
        xxhash64(c.cast("long")).bitwiseAND(m31).as("h1"),
        xxhash64(c.cast("long"), lit(1)).bitwiseAND(m31).as("h2"))
      Corpus.bloomProbe(keys.select(halves(col("o_orderkey")): _*),
          Tables.lineitem(s, d).select(Seq(col("l_orderkey"), col("l_returnflag"),
            col("l_quantity")) ++ halves(col("l_orderkey")): _*))
        // exact re-check: bloom FPs never reach the result, so the answer
        // ≡ the plain semi join (the oracle). NOTE on evaluation ORDER
        // (r14 plan audit): PushDownLeftSemiAntiJoin hoists this semi join
        // BELOW the bloom filter, so at tested scale the plan is exact-
        // semi-first + bitmap-probe-second — OPTIMAL here, where the key
        // set broadcasts and a codegen BHJ probe beats 3 interpreted
        // bitmap probes per row. Three fence formulations that forced
        // bloom-first were built and measured (+0.6-0.9 s: the probes fold
        // into a BroadcastNestedLoopJoin condition, which is evaluated
        // INTERPRETED over the whole fact side; a constant-key equi
        // variant constant-folds back to the nested loop). At 100 TB,
        // where the key side cannot broadcast and the pushed-down semi
        // would shuffle the fact table before the bloom can cut it, the
        // production posture is to disable the pushdown for this pipeline
        // (spark.sql.optimizer.excludedRules=…PushDownLeftSemiAntiJoin)
        // rather than fence each query — OPTIMIZATION_r14.md.
        .join(keys, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // left-anti = NOT EXISTS: customers with no very large order.
    "join_anti" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))),

    // top-3 line items per supplier — single shuffle on the partition key.
    // DELIBERATE exact baseline: the sort-window formulation is n log n
    // map-side sort (measured 13-15× at 10× data, BENCH_sf1.json); it
    // ships to PRICE the exact alternative. The scale path is
    // `window_topk_heap` (TopKPerKeyExec bounded heap, 4.3× faster at
    // 10×) — the pairing is machine-checked in PlanShapeSpec
    // ("deliberate exact baselines"), so neither side can be silently
    // promoted or dropped.
    "window_topk" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_suppkey"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      Tables.lineitem(s, d)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"))
        .withColumn("rn", row_number().over(w).cast("long")) // BIGINT like DuckDB
        .filter(col("rn") <= 3)
        .orderBy(col("l_suppkey"), col("rn"))
    }),

    // same result as window_topk via the typed bounded-heap Aggregator
    // (§2.10 UDAF surface): O(k) state per group with map-side partials
    // instead of a per-group sort; oracle SQL shared with window_topk.
    "window_topk_agg" -> ((s, d) => {
      import s.implicits._
      val src = Tables.lineitem(s, d)
        .select(col("l_suppkey"), col("l_extendedprice").as("price"),
          col("l_orderkey").as("okey"), col("l_linenumber").as("lnum"))
        .as[(Long, Double, Long, Int)]
      src.groupByKey(_._1)
        .mapValues(r => graft.functions.LineRef(r._2, r._3, r._4))
        .agg(graft.functions.TopKAgg.topKLines(3))
        .toDF("l_suppkey", "top")
        .select(col("l_suppkey"), posexplode(col("top")))
        .select(col("l_suppkey"), col("col.okey").as("l_orderkey"),
          col("col.lnum").as("l_linenumber"), col("col.price").as("l_extendedprice"),
          (col("pos") + 1).cast("long").as("rn"))
        .orderBy(col("l_suppkey"), col("rn"))
    }),

    // Third formulation of the same top-k result, through the custom
    // WHOLE-OPERATOR Catalyst extension (logical TopKPerKey node +
    // SparkStrategy + TopKPerKeyExec physical plan, graft.plans): same
    // single hash exchange as the window, but NO SORT — one streaming
    // bounded-heap pass, O(n log k) and never a spillable sort buffer.
    // The three formulations (window / typed Aggregator / custom exec)
    // share one oracle answer, so the physical-plan escalation ladder is
    // hash-checked end to end.
    "window_topk_heap" -> ((s, d) =>
      graft.plans.TopKPerKey.topK(
        Tables.lineitem(s, d)
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice")),
        keys = Seq("l_suppkey"),
        order = Seq(("l_extendedprice", false), ("l_orderkey", true),
          ("l_linenumber", true)),
        k = 3)
        .orderBy(col("l_suppkey"), col("l_extendedprice").desc,
          col("l_orderkey"), col("l_linenumber"))),

    // running per-user total over events (exact decimal running sum).
    "window_running" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      sortedOnce(Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .withColumn("running_value",
          sum(col("value").cast("decimal(12,2)")).over(w).cast("double"))
        .drop("value"),
        col("user_id"), col("ts"), col("event_id"))
    }),

    // rollup with grand total: customers + balance by region/nation.
    "rollup_agg" -> ((s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_acctbal"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)),

    // cube: all 2^2 grouping combinations in one pass (rollup's superset —
    // Spark expands to a single Expand + hash agg, not 4 scans).
    "cube_agg" -> ((s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // explicit GROUPING SETS — the irregular-lattice member of the
    // rollup/cube family (exactly the requested groupings, not a
    // prefix-closure or power set), with grouping_id() disambiguating
    // the all-NULL rows. SQL form on a registered view: Spark plans the
    // same single Expand + hash agg as rollup/cube — one scan for all
    // three groupings.
    "grouping_sets" -> ((s, d) => {
      // the temp view is session-global state: name it per-dataset so two
      // datasets (or concurrent query builds) sharing one SparkSession
      // can't race registration vs analysis and bind to the wrong table.
      // The FULL path is sanitized into the name — a 32-bit hash could
      // collide two paths and silently bind both builds to one view
      val view = "graft_lineitem_gs_" + d.replaceAll("[^A-Za-z0-9]", "_")
      Tables.lineitem(s, d).createOrReplaceTempView(view)
      s.sql(
        s"""SELECT l_returnflag, l_linestatus,
           |  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           |  COUNT(*) AS n_rows,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
           |FROM $view
           |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
           |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
           |""".stripMargin)
    }),

    // Per-brand Pareto frontier (2-D skyline): parts not strictly dominated
    // within their brand — no same-brand part both strictly cheaper AND
    // strictly larger. NOT the naive NOT-EXISTS self-join (O(n²) per brand):
    // collapse to one row per (brand, price) carrying the max size, one
    // brand-partitioned window takes the running max over STRICTLY cheaper
    // prices (rows-frame to 1 PRECEDING is exact because the window input
    // has one row per distinct price), and a co-keyed join back marks
    // dominance. Windows and joins are all brand-partitioned — no global
    // order, no cartesian, survives any brand cardinality.
    "part_skyline" -> ((s, d) => {
      val p = Tables.part(s, d)
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice"), col("p_size"))
      val g = p.groupBy(col("p_brand"), col("p_retailprice"))
        .agg(max(col("p_size")).as("gmax"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("p_brand")).orderBy(col("p_retailprice"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val w = g.withColumn("prev_max", max(col("gmax")).over(win))
      p.join(w.select(col("p_brand"), col("p_retailprice"), col("prev_max")),
          Seq("p_brand", "p_retailprice"))
        .filter(col("prev_max").isNull || col("prev_max") <= col("p_size"))
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice"), col("p_size"))
        .orderBy(col("p_brand"), col("p_partkey"))
    }),

    // unpivot via stack (X2's relational twin).
    "unpivot_stack" -> ((s, d) =>
      sortedOnce(Tables.part(s, d)
        .selectExpr("p_partkey", "stack(2, 'brand', p_brand, 'type', p_type) as (attr, val)"),
        col("p_partkey"), col("attr"))),

    // set ops beyond union: nations present on both sides / only customers.
    "setop_intersect" -> ((s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy(col("nationkey"))),

    "setop_except" -> ((s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .except(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy(col("nationkey"))),

    // multiset (bag) semantics — the ALL variants DISTINCT-based set ops
    // silently collapse: how many MORE customers than suppliers each
    // nation has (except_all keeps multiplicity), and the common count
    // (intersect_all). Spark plans both as aggregate-count + generate —
    // one shuffle each, no join.
    "setop_except_all" -> ((s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .exceptAll(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy(col("nationkey"))),

    "setop_intersect_all" -> ((s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .intersectAll(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy(col("nationkey"))),

    // as-of join: latest order (by date) of the matching customer at or
    // before each event's timestamp. Spark lacks a native ASOF operator —
    // composed as the union/melt single-window plan: orders and events are
    // melted onto one (user, time) axis, a single window carries the most
    // recent order forward (`last(…, ignoreNulls)` over an unbounded-
    // preceding ROWS frame), and event rows read it off. ONE shuffle on the
    // user key, and the intermediate never exceeds |events| + |orders| —
    // unlike the join-then-top-1 formulation, whose pre-filter size is
    // events × order-dates-per-user and explodes on a hot user at 100 TB.
    // Orders are pre-deduped to one row per (custkey, date) so tie-breaks
    // are deterministic on both engines (DuckDB ASOF's tie behavior is
    // otherwise unspecified); within an equal timestamp, order points sort
    // before event points (kind 0 < 1) to preserve the `<=` inclusivity.
    "join_asof" -> ((s, d) => {
      val ordInfoType = "struct<od:date,ok:bigint>"
      val orPts = Tables.orders(s, d)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
        .select(col("o_custkey").as("user_id"),
          col("o_orderdate").cast("timestamp").as("t"), lit(0).as("kind"),
          lit(null).cast("long").as("event_id"),
          struct(to_date(col("o_orderdate")).as("od"),
            col("o_orderkey").cast("long").as("ok")).as("ordinfo"))
      val evPts = Tables.events(s, d)
        .select(col("user_id"), col("ts").as("t"), lit(1).as("kind"),
          col("event_id").cast("long").as("event_id"),
          lit(null).cast(ordInfoType).as("ordinfo"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("t"), col("kind"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      orPts.unionByName(evPts)
        .withColumn("asof", last(col("ordinfo"), ignoreNulls = true).over(w))
        .filter(col("kind") === 1)
        .select(col("event_id"), col("user_id"), col("t").as("ts"),
          col("asof.od").as("asof_orderdate"), col("asof.ok").as("asof_orderkey"))
        .orderBy(col("event_id"))
    }),

    // range join: event pairs of the same user within 10 minutes. Naive is
    // a quadratic theta-join; the scale formulation buckets time into the
    // range width and joins on (user, bucket) with the left side exploded
    // into its three adjacent buckets — each qualifying pair matches in
    // EXACTLY one bucket, so no dedup pass, and the shuffle key
    // (user, bucket) is fine-grained.
    "join_range" -> ((s, d) => {
      val step = 600L * 1000000L // 10 min in µs
      val base = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      val a = base.select(col("event_id").as("id1"), col("user_id"), col("us").as("us1"),
          explode(array(lit(-1L), lit(0L), lit(1L))).as("off"))
        .withColumn("bucket", floor(col("us1") / step) + col("off"))
      val b = base.select(col("event_id").as("id2"), col("user_id"), col("us").as("us2"))
        .withColumn("bucket", floor(col("us2") / step))
      a.join(b, Seq("user_id", "bucket"))
        .filter(col("id1") < col("id2") && abs(col("us2") - col("us1")) <= step)
        .select(col("user_id"), col("id1"), col("id2"),
          (col("us2") - col("us1")).as("dt_us"))
        .orderBy(col("user_id"), col("id1"), col("id2"))
    }),

    // exact percentiles (sort-based within group) — Spark `percentile` and
    // DuckDB `quantile_cont` share linear interpolation.
    "agg_percentiles" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.5)").as("p50_qty"),
          expr("percentile(l_extendedprice, 0.9)").as("p90_price"))
        .orderBy(col("l_returnflag"))),

    // equi-width histogram with GLOBAL bounds shared across groups (so the
    // per-priority distributions are comparable): one scalar min/max agg →
    // one-row broadcast glue join (the q22_idle pattern — never a
    // zero-partition window), then a single (group, bucket) aggregation.
    // Bucket arithmetic is identical IEEE left-to-right in both engines
    // ((x−lo)/(hi−lo)·NB, floored, clamped), and the reported per-bucket
    // stats are count/min/max — no float summation, so the row set is
    // bit-stable. Two exchanges at any scale; the histogram itself is
    // (groups × buckets) rows, tiny forever.
    "agg_histogram" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val bounds = o.agg(min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      o.select(col("o_orderpriority"), col("o_totalprice"))
        .crossJoin(broadcast(bounds))
        .withColumn("bucket",
          least(floor((col("o_totalprice") - col("lo")) / (col("hi") - col("lo"))
            * HistogramBuckets), lit(HistogramBuckets - 1L)).cast("long"))
        .groupBy(col("o_orderpriority"), col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("bucket_min"),
          max(col("o_totalprice")).as("bucket_max"))
        .orderBy(col("o_orderpriority"), col("bucket"))
    }),

    // Histogram-interpolated median vs the exact percentile — the
    // quantile-sketch quality gate (the agg-side sibling of sim_recall /
    // dedup_minhash_est): exact per-group percentile() gathers every value
    // of a group into one task, which is exactly what a 100 TB group can't
    // do; the scale path answers quantiles from the (groups × buckets)
    // equi-width histogram and THIS query measures what that costs. The
    // estimate assumes uniformity inside the hit bucket (lo + (bucket +
    // (rank − cum_before)/cnt)·width, all IEEE ops in identical
    // association both engines); the exact side is affordable here at
    // test scale — at 100 TB it runs on a sample, like the recall gates'
    // fixed query set. Three passes (bounds, buckets, exact), all
    // group-keyed; the histogram relation the estimate reads is tiny.
    "agg_percentile_hist" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val bounds = li.agg(min(col("l_extendedprice")).as("lo"),
        max(col("l_extendedprice")).as("hi"))
      val hist = li.select(col("l_returnflag"), col("l_extendedprice"))
        .crossJoin(broadcast(bounds))
        .withColumn("bucket",
          least(floor((col("l_extendedprice") - col("lo")) / (col("hi") - col("lo"))
            * HistogramBuckets), lit(HistogramBuckets - 1L)).cast("long"))
        .groupBy(col("l_returnflag"), col("bucket"))
        .agg(count(lit(1)).as("cnt"), first(col("lo")).as("lo"), first(col("hi")).as("hi"))
      val wg = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag")).orderBy(col("bucket"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val wn = org.apache.spark.sql.expressions.Window.partitionBy(col("l_returnflag"))
      val est = hist
        .withColumn("cum", sum(col("cnt")).over(wg))
        .withColumn("n", sum(col("cnt")).over(wn))
        .withColumn("med", (col("n") - 1).cast("double") / 2.0)
        .filter(col("cum") - col("cnt") <= col("med") && col("med") < col("cum"))
        .select(col("l_returnflag"), col("n"),
          (col("lo") + (col("bucket").cast("double") +
            (col("med") - (col("cum") - col("cnt")).cast("double")) / col("cnt"))
            * ((col("hi") - col("lo")) / HistogramBuckets)).as("p50_hist"))
      // the exact side stays the priced exact-percentile baseline; a
      // fanout was A/B-tested here (r15) and REVERTED: the round-robin
      // write of 600k (flag, price) rows from the single scan task cost
      // more than the 467 ms single-task percentile partial it
      // parallelized (steady-state 1.33 s → 1.75-1.86 s) — unlike the
      // md5-heavy sketch scans, the per-row work here is too light to
      // buy back the exchange
      val exact = li.groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, 0.5)").as("p50_exact"))
      est.join(exact, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("n"), col("p50_exact"), col("p50_hist"),
          abs(col("p50_hist") - col("p50_exact")).as("abs_err"))
        .orderBy(col("l_returnflag"))
    }),

    // sketch aggregate: KMV (bottom-k minimum values) distinct estimator.
    // Unlike HLL/KLL (engine-specific internals, no cross-engine oracle),
    // KMV over md5 is fully deterministic: keep the k smallest 48-bit hash
    // values per group; if fewer than k distinct exist the count is exact,
    // else estimate (k-1)·2^48 / h_k — integer arithmetic only, so DuckDB
    // reproduces it bit-for-bit. The bottom-k is SALTED two-stage: per
    // (group, h % 64) distinct bottom-k first (a hash value lands in exactly
    // ONE salt, so the union of per-salt bottom-ks contains the global
    // bottom-k exactly), then bottom-k of that ≤ 64·k union. Both stages are
    // collect_set aggregations — partial map-side merge pre-dedups before the
    // ONE (group, salt) exchange — where the previous formulation needed a
    // full distinct exchange plus two window sorts. The salt count is the
    // deployment knob: it bounds any one group-salt's set to distinct/salts,
    // raised with corpus cardinality like Similarity.MaxCentroids.
    "agg_approx_sketch" -> ((s, d) => {
      // fanned out BEFORE the md5 hashing + partial bottom-k: on the
      // single-row-group driver testdata the whole scan-stage pipeline —
      // one md5/conv per row plus the partial collect_set — ran in ONE
      // task (SQLMetrics r15: partial aggTime 912 ms task-summed ≈ all of
      // it serialized). [[Tables.fanout]] is the identity at any real
      // multi-row-group layout, so no corpus-sized exchange at 100 TB.
      val perSalt = Tables.fanout(
          Tables.lineitem(s, d).select(col("l_returnflag"), col("l_orderkey")))
        .select(col("l_returnflag"), kmvHash(col("l_orderkey")).as("h"))
        .withColumn("salt", col("h") % 64)
        .groupBy(col("l_returnflag"), col("salt"))
        .agg(bottomK.as("hs"))
      kmvEstimate(perSalt, "l_returnflag", "approx_orders").orderBy(col("l_returnflag"))
    }),

    // Sketch MERGE proven by the oracle — the agg_incremental discipline
    // applied to sketches: per-SEGMENT KMV bottom-k partials (the shape
    // of a per-day/per-shard sketch store) merged into the corpus
    // estimate, while the oracle computes the single-pass bottom-k
    // directly. Hash-match proves bottom-k(∪ partials) ≡
    // bottom-k(corpus) — the lossless-union property that lets 1000
    // executors (or 365 daily snapshots) sketch independently and
    // combine; partials are k longs per (group, segment), so the merge
    // input is KBs regardless of corpus size.
    "agg_sketch_merge" -> ((s, d) => {
      // fanout for the same scan-starvation reason as agg_approx_sketch
      val partials = Tables.fanout(
          Tables.lineitem(s, d).select(col("l_returnflag"), col("l_orderkey")))
        .select(col("l_returnflag"), (col("l_orderkey") % 4).as("segment"),
          kmvHash(col("l_orderkey")).as("h"))
        .groupBy(col("l_returnflag"), col("segment"))
        .agg(bottomK.as("hs"))
      kmvEstimate(partials, "l_returnflag", "approx_orders").orderBy(col("l_returnflag"))
    }),

    // TPC-H Q13 shape: left join + two-level aggregation (order-count
    // histogram over customers, including zero-order customers).
    "q13_custdist" -> ((s, d) => {
      val counts = Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count")) // count skips nulls
      counts.groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // argmin join: per part, the supplier with the lowest unit price
    // (min-price then min-suppkey tie-break) — the correlated-subquery shape
    // expressed as agg + join-back, shuffle only on the group key.
    "argmin_join" -> ((s, d) => {
      // IEEE double division of the raw doubles: bit-identical across
      // engines (decimal division would round at engine-specific scales).
      val li = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"),
          (col("l_extendedprice") / col("l_quantity")).as("unit_price"))
      val best = li.groupBy(col("l_partkey"))
        .agg(min(col("unit_price")).as("min_price"))
      li.join(best, Seq("l_partkey"))
        .filter(col("unit_price") === col("min_price"))
        .groupBy(col("l_partkey"), col("min_price"))
        .agg(min(col("l_suppkey")).as("best_suppkey"))
        .orderBy(col("l_partkey"))
    }),

    // pivot: rows → typed columns (the relational twin of the reference's
    // per-type counters). Explicit value list keeps the plan single-pass.
    "pivot_type_counts" -> ((s, d) =>
      graft.pipeline.EmailPipeline(Tables.emails(s, d), graft.SparkEntry.DateAdded)
        .groupBy(col("source"))
        .pivot("type", Seq("ip", "hash", "url", "email"))
        .count()
        .na.fill(0L)
        .orderBy(col("source"))),

    // navigation window functions: lag/lead/first/last + distribution ranks
    // over each customer's order history.
    "window_nav" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      sortedOnce(Tables.orders(s, d).select(
          col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          first(col("o_totalprice")).over(w).as("first_price"),
          ntile(4).over(w).cast("long").as("quartile")),
        col("o_custkey"), col("o_orderkey"))
    }),

    // frame-pinned positional window functions — nth_value and last over
    // the FULL partition frame (the default running frame makes "last"
    // mean "current", the classic window gotcha; the explicit unbounded
    // frame is the semantics people actually want). Deterministic: the
    // (date, orderkey) order is unique per customer.
    "window_nth" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      val wf = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
      sortedOnce(Tables.orders(s, d).select(
          col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          nth_value(col("o_totalprice"), 2).over(wf).as("second_price"),
          last(col("o_totalprice")).over(wf).as("last_price")),
        col("o_custkey"), col("o_orderkey"))
    }),

    // ranking-function family over each customer's order history — rank
    // semantics under ties, plus the distribution functions. percent_rank
    // = (rank−1)/(n−1) and cume_dist = rows≤current/n are exact ratios of
    // small integers, so the doubles agree bit-for-bit across engines.
    // Same single-shuffle shape as window_nav: one exchange on the
    // high-cardinality customer key.
    "window_ranks" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_totalprice"))
      sortedOnce(Tables.orders(s, d).select(
          col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          percent_rank().over(w).as("prnk"),
          cume_dist().over(w).as("cdist")),
        col("o_custkey"), col("o_orderkey"))
    }),

    // TPC-H Q2 shape: min-cost supplier per part within a region, over
    // the synthesized partsupp view (Tables.partsupp — the testdata has
    // no partsupp; the oracle mirrors the same deterministic CTE). The
    // region-pruned supplier side broadcasts INTO partsupp, the part
    // filter broadcasts, and the correlated-min subquery is a per-part
    // window min + filter — ONE pass over the candidate subtree and one
    // exchange on the high-cardinality part key (the agg + join-back
    // formulation planned the subtree twice and was the round-3 slowest
    // query at 7.9 s).
    "q2_mincost" -> ((s, d) => {
      val su = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val cand = Tables.partsupp(s, d)
        .join(broadcast(su), col("s_suppkey") === col("ps_suppkey"))
        .join(broadcast(Tables.part(s, d)
            .filter(col("p_type") === "LARGE" && col("p_size") % 5 === 0)
            .select(col("p_partkey"), col("p_name"))),
          col("ps_partkey") === col("p_partkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"), col("ps_supplycost"))
      val perPart = org.apache.spark.sql.expressions.Window.partitionBy(col("p_partkey"))
      cand.withColumn("min_cost", min(col("ps_supplycost")).over(perPart))
        .filter(col("ps_supplycost") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"), col("ps_supplycost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
        .limit(100)
    }),

    // TPC-H Q20 shape: suppliers holding surplus stock of a part family —
    // availqty greater than half the quantity they actually shipped in
    // 1998. Per-(part, supplier) shipped quantity is ONE fact aggregation
    // on the composite key; partsupp is pruned by the broadcast part
    // filter before the join; the surviving supplier keys semi-join into
    // the dimension. No correlated per-row subquery ever runs.
    "q20_surplus" -> ((s, d) => {
      val shipped = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1998-01-01") && col("l_shipdate") < lit("1999-01-01"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(dsum(col("l_quantity")).as("qty_shipped"))
      val surplus = Tables.partsupp(s, d)
        .join(broadcast(Tables.part(s, d).filter(col("p_name").startsWith("red"))
          .select(col("p_partkey"))), col("ps_partkey") === col("p_partkey"))
        .join(shipped, col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
        .filter(col("ps_availqty").cast("double") > col("qty_shipped") * 0.5)
        .select(col("ps_suppkey")).distinct()
      Tables.supplier(s, d)
        .join(surplus, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .join(broadcast(Tables.nation(s, d).filter(col("n_name").isin(
          "NATION_1", "NATION_2", "NATION_3"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
        .orderBy(col("s_name"))
    }),

    // TPC-H Q12 shape (adapted: lateness = shipped >30 days after the
    // order date; the testdata has no ship mode or commit/receipt dates,
    // so the grouping axis is the return flag): fact⋈fact orderkey join
    // with the residual lateness predicate, then conditional counts by
    // priority class out of ONE hash agg. Both scans prune to 3 columns.
    "q12_late" -> ((s, d) => {
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
        .join(Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .groupBy(col("l_returnflag"))
        .agg(count(when(high, true)).as("high_line_count"),
          count(when(!high, true)).as("low_line_count"))
        .orderBy(col("l_returnflag"))
    }),

    // full-outer join (the remaining join family member): per-nation
    // customer vs supplier counts, nations present on either side kept.
    // Both inputs are PRE-AGGREGATED to |nations| rows before the join —
    // full outer can't broadcast (both sides preserve unmatched rows),
    // so the join runs on the tiny aggregates, never on the raw tables.
    "join_full" -> ((s, d) => {
      val cu = Tables.customer(s, d)
        .groupBy(col("c_nationkey").as("nationkey")).agg(count(lit(1)).as("n_cust"))
      val su = Tables.supplier(s, d)
        .groupBy(col("s_nationkey").as("nationkey")).agg(count(lit(1)).as("n_supp"))
      cu.join(su, Seq("nationkey"), "full")
        .select(col("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy(col("nationkey"))
    }),

    // RANGE-frame window (vs the ROWS frames everywhere else): each
    // order's trailing-30-day spend for its customer — the frame is
    // defined by the ORDER-BY VALUE (epoch days), so gaps in order dates
    // shrink the window where ROWS would blindly take k physical rows.
    // Same single-shuffle shape as every window here: one exchange on
    // the high-cardinality customer key.
    "window_range_frame" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(unix_date(to_date(col("o_orderdate"))))
        .rangeBetween(-30, 0)
      sortedOnce(Tables.orders(s, d).select(
          col("o_custkey"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("o_orderdate"),
          sum(col("o_totalprice").cast("decimal(12,2)")).over(w)
            .cast("double").as("trailing_30d")),
        col("o_custkey"), col("o_orderkey"))
    }),

    // EXACT rolling median over a 7-row trailing frame — the robust
    // baseline dashboards want where a rolling mean is outlier-poisoned.
    // No window function computes an exact frame median; the scale-safe
    // form gathers ONLY the frame (≤7 values — bounded by the frame
    // length, never the partition) with collect_list, sorts the tiny
    // array per row, and indexes the lower median. O(n·L log L) work,
    // one user-keyed exchange, no per-partition full sort beyond the
    // window's own. Lower-median (element at ⌊(n−1)/2⌋) matches
    // DuckDB's windowed quantile_disc(0.5) exactly — no IEEE averaging
    // of middle elements, so even-length frames stay bit-stable.
    "window_median" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-6, 0)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"),
          sort_array(collect_list(col("value")).over(w)).as("arr"))
        .select(col("user_id"), col("event_id"), col("ts"), col("value"),
          expr("element_at(arr, CAST((size(arr) - 1) DIV 2 + 1 AS INT))")
            .as("med7"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    }),

    // date/time feature extraction (training-data timestamp featurization).
    "time_features" -> ((s, d) =>
      sortedOnce(Tables.orders(s, d).select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("dom"),
          quarter(col("o_orderdate")).as("qtr"),
          date_format(col("o_orderdate"), "EEEE").as("dayname"),
          to_date(date_add(col("o_orderdate"), 30)).as("due_date")),
        col("o_orderkey"))),

    // TPC-H Q4 shape: EXISTS → LEFT SEMI join with a non-equi residual
    // (orders with any late-shipped lineitem), then a priority histogram.
    // The semi join shuffles on the order key and short-circuits per match —
    // no fact×fact fan-out ever materializes.
    "q4_exists" -> ((s, d) =>
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate")),
          col("l_orderkey") === col("o_orderkey") && col("l_shipdate") > col("o_orderdate"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))),

    // TPC-H Q16 shape: anti-join out flagged suppliers (NOT EXISTS), then a
    // distinct-count per brand. The anti side is tiny → broadcast; part is
    // a dimension → broadcast; lineitem never shuffles before the agg.
    "q16_suppcnt" -> ((s, d) =>
      Tables.lineitem(s, d).select(col("l_partkey"), col("l_suppkey"))
        .join(broadcast(Tables.supplier(s, d)
          .filter(col("s_acctbal") < 0).select(col("s_suppkey"))),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(Tables.part(s, d).filter(!col("p_type").startsWith("PROMO"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"))),

    // TPC-H Q18 shape: HAVING over a fact aggregation, join the survivors
    // back to orders/customer. The heavy agg groups on the high-cardinality
    // order key; only qualifying orders (a tiny set) reach the joins.
    "q18_bigorders" -> ((s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(dsum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      Tables.orders(s, d)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("o_orderdate"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // TPC-H Q10 shape: returned-items revenue per customer — fact⋈fact on
    // the order key plus broadcast dimensions, exact-decimal revenue, top-k.
    "q10_returns" -> ((s, d) =>
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d).filter(col("l_returnflag") === "R"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("c_custkey") === col("o_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("n_nationkey") === col("c_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(revenue.as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)),

    // TPC-H Q6 shape: pure scan-filter-agg — the pushdown showcase. All
    // four predicates reach the parquet scan (PushedFilters), the read
    // schema is 4 columns, and the agg is one partial+final sum: no data
    // shuffle at all, just a one-row exchange. At 100 TB this query's cost
    // is bounded by I/O alone — with date-partitioned storage the scan
    // prunes to one year of files before a single task launches.
    "q6_forecast" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1998-01-01") && col("l_shipdate") < lit("1999-01-01")
          && col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") * col("l_discount").cast("decimal(12,2)"))
          .cast("double").as("revenue"))),

    // TPC-H Q14 shape: one-month fact slice ⋈ broadcast dimension, then a
    // conditional-aggregate ratio (promo revenue share). The date filter
    // pushes to the scan, part broadcasts, and both sums come out of one
    // hash agg — a single pass over the month.
    "q14_promo" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1998-09-01") && col("l_shipdate") < lit("1998-10-01"))
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) *
          sum(when(col("p_type").startsWith("PROMO"), discPrice)
            .otherwise(lit(new java.math.BigDecimal("0.00")))).cast("double") /
          sum(discPrice).cast("double")).as("promo_revenue"))
    }),

    // TPC-H Q15 shape: revenue-per-supplier over a quarter, keep the
    // argmax. The global max is a scalar agg + one-row broadcast glue join
    // (the q22_idle pattern) — NOT a zero-partition window, which would
    // funnel the whole per-supplier aggregate (millions of rows at 100 TB)
    // through one task. Both consumers share `rev` up to its shuffle, so
    // ReuseExchange pays the lineitem scan + partial agg once; only the
    // post-shuffle final agg runs per branch, on |suppliers| rows.
    "q15_topsupp" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1998-01-01") && col("l_shipdate") < lit("1998-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(revenue.as("total_revenue"))
      val maxRev = rev.agg(max(col("total_revenue")).as("max_revenue"))
      rev.crossJoin(broadcast(maxRev))
        .filter(col("total_revenue") === col("max_revenue"))
        .join(broadcast(Tables.supplier(s, d)), col("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    // TPC-H Q17 shape: "below 20% of the part's average quantity". The
    // brand filter semi-join-prunes lineitem FIRST (broadcast of the
    // filtered part keys), so the per-part average aggregates only the
    // brand's rows — the naive plan averages ALL parts and throws 96% of
    // the agg away. Spark plans the two `li` consumers independently, so
    // the pruned scan+semi-join executes twice — the scale-correct trade
    // (each pass reads only the brand's ~4% slice; materializing it would
    // cost executor storage at 100 TB). The only wide op is the partkey
    // agg + join-back, keyed on the high-cardinality part key.
    "q17_smallqty" -> ((s, d) => {
      val pk = Tables.part(s, d).filter(col("p_brand") === "Brand#23").select(col("p_partkey"))
      val li = Tables.lineitem(s, d)
        .join(broadcast(pk), col("l_partkey") === col("p_partkey"), "left_semi")
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      val avgq = li.groupBy(col("l_partkey"))
        .agg((dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
      li.join(avgq, Seq("l_partkey"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg((dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
    }),

    // TPC-H Q19 shape: disjunctive (OR-of-ANDs) join residual over
    // part attributes × lineitem quantity bands. The dimension broadcasts;
    // the disjunction stays a single codegen'd residual predicate — no
    // union-of-three-joins rewrite, which would scan the fact three times.
    // (Brand literals follow THIS testdata's domain, Brand#1..Brand#25 —
    // all three arms match rows; real TPC-H uses two-digit Brand#MN.)
    "q19_disjoint" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) && col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) && col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#4" && col("p_size").between(1, 15) && col("l_quantity").between(20, 30)))
        .agg(revenue.as("revenue"))),

    // TPC-H Q22 shape: scalar-average subquery + anti join. The average is
    // a one-row broadcast (never a shuffle of customers against it); the
    // anti join discards customers with any big order before the final
    // per-nation rollup (the filter sits on the anti side's scan, so the
    // build input is the small qualifying-orders slice). AVG is computed as
    // exact-decimal SUM / COUNT so both engines agree bit-for-bit (a double
    // AVG is accumulation-order-dependent).
    "q22_idle" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .filter(col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13))
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      val avgBal = cust.filter(col("c_acctbal") > 0.0)
        .agg((dsum(col("c_acctbal")) / count(lit(1))).as("avg_bal"))
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 300000).select(col("o_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
        .orderBy(col("c_nationkey"))
    }),

    // TPC-H Q7 shape: bilateral trade volume between two nations. Each
    // fact is nation-pruned BEFORE the fact⋈fact join — supplier keys of
    // the two nations broadcast-prune lineitem, customer keys prune
    // orders — so the orderkey shuffle moves only the two nations' slices
    // (the naive plan shuffles both full facts, then throws away ~92% of
    // the pairs). The residual pair-direction filter is a cheap codegen
    // predicate after the join.
    "q7_volume" -> ((s, d) => {
      val pair = Seq("NATION_1", "NATION_2")
      val su = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d).filter(col("n_name").isin(pair: _*))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cu = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d).filter(col("n_name").isin(pair: _*))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val l = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1998-01-01"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      val o = Tables.orders(s, d)
        .join(broadcast(cu), col("o_custkey") === col("c_custkey"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .filter((col("supp_nation") === pair(0) && col("cust_nation") === pair(1)) ||
                (col("supp_nation") === pair(1) && col("cust_nation") === pair(0)))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(revenue.as("volume"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // TPC-H Q8 shape: one nation's market share inside a region's customer
    // base, per order year — a conditional-sum ratio over a snowflake join.
    // Every dimension side broadcasts (region-filtered customers, STANDARD
    // parts, supplier+nation); the only wide op is the lineitem⋈orders
    // orderkey shuffle, with lineitem pre-pruned by the part broadcast.
    // Numerator and denominator come out of ONE hash agg as exact decimals.
    "q8_share" -> ((s, d) => {
      val cu = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"))
      val su = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_key"))
        .select(col("s_suppkey"), col("supp_nation"))
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).filter(col("p_type") === "STANDARD")
          .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d).join(broadcast(cu), col("o_custkey") === col("c_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg((sum(when(col("supp_nation") === "NATION_5", discPrice)
            .otherwise(lit(new java.math.BigDecimal("0.00")))).cast("double") /
          sum(discPrice).cast("double")).as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    // TPC-H Q9 shape (adapted): per-nation product profit by year. The
    // testdata has no partsupp, so cost is proxied by the part's retail
    // price (amount = disc revenue − 10% of retailprice × quantity) — the
    // join/agg structure is Q9's exactly: two broadcast dimensions into
    // lineitem, the orderkey fact⋈fact shuffle for the year, then a
    // (nation, year) hash agg on exact decimals.
    "q9_profit" -> ((s, d) => {
      val amount = discPrice -
        col("p_retailprice").cast("decimal(12,2)") *
          col("l_quantity").cast("decimal(12,2)") * lit(new java.math.BigDecimal("0.10"))
      val su = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).filter(col("p_name").contains("widget"))
          .select(col("p_partkey"), col("p_retailprice"))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum(amount).cast("double").as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // TPC-H Q11 shape (adapted): value-concentration — parts whose traded
    // value exceeds a fixed fraction of the corpus total (no partsupp in
    // the testdata, so value is lineitem discounted revenue). The global
    // total is a one-row broadcast against the per-part aggregate — the
    // scalar-subquery shape without re-running the heavy agg; both engines
    // compare the same IEEE product total×1e-4, so the cut is bit-stable.
    "q11_important" -> ((s, d) => {
      val perPart = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(revenue.as("part_value"))
      val total = perPart.agg(dsum(col("part_value")).as("total_value"))
      perPart.crossJoin(broadcast(total))
        .filter(col("part_value") > col("total_value") * lit(0.0001))
        .select(col("l_partkey"), col("part_value"))
        .orderBy(col("part_value").desc, col("l_partkey"))
    }),

    // TPC-H Q21 shape (adapted): suppliers who were the SOLE late shipper
    // in a multi-supplier order (late = shipped >30 days after the order
    // date; the testdata has no commit/receipt dates). The classic EXISTS/
    // NOT-EXISTS double self-join collapses into per-order aggregation —
    // and the two countDistincts collapse further into a TWO-LEVEL exact
    // aggregation (r15): collapse to distinct (order, supplier) pairs with
    // an any-late flag first, then count pairs per order. The multi-
    // distinct formulation planned an Expand ×3 of the joined fact rows
    // (3× shuffle bytes, wide CASE keys) plus a second exchange; both
    // levels here share ONE explicit o_orderkey exchange (hash(o_orderkey)
    // clusters (o_orderkey, l_suppkey) too — guide §2.4 "two operations
    // keyed the same way share one exchange"), so the plan is two shuffles
    // total (orderkey, suppkey), no Expand, no self-join of the fact.
    "q21_waiting" -> ((s, d) => {
      val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS")
      val perPair = Tables.lineitem(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderkey"), col("l_suppkey"),
          when(late, 1L).otherwise(0L).as("is_late"))
        .repartition(col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("l_suppkey"))
        .agg(max(col("is_late")).as("lt"))
      // per-pair collapse ≡ the countDistinct pair: n_supp counts distinct
      // suppliers (null suppkey pairs excluded by count(col)), n_late
      // counts distinct suppliers with ANY late line, late_supp is the
      // min late supplier — identical null semantics to the distinct aggs
      val perOrder = perPair.groupBy(col("o_orderkey"))
        .agg(
          count(col("l_suppkey")).as("n_supp"),
          count(when(col("lt") === 1L, col("l_suppkey"))).as("n_late"),
          min(when(col("lt") === 1L, col("l_suppkey"))).as("late_supp"))
        .filter(col("n_supp") > 1 && col("n_late") === 1)
      perOrder.groupBy(col("late_supp"))
        .agg(count(lit(1)).as("numwait"))
        .join(broadcast(Tables.supplier(s, d)), col("late_supp") === col("s_suppkey"))
        .select(col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    }),

    // CDC upsert: merge a change feed (events: user_id → new balance at
    // ts) into a dimension snapshot (customer) — updates AND inserts —
    // without a join ([[cdcWinners]]): ONE shuffle on the key; the
    // intermediate is |snapshot| + |changes|. The join formulation (outer
    // join + coalesce) shuffles both sides AND loses the
    // multi-change-per-key case without a pre-agg; this shape absorbs any
    // number of changes per key in the same pass.
    "cdc_upsert" -> ((s, d) => cdcMerged(cdcWinners(s, d))),

    // CDC merge with DELETE tombstones — the other half of change-feed
    // semantics cdc_upsert leaves open: a key's LAST operation decides
    // its fate (error events stand in for the feed's delete records —
    // the op column is what a Debezium-style feed carries natively).
    // Same single key shuffle and one window pass; the tombstone filter
    // is a post-window predicate, so deletes cost nothing extra. At
    // 100 TB deletes MUST ride the merge — a separate anti-join pass
    // over the snapshot would double the shuffle for the rare-op case.
    "cdc_tombstone" -> ((s, d) => cdcMerged(cdcWinners(s, d).filter(col("op") =!= "D"))),

    // data-quality validation report (the "expectations" stage of a
    // production ETL): null keys, range violations, duplicate natural
    // keys, and referential orphans in ONE report row. One full-scan
    // aggregation for the row-local checks, one key-grouped agg for
    // duplicates, one anti-join count for orphans — each the minimal
    // plan for its check, glued by one-row broadcasts. At 100 TB this
    // runs as a post-load gate: cost ≈ one scan of the fact plus the
    // (pre-aggregated, tiny) key joins.
    // Per-column profile — the PROFILING stage beside dq_checks'
    // expectations: row count, null count, exact distinct count, and
    // numeric min/max for every orders column, in ONE pass (a single
    // wide aggregation; the 5 column-distincts plan as one Expand, the
    // standard multi-distinct trade — at 100 TB swap the exact distincts
    // for the KMV estimator agg_approx_sketch already ships). The wide
    // row unpivots with stack() to the (column, metrics) long form every
    // catalog tool ingests. Non-numeric columns carry null min/max —
    // cross-engine double/timestamp STRING formatting is not portable,
    // so the profile never stringifies values.
    "dq_profile" -> ((s, d) => {
      val o = Tables.orders(s, d)
      def nn(c: String) = count(when(col(c).isNull, 1)).as(s"nn_$c")
      def nd(c: String) = countDistinct(col(c)).as(s"nd_$c")
      val wide = o.agg(
        count(lit(1)).as("n_rows"),
        nn("o_orderkey"), nd("o_orderkey"),
        min(col("o_orderkey")).cast("double").as("mn_o_orderkey"),
        max(col("o_orderkey")).cast("double").as("mx_o_orderkey"),
        nn("o_custkey"), nd("o_custkey"),
        min(col("o_custkey")).cast("double").as("mn_o_custkey"),
        max(col("o_custkey")).cast("double").as("mx_o_custkey"),
        nn("o_totalprice"), nd("o_totalprice"),
        min(col("o_totalprice")).as("mn_o_totalprice"),
        max(col("o_totalprice")).as("mx_o_totalprice"),
        nn("o_orderstatus"), nd("o_orderstatus"),
        nn("o_orderpriority"), nd("o_orderpriority"))
      wide.selectExpr("n_rows",
        """stack(5,
          |'o_custkey', nn_o_custkey, nd_o_custkey, mn_o_custkey, mx_o_custkey,
          |'o_orderkey', nn_o_orderkey, nd_o_orderkey, mn_o_orderkey, mx_o_orderkey,
          |'o_orderpriority', nn_o_orderpriority, nd_o_orderpriority, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
          |'o_orderstatus', nn_o_orderstatus, nd_o_orderstatus, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
          |'o_totalprice', nn_o_totalprice, nd_o_totalprice, mn_o_totalprice, mx_o_totalprice
          |) AS (column, n_null, n_distinct, min_d, max_d)""".stripMargin)
        .select(col("column"), col("n_rows"), col("n_null"), col("n_distinct"),
          col("min_d"), col("max_d"))
        .orderBy(col("column"))
    }),

    "dq_checks" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val rowChecks = li.agg(
        count(lit(1)).as("n_rows"),
        count(when(col("l_orderkey").isNull, true)).as("null_orderkey"),
        count(when(col("l_quantity") <= 0 || col("l_quantity") > 60, true))
          .as("qty_range_viol"),
        count(when(col("l_discount") < 0 || col("l_discount") > 0.2, true))
          .as("disc_range_viol"))
      val dupKeys = li.groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1)
        .agg(count(lit(1)).as("dup_line_keys"))
      val orphans = li.select(col("l_orderkey"))
        .join(Tables.orders(s, d).select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("orphan_lines"))
      rowChecks.crossJoin(broadcast(dupKeys)).crossJoin(broadcast(orphans))
    }),

    // Distribution drift between the two time-halves of the corpus — the
    // monitoring check that catches a composition shift (a source dying,
    // a bot flood) before it poisons training: split at the midpoint of
    // the observed time range, compare each event type's share across
    // halves in exact ppm. All integer arithmetic (counts, ppm = n·10⁶
    // div total, |Δppm|) so both engines agree exactly — no IEEE ratio,
    // no KL/PSI logs (whose IEEE evaluation order differs by engine; the
    // |Δshare| statistic is the same monotone signal for a per-type
    // threshold). Plan: two scalar aggs broadcast onto one corpus scan +
    // one tiny per-type agg — nothing corpus-sized ever shuffles wide.
    "dq_drift" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_type"), unix_micros(col("ts")).as("us"))
      val m = e.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
      val counts = e.crossJoin(broadcast(m))
        .withColumn("half",
          when(col("us") <= expr("(mn + mx) div 2"), lit("a")).otherwise(lit("b")))
        .groupBy(col("event_type"))
        .agg(sum(when(col("half") === "a", 1L).otherwise(0L)).as("n_a"),
          sum(when(col("half") === "b", 1L).otherwise(0L)).as("n_b"))
      // totals via pack-to-one-row + array fold, NOT a second reference to
      // `counts` — a second reference would re-run its whole subtree
      // (including the corpus scan); here the corpus is read exactly twice
      // (min/max pass + counting pass), which is the floor for a
      // data-dependent split point.
      counts
        .agg(collect_list(struct(col("event_type"), col("n_a"), col("n_b"))).as("cs"))
        .withColumn("tot_a", expr("aggregate(cs, 0L, (acc, x) -> acc + x.n_a)"))
        .withColumn("tot_b", expr("aggregate(cs, 0L, (acc, x) -> acc + x.n_b)"))
        .select(col("tot_a"), col("tot_b"), explode(col("cs")).as("c"))
        .select(col("c.event_type").as("event_type"),
          col("c.n_a").as("n_a"), col("c.n_b").as("n_b"),
          col("tot_a"), col("tot_b"))
        .withColumn("ppm_a", expr("n_a * 1000000 div tot_a"))
        .withColumn("ppm_b", expr("n_b * 1000000 div tot_b"))
        .withColumn("drift_ppm", abs(col("ppm_a") - col("ppm_b")))
        .withColumn("flagged", col("drift_ppm") > 10000)
        .select(col("event_type"), col("n_a"), col("n_b"),
          col("ppm_a"), col("ppm_b"), col("drift_ppm"), col("flagged"))
        .orderBy(col("event_type"))
    }),

    // Market-basket co-occurrence: for every part pair, how many orders
    // contain both — the frequently-bought-together miner. NOT a self-join
    // (which would scan the fact table twice and shuffle it twice): one
    // orderkey aggregation folds each basket to its sorted distinct part
    // list, pairs explode from pure array algebra (i<j upper triangle),
    // and the pair count is a second agg. Fan-out is bounded by
    // basket-size² — baskets are small by nature (TPC-H ≤7 lines); a
    // pathological giant basket is capped upstream the same way
    // MaxShingleDf caps hot shingles. Support threshold ≥2 keeps the
    // result the interesting-pair set, not the pair universe.
    "basket_pairs" -> ((s, d) =>
      basketPairs(s, d).orderBy(col("part_a"), col("part_b"))),

    // EXACT per-group quantiles at scale — the two-pass bucket-narrowing
    // selection: `percentile()` gathers a whole group into one task and
    // `agg_percentile_hist` prices the approximation; this computes the
    // true order statistic with NO per-group gather. Pass A folds the
    // corpus to (group, $1000-bucket) counts — a bucket-resolution
    // histogram whose cumulative sums locate, for each target rank
    // k = ⌈q·n⌉ (integer ppm ceil — no FP rank), the one bucket holding
    // it and the rank offset inside. Pass B re-scans with the ~9-row
    // target table BROADCAST, keeps only rows in target buckets (a
    // n/buckets sliver), and row_numbers within (group, q) — partitions
    // are bucket-population-sized, never group-sized. Duplicate values
    // make tie order irrelevant: the k-th smallest VALUE is unique.
    "agg_exact_quantile" -> ((s, d) => {
      val bw = 100000L // $1000 buckets: selectivity knob of the pass-B sliver
      val c = Tables.lineitem(s, d).select(col("l_returnflag").as("flag"),
        (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long").as("cents"))
      val bucketed = c.withColumn("bucket", expr(s"cents div $bw"))
      val wf = org.apache.spark.sql.expressions.Window
        .partitionBy(col("flag")).orderBy(col("bucket"))
      val cum = bucketed.groupBy(col("flag"), col("bucket"))
        .agg(count(lit(1)).as("bn"))
        .withColumn("cum", sum(col("bn")).over(wf))
        .withColumn("n", sum(col("bn")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("flag"))))
      val targets = cum
        .withColumn("qppm", explode(array(lit(500000L), lit(900000L), lit(990000L))))
        .withColumn("rank_k", expr("(n * qppm + 999999) div 1000000"))
        .filter(col("cum") >= col("rank_k") && col("cum") - col("bn") < col("rank_k"))
        .select(col("flag"), col("bucket"), col("qppm"), col("n"), col("rank_k"),
          (col("rank_k") - (col("cum") - col("bn"))).as("k_in_bucket"))
      val wq = org.apache.spark.sql.expressions.Window
        .partitionBy(col("flag"), col("qppm")).orderBy(col("cents"))
      bucketed.join(broadcast(targets), Seq("flag", "bucket"))
        .withColumn("rn", row_number().over(wq))
        .filter(col("rn") === col("k_in_bucket"))
        .select(col("flag").as("l_returnflag"), col("qppm"), col("n"),
          col("rank_k"), (col("cents").cast("double") / 100.0).as("value"))
        .orderBy(col("l_returnflag"), col("qppm"))
    }),

    // grouped stats incl. exact distinct count (partial agg + distinct expand).
    "agg_stats" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          dsum(col("l_tax")).as("sum_tax"))
        .orderBy(col("l_returnflag")))
  )

  /** SQL twin of [[discPrice]]. */
  private val discSql =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1.00 - CAST(l_discount AS DECIMAL(12,2)))"

  /** SQL twin of [[revenue]]. */
  private val rev = s"CAST(SUM($discSql) AS DOUBLE)"

  /** SQL twin of [[kmvHash]]. */
  private[graft] def kmvHashSql(c: String): String =
    s"CAST(('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 12)) AS BIGINT)"

  /** SQL twin of [[kmvEstimate]]: `name(key, est)` over the (key, h) rows
    * of `from`, ranking each key's distinct hashes in one window. */
  private[graft] def kmvSql(name: String, from: String, key: String, est: String): String =
    s"$name AS (\n  SELECT $key,\n" +
      s"    CASE WHEN COUNT(*) < $SketchK THEN COUNT(*)\n" +
      s"         ELSE $SketchNum // MAX(h) END AS $est\n" +
      s"  FROM (\n    SELECT $key, h, row_number() OVER (PARTITION BY $key ORDER BY h) AS rn\n" +
      s"    FROM (SELECT DISTINCT $key, h FROM $from))\n" +
      s"  WHERE rn <= $SketchK GROUP BY $key)"

  /** The distinct-orders KMV estimate per return flag, single pass over
    * lineitem — the oracle of both KMV queries. */
  private def kmvOrdersSql: String =
    s"WITH h AS (\n  SELECT l_returnflag, ${kmvHashSql("l_orderkey")} AS h\n  FROM lineitem),\n" +
      kmvSql("est", "h", "l_returnflag", "approx_orders") +
      "\nSELECT l_returnflag, approx_orders FROM est\nORDER BY l_returnflag"

  /** SQL twin of [[basketPairs]]: `lp` and `bp(part_a, part_b, n_orders)`. */
  private[graft] def basketPairsCtes: String =
    "lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),\n" +
      "bp AS (\n  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders\n  " +
      Dedup.pairsSql("lp", "l_partkey", "l_orderkey") + "\n  GROUP BY 1, 2 HAVING COUNT(*) >= 2)"

  /** The top-3 line items per supplier by price (ties by order, line) with
    * their rank `rn`, projected to `cols` and ordered by `order` — the
    * oracle of the three `window_topk*` formulations. */
  private def topkSql(cols: String, order: String): String =
    s"SELECT $cols FROM (\n" +
      "  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,\n" +
      "    ROW_NUMBER() OVER (PARTITION BY l_suppkey\n" +
      "      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn\n" +
      "  FROM lineitem)\n" +
      s"WHERE rn <= 3\nORDER BY $order"

  /** SQL twin of [[cdcWinners]] + [[cdcMerged]]: the merged dimension over
    * the ranked rows `r` that pass `keep`. */
  private def cdcSql(keep: String): String =
    s"""WITH merged AS (
       |  SELECT c_custkey AS key, c_acctbal AS bal, 0 AS src,
       |    CAST(NULL AS TIMESTAMP) AS ver, CAST(NULL AS BIGINT) AS change_id,
       |    'U' AS op
       |  FROM customer
       |  UNION ALL
       |  SELECT user_id, value, 1, CAST(ts AS TIMESTAMP), event_id,
       |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END
       |  FROM events),
       |r AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY key
       |    ORDER BY src DESC, ver DESC NULLS LAST, change_id DESC NULLS LAST) AS rn
       |  FROM merged)
       |SELECT key, bal, src = 1 AS updated, ver AS last_ver
       |FROM r WHERE $keep
       |ORDER BY key""".stripMargin

  /** The supplier nation (n1), order and customer nation (n2) joins onto
    * lineitem that the q7 and q8 oracles share. */
  private val tradeJoinsSql =
    """JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation n1 ON n1.n_nationkey = s_nationkey
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |JOIN nation n2 ON n2.n_nationkey = c_nationkey""".stripMargin

  /** DuckDB CTE mirroring [[Tables.partsupp]] verbatim (synthesized view;
    * the testdata ships no partsupp table). */
  private val partsuppCte =
    """partsupp AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |    CAST(CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR) || '|' || CAST(l_suppkey AS VARCHAR)), 1, 6)) AS BIGINT) % 1000 + 1 AS INTEGER) AS ps_availqty,
      |    CAST(CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR) || '|' || CAST(l_suppkey AS VARCHAR)), 7, 6)) AS BIGINT) % 100000 AS DOUBLE) / 100.0 AS ps_supplycost
      |  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem))""".stripMargin

  val oracle: Map[String, String] = Map(
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  $rev AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_topk" ->
      s"""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
         |  $rev AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '2000-06-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '2000-06-01 00:00:00'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin,
    "q5_join" ->
      s"""SELECT n_name, $rev AS revenue
         |FROM region
         |JOIN nation ON n_regionkey = r_regionkey
         |JOIN customer ON c_nationkey = n_nationkey
         |JOIN orders ON o_custkey = c_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,
    "q4_exists" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q16_suppcnt" ->
      """SELECT p_brand, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_type NOT LIKE 'PROMO%'
        |  AND NOT EXISTS (SELECT 1 FROM supplier
        |    WHERE s_suppkey = l_suppkey AND s_acctbal < 0)
        |GROUP BY p_brand
        |ORDER BY supplier_cnt DESC, p_brand""".stripMargin,
    "q18_bigorders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) > 250)
        |SELECT c_custkey, c_name, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        |  o_totalprice, sum_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin,
    "q10_returns" ->
      (s"""SELECT c_custkey, c_name, n_name, $rev AS revenue
         |FROM orders
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN customer ON c_custkey = o_custkey
         |JOIN nation ON n_nationkey = c_nationkey
         |WHERE l_returnflag = 'R'
         |GROUP BY c_custkey, c_name, n_name
         |ORDER BY revenue DESC, c_custkey
         |LIMIT 20""".stripMargin),
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "window_topk" -> topkSql("*", "l_suppkey, rn"),
    // the Aggregator formulation must produce the identical result set
    "window_topk_agg" -> topkSql("*", "l_suppkey, rn"),
    // the custom-exec formulation emits the rows, not the rank column
    "window_topk_heap" -> topkSql("l_suppkey, l_orderkey, l_linenumber, l_extendedprice",
      "l_suppkey, l_extendedprice DESC, l_orderkey, l_linenumber"),
    "window_running" ->
      """SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
        |FROM events
        |ORDER BY user_id, ts, event_id""".stripMargin,
    "rollup_agg" ->
      """SELECT r_name, n_name, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "cube_agg" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "part_skyline" ->
      """WITH g AS (
        |  SELECT p_brand, p_retailprice, MAX(p_size) AS gmax
        |  FROM part GROUP BY 1, 2),
        |w AS (
        |  SELECT p_brand, p_retailprice,
        |    MAX(gmax) OVER (PARTITION BY p_brand ORDER BY p_retailprice
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM g)
        |SELECT p.p_brand, p.p_partkey, p.p_retailprice, p.p_size
        |FROM part p JOIN w USING (p_brand, p_retailprice)
        |WHERE prev_max IS NULL OR prev_max <= p_size
        |ORDER BY p_brand, p_partkey""".stripMargin,
    "unpivot_stack" ->
      """SELECT p_partkey, 'brand' AS attr, p_brand AS val FROM part
        |UNION ALL
        |SELECT p_partkey, 'type', p_type FROM part
        |ORDER BY p_partkey, attr""".stripMargin,
    "setop_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "setop_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "setop_except_all" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT ALL
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "setop_intersect_all" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT ALL
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "q13_custdist" ->
      """WITH counts AS (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |SELECT c_count, COUNT(*) AS custdist
        |FROM counts
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "argmin_join" ->
      """WITH li AS (
        |  SELECT l_partkey, l_suppkey, l_extendedprice / l_quantity AS unit_price
        |  FROM lineitem),
        |best AS (
        |  SELECT l_partkey, MIN(unit_price) AS min_price FROM li GROUP BY l_partkey)
        |SELECT li.l_partkey, best.min_price, MIN(li.l_suppkey) AS best_suppkey
        |FROM li JOIN best ON li.l_partkey = best.l_partkey
        |  AND li.unit_price = best.min_price
        |GROUP BY li.l_partkey, best.min_price
        |ORDER BY li.l_partkey""".stripMargin,
    "join_asof" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY 1, 2),
        |ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
        |SELECT ev.event_id, ev.user_id, ev.ts,
        |  CAST(o.o_orderdate AS DATE) AS asof_orderdate,
        |  o.o_orderkey AS asof_orderkey
        |FROM ev ASOF LEFT JOIN o
        |  ON ev.user_id = o.o_custkey AND ev.ts >= o.o_orderdate
        |ORDER BY ev.event_id""".stripMargin,
    "join_range" ->
      """SELECT a.user_id, a.event_id AS id1, b.event_id AS id2,
        |  epoch_us(CAST(b.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP)) AS dt_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        |  AND abs(epoch_us(CAST(b.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP))) <= 600000000
        |ORDER BY a.user_id, id1, id2""".stripMargin,
    "agg_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS p50_qty,
        |  quantile_cont(l_extendedprice, 0.9) AS p90_price
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "agg_percentile_hist" ->
      s"""WITH bounds AS (
         |  SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi FROM lineitem),
         |hist AS (
         |  SELECT l_returnflag,
         |    least(CAST(floor((l_extendedprice - lo) / (hi - lo) * $HistogramBuckets) AS BIGINT),
         |          ${HistogramBuckets - 1}) AS bucket,
         |    COUNT(*) AS cnt, MIN(lo) AS lo, MIN(hi) AS hi
         |  FROM lineitem CROSS JOIN bounds
         |  GROUP BY 1, 2),
         |cum AS (
         |  SELECT l_returnflag, bucket, cnt, lo, hi,
         |    SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket
         |      ROWS UNBOUNDED PRECEDING) AS cum,
         |    SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
         |  FROM hist),
         |est AS (
         |  SELECT l_returnflag, CAST(n AS BIGINT) AS n,
         |    lo + (CAST(bucket AS DOUBLE) +
         |      (CAST(n - 1 AS DOUBLE) / 2.0 - CAST(cum - cnt AS DOUBLE)) / cnt)
         |      * ((hi - lo) / $HistogramBuckets) AS p50_hist
         |  FROM cum
         |  WHERE cum - cnt <= CAST(n - 1 AS DOUBLE) / 2.0
         |    AND CAST(n - 1 AS DOUBLE) / 2.0 < cum),
         |exact AS (
         |  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS p50_exact
         |  FROM lineitem GROUP BY 1)
         |SELECT e.l_returnflag, e.n, x.p50_exact, e.p50_hist,
         |  abs(e.p50_hist - x.p50_exact) AS abs_err
         |FROM est e JOIN exact x ON x.l_returnflag = e.l_returnflag
         |ORDER BY e.l_returnflag""".stripMargin,
    "agg_histogram" ->
      s"""WITH bounds AS (
         |  SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders)
         |SELECT o_orderpriority,
         |  least(CAST(floor((o_totalprice - lo) / (hi - lo) * $HistogramBuckets) AS BIGINT),
         |        ${HistogramBuckets - 1}) AS bucket,
         |  COUNT(*) AS n,
         |  MIN(o_totalprice) AS bucket_min,
         |  MAX(o_totalprice) AS bucket_max
         |FROM orders CROSS JOIN bounds
         |GROUP BY 1, 2
         |ORDER BY o_orderpriority, bucket""".stripMargin,
    // single-window KMV twin: the Spark side's salted two-stage bottom-k
    // yields EXACTLY the global bottom-k, so the simple formulation here
    // produces the identical h_k and estimate (integer arithmetic only)
    "agg_approx_sketch" -> kmvOrdersSql,
    // the single-pass formulation on purpose: hash-equality with the
    // Spark side's per-segment merge IS the mergeability proof
    "agg_sketch_merge" -> kmvOrdersSql,
    "pivot_type_counts" ->
      (s"WITH base AS (\n${graft.OracleViews.emailEtlSql(graft.SparkEntry.DateAdded)}\n)\n" +
        """SELECT source,
          |  COUNT(CASE WHEN type = 'ip' THEN 1 END) AS ip,
          |  COUNT(CASE WHEN type = 'hash' THEN 1 END) AS hash,
          |  COUNT(CASE WHEN type = 'url' THEN 1 END) AS url,
          |  COUNT(CASE WHEN type = 'email' THEN 1 END) AS email
          |FROM base GROUP BY source ORDER BY source""".stripMargin),
    "window_nav" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  LAG(o_totalprice, 1) OVER w AS prev_price,
        |  LEAD(o_totalprice, 1) OVER w AS next_price,
        |  FIRST_VALUE(o_totalprice) OVER w AS first_price,
        |  NTILE(4) OVER w AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "window_nth" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  NTH_VALUE(o_totalprice, 2) OVER w AS second_price,
        |  LAST_VALUE(o_totalprice) OVER w AS last_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "window_ranks" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(RANK() OVER w AS BIGINT) AS rnk,
        |  CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
        |  PERCENT_RANK() OVER w AS prnk,
        |  CUME_DIST() OVER w AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q2_mincost" ->
      (s"WITH $partsuppCte,\n" +
        """cand AS (
          |  SELECT s_acctbal, s_name, n_name, p_partkey, p_name, ps_supplycost
          |  FROM partsupp
          |  JOIN supplier ON s_suppkey = ps_suppkey
          |  JOIN nation ON n_nationkey = s_nationkey
          |  JOIN region ON r_regionkey = n_regionkey
          |  JOIN part ON p_partkey = ps_partkey
          |  WHERE r_name = 'ASIA' AND p_type = 'LARGE' AND p_size % 5 = 0),
          |best AS (
          |  SELECT p_partkey AS bk, MIN(ps_supplycost) AS min_cost
          |  FROM cand GROUP BY 1)
          |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, ps_supplycost
          |FROM cand JOIN best ON bk = p_partkey AND ps_supplycost = min_cost
          |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
          |LIMIT 100""".stripMargin),
    "q20_surplus" ->
      (s"WITH $partsuppCte,\n" +
        """shipped AS (
          |  SELECT l_partkey, l_suppkey,
          |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty_shipped
          |  FROM lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
          |    AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
          |  GROUP BY 1, 2),
          |surplus AS (
          |  SELECT DISTINCT ps_suppkey
          |  FROM partsupp
          |  JOIN part ON p_partkey = ps_partkey
          |  JOIN shipped ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
          |  WHERE p_name LIKE 'red%'
          |    AND CAST(ps_availqty AS DOUBLE) > qty_shipped * 0.5)
          |SELECT s_suppkey, s_name, n_name
          |FROM supplier
          |JOIN nation ON n_nationkey = s_nationkey
          |WHERE s_suppkey IN (SELECT ps_suppkey FROM surplus)
          |  AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
          |ORDER BY s_name""".stripMargin),
    "q12_late" ->
      """SELECT l_returnflag,
        |  COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_line_count,
        |  COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_line_count
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "join_full" ->
      """WITH cu AS (
        |  SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust FROM customer GROUP BY 1),
        |su AS (
        |  SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
        |SELECT COALESCE(cu.nationkey, su.nationkey) AS nationkey,
        |  COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
        |FROM cu FULL JOIN su ON cu.nationkey = su.nationkey
        |ORDER BY nationkey""".stripMargin,
    "window_range_frame" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
        |    RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS DOUBLE)
        |  AS trailing_30d
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "join_bloom_semi" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F')
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "window_median" ->
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |  quantile_disc(value, 0.5) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
        |FROM events
        |ORDER BY user_id, ts, event_id""".stripMargin,
    "time_features" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  CAST(month(o_orderdate) AS INTEGER) AS mo,
        |  CAST(day(o_orderdate) AS INTEGER) AS dom,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
        |  dayname(o_orderdate) AS dayname,
        |  CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    "q6_forecast" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q14_promo" ->
      s"""SELECT 100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
        |    THEN $discSql
        |    ELSE 0.00 END) AS DOUBLE) /
        |  $rev
        |  AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1998-09-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-10-01 00:00:00'""".stripMargin,
    "q15_topsupp" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey, $rev AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1998-04-01 00:00:00'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM rev JOIN supplier ON s_suppkey = l_suppkey
         |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,
    "q17_smallqty" ->
      """WITH li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23')),
        |a AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty
        |  FROM li GROUP BY l_partkey)
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
        |FROM li JOIN a USING (l_partkey)
        |WHERE l_quantity < 0.2 * avg_qty""".stripMargin,
    "q19_disjoint" ->
      s"""SELECT $rev AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q22_idle" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        |  WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)),
        |ab AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_bal
        |  FROM cust WHERE c_acctbal > 0.0)
        |SELECT c_nationkey, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
        |FROM cust, ab
        |WHERE c_acctbal > avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,
    "q7_volume" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  year(l_shipdate) AS l_year, $rev AS volume
         |FROM lineitem
         |$tradeJoinsSql
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
         |GROUP BY 1, 2, 3
         |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q8_share" ->
      s"""SELECT year(o_orderdate) AS o_year,
        |  CAST(SUM(CASE WHEN n1.n_name = 'NATION_5'
        |    THEN $discSql
        |    ELSE 0.00 END) AS DOUBLE) /
        |  $rev
        |  AS mkt_share
        |FROM lineitem
        |$tradeJoinsSql
        |JOIN part ON p_partkey = l_partkey
        |JOIN region ON r_regionkey = n2.n_regionkey
        |WHERE p_type = 'STANDARD' AND r_name = 'ASIA'
        |GROUP BY 1
        |ORDER BY o_year""".stripMargin,
    "q9_profit" ->
      s"""SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  CAST(SUM($discSql
        |    - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) * 0.10) AS DOUBLE)
        |  AS sum_profit
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |JOIN orders ON o_orderkey = l_orderkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY 1, 2
        |ORDER BY nation, o_year DESC""".stripMargin,
    "q11_important" ->
      s"""WITH pv AS (
        |  SELECT l_partkey,
        |    $rev AS part_value
        |  FROM lineitem GROUP BY l_partkey),
        |t AS (
        |  SELECT CAST(SUM(CAST(part_value AS DECIMAL(12,2))) AS DOUBLE) AS total_value FROM pv)
        |SELECT l_partkey, part_value
        |FROM pv, t
        |WHERE part_value > total_value * 0.0001
        |ORDER BY part_value DESC, l_partkey""".stripMargin,
    "q21_waiting" ->
      """WITH per_order AS (
        |  SELECT o_orderkey,
        |    COUNT(DISTINCT l_suppkey) AS n_supp,
        |    COUNT(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
        |                        THEN l_suppkey END) AS n_late,
        |    MIN(CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
        |             THEN l_suppkey END) AS late_supp
        |  FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY o_orderkey)
        |SELECT s_name, COUNT(*) AS numwait
        |FROM per_order
        |JOIN supplier ON s_suppkey = late_supp
        |WHERE n_supp > 1 AND n_late = 1
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin,
    "cdc_upsert" -> cdcSql("rn = 1"),
    "cdc_tombstone" -> cdcSql("rn = 1 AND op <> 'D'"),
    "dq_profile" ->
      """WITH w AS (
        |  SELECT COUNT(*) AS n_rows,
        |    COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS nn_orderkey,
        |    COUNT(DISTINCT o_orderkey) AS nd_orderkey,
        |    CAST(MIN(o_orderkey) AS DOUBLE) AS mn_orderkey,
        |    CAST(MAX(o_orderkey) AS DOUBLE) AS mx_orderkey,
        |    COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS nn_custkey,
        |    COUNT(DISTINCT o_custkey) AS nd_custkey,
        |    CAST(MIN(o_custkey) AS DOUBLE) AS mn_custkey,
        |    CAST(MAX(o_custkey) AS DOUBLE) AS mx_custkey,
        |    COUNT(CASE WHEN o_totalprice IS NULL THEN 1 END) AS nn_totalprice,
        |    COUNT(DISTINCT o_totalprice) AS nd_totalprice,
        |    MIN(o_totalprice) AS mn_totalprice,
        |    MAX(o_totalprice) AS mx_totalprice,
        |    COUNT(CASE WHEN o_orderstatus IS NULL THEN 1 END) AS nn_orderstatus,
        |    COUNT(DISTINCT o_orderstatus) AS nd_orderstatus,
        |    COUNT(CASE WHEN o_orderpriority IS NULL THEN 1 END) AS nn_orderpriority,
        |    COUNT(DISTINCT o_orderpriority) AS nd_orderpriority
        |  FROM orders)
        |SELECT 'o_custkey' AS "column", n_rows, nn_custkey AS n_null,
        |  nd_custkey AS n_distinct, mn_custkey AS min_d, mx_custkey AS max_d FROM w
        |UNION ALL SELECT 'o_orderkey', n_rows, nn_orderkey, nd_orderkey, mn_orderkey, mx_orderkey FROM w
        |UNION ALL SELECT 'o_orderpriority', n_rows, nn_orderpriority, nd_orderpriority, NULL, NULL FROM w
        |UNION ALL SELECT 'o_orderstatus', n_rows, nn_orderstatus, nd_orderstatus, NULL, NULL FROM w
        |UNION ALL SELECT 'o_totalprice', n_rows, nn_totalprice, nd_totalprice, mn_totalprice, mx_totalprice FROM w
        |ORDER BY "column"""".stripMargin,
    "dq_checks" ->
      """WITH rowchecks AS (
        |  SELECT COUNT(*) AS n_rows,
        |    COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END) AS null_orderkey,
        |    COUNT(CASE WHEN l_quantity <= 0 OR l_quantity > 60 THEN 1 END) AS qty_range_viol,
        |    COUNT(CASE WHEN l_discount < 0 OR l_discount > 0.2 THEN 1 END) AS disc_range_viol
        |  FROM lineitem),
        |dups AS (
        |  SELECT COUNT(*) AS dup_line_keys FROM (
        |    SELECT l_orderkey, l_linenumber FROM lineitem
        |    GROUP BY 1, 2 HAVING COUNT(*) > 1)),
        |orph AS (
        |  SELECT COUNT(*) AS orphan_lines FROM lineitem
        |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey))
        |SELECT * FROM rowchecks, dups, orph""".stripMargin,
    "dq_drift" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |m AS (SELECT MIN(us) AS mn, MAX(us) AS mx FROM e),
        |c AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN us <= (mn + mx) // 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN us >  (mn + mx) // 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM e CROSS JOIN m GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_a) AS BIGINT) AS tot_a,
        |             CAST(SUM(n_b) AS BIGINT) AS tot_b FROM c)
        |SELECT event_type, n_a, n_b,
        |  CAST(n_a * 1000000 // tot_a AS BIGINT) AS ppm_a,
        |  CAST(n_b * 1000000 // tot_b AS BIGINT) AS ppm_b,
        |  CAST(abs(n_a * 1000000 // tot_a - n_b * 1000000 // tot_b) AS BIGINT) AS drift_ppm,
        |  abs(n_a * 1000000 // tot_a - n_b * 1000000 // tot_b) > 10000 AS flagged
        |FROM c CROSS JOIN t
        |ORDER BY event_type""".stripMargin,
    "agg_exact_quantile" ->
      """WITH c AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM lineitem),
        |nn AS (SELECT flag, COUNT(*) AS n FROM c GROUP BY 1),
        |q AS (SELECT unnest([500000, 900000, 990000]) AS qppm),
        |k AS (
        |  SELECT flag, CAST(qppm AS BIGINT) AS qppm, n,
        |    (n * qppm + 999999) // 1000000 AS rank_k
        |  FROM nn CROSS JOIN q),
        |r AS (
        |  SELECT flag, cents,
        |    ROW_NUMBER() OVER (PARTITION BY flag ORDER BY cents) AS rk
        |  FROM c)
        |SELECT k.flag AS l_returnflag, k.qppm, k.n, k.rank_k,
        |  CAST(r.cents AS DOUBLE) / 100.0 AS value
        |FROM k JOIN r ON r.flag = k.flag AND r.rk = k.rank_k
        |ORDER BY l_returnflag, qppm""".stripMargin,
    "basket_pairs" ->
      (s"WITH $basketPairsCtes\n" +
        "SELECT part_a, part_b, n_orders FROM bp\nORDER BY part_a, part_b"),
    "agg_stats" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  COUNT(DISTINCT l_orderkey) AS n_orders,
        |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        |  CAST(SUM(CAST(l_tax AS DECIMAL(12,2))) AS DOUBLE) AS sum_tax
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin
  )
}
