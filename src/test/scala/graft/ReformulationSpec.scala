package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity}
import graft.sources.Tables

/** Engine-internal equivalence guards: every scale reformulation
  * (melt-based as-of, in-array bucket pairs, postings-list Jaccard) is
  * checked row-for-row against its naive Spark twin on real testdata —
  * independent of the DuckDB oracle, so a dialect quirk can't mask a
  * reformulation bug and vice versa.
  */
class ReformulationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"

  private def assertSameRows(fast: DataFrame, naive: DataFrame): Unit = {
    // counts only computed on failure — an eager assert clue would run two
    // extra full exceptAll jobs on every passing call
    val fn = fast.exceptAll(naive).count()
    val nf = if (fn == 0) naive.exceptAll(fast).count() else -1L
    if (fn != 0 || nf != 0)
      fail(s"row mismatch: fast-minus-naive=$fn, naive-minus-fast=$nf")
  }

  test("melt as-of equals join + per-event top-1 window") {
    val melt = SparkEntry.queries("join_asof")(spark, d)
    val ev = Tables.events(spark, d).select(col("event_id"), col("user_id"), col("ts"))
    val or = Tables.orders(spark, d)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_id")).orderBy(col("o_orderdate").desc)
    val naive = ev
      .join(or, col("user_id") === col("o_custkey") && col("o_orderdate") <= col("ts"), "left")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"), col("ts"),
        to_date(col("o_orderdate")).as("asof_orderdate"),
        col("o_orderkey").as("asof_orderkey"))
    assertSameRows(melt, naive)
  }

  test("minhash in-array bucket pairs equal the banded self-join") {
    val fast = Dedup.queries("dedup_minhash_lsh")(spark, d)
    val sh = OperatorsSpec.shingleRows(Tables.documents(spark, d))
    val sig = sh.groupBy(col("doc_id")).agg(
      min(Dedup.mhash(0, Dedup.mhashH1(col("shingle")), Dedup.mhashH2(col("shingle")))).as("m0"),
      (1 until Dedup.K).map(j =>
        min(Dedup.mhash(j, Dedup.mhashH1(col("shingle")), Dedup.mhashH2(col("shingle")))).as(s"m$j")): _*)
    val banded = sig.select(col("doc_id"),
      posexplode(array((0 until Dedup.Bands).map(b =>
        md5(concat_ws("|", (0 until Dedup.Rows).map(r =>
          col(s"m${b * Dedup.Rows + r}").cast("string")): _*))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
    val a = banded.select(col("band"), col("band_hash"), col("doc_id").as("id1"))
    val b = banded.select(col("band"), col("band_hash"), col("doc_id").as("id2"))
    val naive = a.join(b, Seq("band", "band_hash")).filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
    assertSameRows(fast, naive)
  }

  test("bucket pairs: the index-explode kernel equals the nested transform on 0..70-member arrays") {
    // sorted distinct ids, bucket b drawing from [b·1000, b·1000+1000) so a
    // pair names its bucket; sizes cover the empty and singleton guards and
    // both sides of MaxBucketSize (64)
    val rnd = new scala.util.Random(12)
    val sizes = Seq(0, 1, 2, 3, 63, 64, 65, 70) ++ Seq.fill(40)(rnd.nextInt(71))
    val arrays = sizes.zipWithIndex.map { case (m, b) =>
      rnd.shuffle((0 until 1000).toList).take(m).sorted.map(i => b * 1000L + i)
    }
    import spark.implicits._
    def check(buckets: DataFrame): Unit = {
      val fast = Dedup.memberPairs(buckets)
      val nested = buckets.select(explode(flatten(transform(col("ms"), (x, i) =>
          transform(slice(col("ms"), i + lit(2), size(col("ms"))),
            y => struct(x.as("x"), y.as("y")))))).as("p"))
        .select(col("p.x").as("x"), col("p.y").as("y"))
      assert(fast.count() == sizes.map(m => m.toLong * (m - 1) / 2).sum)
      assertSameRows(fast, nested)
    }
    // Long ids (the LSH buckets and co-purchase parts)
    check(arrays.toDF("ms"))
    // (doc_id, ph) struct members, the phash buckets' shape
    check(arrays.map(_.map(id => (id, id * 2654435761L))).toDF("ms")
      .select(transform(col("ms"), m => struct(m("_1").as("doc_id"), m("_2").as("ph"))).as("ms")))
    // string members, the campaign IOCs' shape (zero-padded, so sorted)
    check(arrays.map(_.map(id => f"ioc-$id%08d")).toDF("ms"))
  }

  test("postings-list Jaccard equals the inverted-index self-join") {
    val fast = Dedup.queries("dedup_ngram_jaccard")(spark, d)
    val dfw = org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))
    val all = OperatorsSpec.shingleRows(Tables.documents(spark, d))
    val sizes = all.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val capped = all.withColumn("df", count(lit(1)).over(dfw))
      .filter(col("df") <= Dedup.MaxShingleDf).drop("df")
    val withSz = capped.join(sizes, Seq("doc_id"))
    val a = withSz.select(col("doc_id").as("id1"), col("sz").as("sz1"), col("shingle"))
    val b = withSz.select(col("doc_id").as("id2"), col("sz").as("sz2"), col("shingle"))
    val naive = a.join(b, Seq("shingle")).filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"), col("sz1"), col("sz2"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")))
      .filter(col("jaccard") >= Dedup.JaccardThreshold)
      .select(col("id1"), col("id2"), col("jaccard"))
    assertSameRows(fast, naive)
  }

  test("IVF 2-probe top-k: exact cosines and a quantified recall floor vs brute force") {
    val ann = Similarity.queries("sim_cosine_topk")(spark, d)
      .select(col("qid"), col("nid"))
    val e = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"), Similarity.normSq(col("embedding")).as("nsq"))
    val a = e.select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nsq").as("qn"))
    val b = e.select(col("vec_id").as("nid"), col("embedding").as("ne"), col("nsq").as("nn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cosine").desc, col("nid"))
    val bruteTop = a.crossJoin(b).filter(col("qid") =!= col("nid"))
      .withColumn("cosine", Similarity.dot(col("qe"), col("ne")) / sqrt(col("qn") * col("nn")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= Similarity.TopK)
      .select(col("qid"), col("nid"))
    val nTrue = bruteTop.count()
    val hit = ann.intersect(bruteTop).count()
    val recall = hit.toDouble / nTrue
    // 2 probes of ~8 cells scan ~25% of the corpus; on these random-ish
    // embeddings that bounds expected recall — the floor documents the
    // ANN trade quantitatively rather than hand-waving it
    assert(recall >= 0.15, s"IVF top-k recall collapsed: $recall ($hit/$nTrue)")
  }

  test("simhash banded pairs equal brute-force Hamming pairs (pigeonhole exactness)") {
    val fast = Dedup.queries("dedup_simhash")(spark, d)
    // independent fingerprint: the interpreted aggregate()-fold bit-string
    // simhash, converted to the integer form — cross-checks the 60-aggregate
    // integer formulation AND the banding in one shot
    val fp = Tables.documents(spark, d).select(col("doc_id"),
      conv(OperatorsSpec.simhash(
        graft.functions.TextStats.tokens(col("text"))), 2, 10).cast("long").as("sh"))
    val a = fp.select(col("doc_id").as("id1"), col("sh").as("sh1"))
    val b = fp.select(col("doc_id").as("id2"), col("sh").as("sh2"))
    val naive = a.crossJoin(b).filter(col("id1") < col("id2"))
      .withColumn("hamming",
        bit_count(col("sh1").bitwiseXOR(col("sh2"))).cast("long"))
      .filter(col("hamming") <= Dedup.MaxHamming)
      .select(col("id1"), col("id2"), col("hamming"))
    // banding at radius MaxHamming < SimhashBands is EXACT, so equality,
    // not subset
    assertSameRows(fast, naive)
  }

  test("dedup_clusters labels match a driver-side union-find over the same pairs") {
    val fast = Dedup.queries("dedup_clusters")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.minhashPairs(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (x, y) =>
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
    }
    val expected = parent.keys.toSeq.map(n => n -> find(n)).toMap
    assert(fast == expected, s"cluster labels diverge from union-find")
  }

  test("PQ ADC distance equals the exact distance to the code-reconstructed vector") {
    val d01 = "/root/testdata/sf0.01" // sf0.001 has a single seed → degenerate codebook
    val adc = Similarity.queries("sim_pq_adc")(spark, d01)
      .select(col("qid"), col("nid"), col("adc_dist"))
    // independent path: decode each vector's codes back to centroid
    // subvectors, concatenate them in subspace order, and take the FULL
    // 64-dim squared distance query→reconstruction — definitionally what
    // ADC's per-subspace LUT sum computes
    val seeds = Similarity.pqSeeds(spark, d01)
    val recon = Similarity.pqCodes(spark, d01).join(seeds, Seq("sid"))
      .select(col("vec_id"), col("m"), Similarity.pqSlice(col("se"), col("m")).as("cs"))
      .groupBy(col("vec_id"))
      .agg(flatten(transform(array_sort(collect_list(struct(col("m"), col("cs")))),
        x => x("cs"))).as("rv"))
    val q = Tables.embeddings(spark, d01)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val expect = adc.select(col("qid"), col("nid"))
      .join(q, Seq("qid"))
      .join(recon.withColumnRenamed("vec_id", "nid"), Seq("nid"))
      .select(col("qid"), col("nid"),
        aggregate(zip_with(col("qe"), col("rv"), (x, y) => {
          val dd = x.cast("double") - y.cast("double"); dd * dd
        }), lit(0.0), (a, v) => a + v).as("full_dist"))
    val joined = adc.join(expect, Seq("qid", "nid")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (a, f) = (r.getAs[Double]("adc_dist"), r.getAs[Double]("full_dist"))
      // per-subspace partial sums vs one flat fold: same value up to
      // re-association rounding
      assert(math.abs(a - f) <= 1e-9 * math.max(1.0, math.abs(f)),
        s"ADC ${a} != reconstruction distance ${f} for (${r.get(0)}, ${r.get(1)})")
    }
  }

  test("array-land PQ encode is row-identical to the window-argmin formulation") {
    val d01 = "/root/testdata/sf0.01" // multi-seed codebook, like the ADC test
    // the retired formulation: n·M·K cross-join rows through a
    // row_number window ordered (dist, sid) — kept here as the
    // equivalence oracle for the shipped array-land fold
    val wmin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"), col("m")).orderBy(col("dist"), col("sid"))
    val windowed = Similarity.pqSubDists(spark, d01)
      .withColumn("rn", row_number().over(wmin)).filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("sid"))
    val fast = Similarity.pqCodes(spark, d01)
    assert(fast.exceptAll(windowed).isEmpty && windowed.exceptAll(fast).isEmpty,
      "array-land PQ codes diverge from the window argmin")
  }

  test("scalar quantization: codes in [0,255], per-vector error within the analytic bound") {
    val rows = Similarity.queries("sim_sq_int8")(spark, d).collect()
    assert(rows.nonEmpty)
    // worst per-dim |error| for this (floor-on-255, dequant-on-256) grid is
    // (k+128.5)/65280·range at k=255 ≈ range/170; use range/128 headroom
    val stats = Tables.embeddings(spark, d)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("dim")).agg((max(col("x")) - min(col("x"))).as("range"))
      .collect().map(r => math.pow(r.getAs[Float]("range") / 128.0, 2)).sum
    rows.foreach { r =>
      val codes = r.getAs[String]("codes").split(",").map(_.toInt)
      assert(codes.length == 64 && codes.forall(c => c >= 0 && c <= 255))
      val err = r.getAs[Double]("sq_err")
      assert(err >= 0 && err <= stats,
        s"vec ${r.get(0)}: sq_err $err exceeds analytic bound $stats")
    }
  }

  test("cdc_upsert melt equals the pre-agg + full-outer-join formulation") {
    val melt = SparkEntry.queries("cdc_upsert")(spark, d)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val latest = Tables.events(spark, d)
      .select(col("user_id"), col("value"), col("ts"), col("event_id"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val naive = Tables.customer(spark, d)
      .select(col("c_custkey"), col("c_acctbal"))
      .join(latest, col("c_custkey") === col("user_id"), "full")
      .select(
        coalesce(col("c_custkey"), col("user_id")).as("key"),
        coalesce(col("value"), col("c_acctbal")).as("bal"),
        col("user_id").isNotNull.as("updated"),
        col("ts").as("last_ver"))
    assertSameRows(melt, naive)
  }

  test("q21 single-aggregation equals the EXISTS / NOT-EXISTS double self-join") {
    val fast = SparkEntry.queries("q21_waiting")(spark, d)
    val lo = Tables.lineitem(spark, d)
      .join(Tables.orders(spark, d).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("late"))
    val mine = lo.filter(col("late")).select(col("ok"), col("sk")).distinct()
    val othersAny = lo.select(col("ok").as("ok2"), col("sk").as("sk2"))
    val othersLate = lo.filter(col("late"))
      .select(col("ok").as("ok3"), col("sk").as("sk3"))
    val naive = mine
      .join(othersAny, col("ok") === col("ok2") && col("sk") =!= col("sk2"), "left_semi")
      .join(othersLate, col("ok") === col("ok3") && col("sk") =!= col("sk3"), "left_anti")
      .groupBy(col("sk")).agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(spark, d)), col("sk") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
    assertSameRows(fast, naive)
  }

  test("IVF-bucketed embedding dedup is a subset of brute-force pairs, with exact cosines") {
    val fast = Dedup.queries("dedup_embedding_cosine")(spark, d)
    val e = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"), Similarity.normSq(col("embedding")).as("nsq"))
    val a = e.select(col("vec_id").as("id1"), col("embedding").as("e1"), col("nsq").as("n1"))
    val b = e.select(col("vec_id").as("id2"), col("embedding").as("e2"), col("nsq").as("n2"))
    val brute = a.crossJoin(b).filter(col("id1") < col("id2"))
      .withColumn("cosine", Similarity.dot(col("e1"), col("e2")) / sqrt(col("n1") * col("n2")))
      .filter(col("cosine") >= 0.3)
      .select(col("id1"), col("id2"), col("cosine"))
    // every emitted pair is a TRUE near-dup pair with the exact cosine
    assert(fast.exceptAll(brute).isEmpty)
    // and the cell restriction retains a usable share of the exact result
    val (nFast, nBrute) = (fast.count(), brute.count())
    assert(nFast > 0 && nFast * 10 >= nBrute,
      s"IVF recall collapsed: $nFast of $nBrute brute-force pairs")
  }

  test("bloom decontamination candidates are a superset of exact overlaps") {
    val exact = SparkEntry.queries("text_contamination")(spark, d)
    val bloom = SparkEntry.queries("text_contamination_bloom")(spark, d)
    // a bloom filter has false positives but NEVER false negatives: every
    // exactly-contaminated doc must surface with at least its exact count
    val missed = exact
      .join(bloom, Seq("doc_id"), "left")
      .filter(col("n_bloom").isNull || col("n_bloom") < col("n_overlap"))
    assert(missed.isEmpty,
      s"bloom false negative(s): ${missed.collect().mkString(", ")}")
  }

  test("mixture thresholds equal a driver-side integer-rational recomputation") {
    val fast = SparkEntry.queries("sample_mixture")(spark, d)
    val sized = Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), size(split(col("text"), " ")).cast("long").as("n_toks"))
    val langToks = sized.groupBy(col("lang")).agg(sum(col("n_toks")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = langToks.values.sum / 2
    def share(l: String) = l match { case "en" => 500000L; case "es" => 300000L; case _ => 200000L }
    val thresholds = langToks.map { case (l, t) => l -> math.min(1000000L, b * share(l) / t) }
    val got = fast.select(col("lang"), col("threshold_ppm"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == thresholds.filter { case (l, _) => got.contains(l) },
      s"thresholds diverged: got $got want $thresholds")
    // and the kept counts match a naive literal-map reformulation
    val lits = coalesce(thresholds.map { case (l, t) => when(col("lang") === l, t) }.toSeq: _*)
    val naive = sized
      .filter(graft.operators.Sampling.hashBucket(col("doc_id"), 1000000) < lits)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_toks")).as("kept_tokens"))
    assertSameRows(fast.select(col("lang"), col("n_kept"), col("kept_tokens")), naive)
  }

  test("incremental merge is segmentation-invariant: 2, 4, or 16 segments ≡ recompute") {
    // the agg_incremental contract generalized: partial aggregates merged
    // over ANY segmentation equal the single-pass recompute — this is what
    // makes daily/hourly/backfill refresh schedules interchangeable
    val e = Tables.events(spark, d)
      .select(col("event_type"), col("event_id"), col("value"))
    val direct = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
    for (segments <- Seq(2, 4, 16)) {
      val merged = e.withColumn("seg", col("event_id") % segments)
        .groupBy(col("event_type"), col("seg"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(12,2)")).as("sv"))
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("n_events"),
          sum(col("sv")).cast("double").as("sum_value"))
      assertSameRows(merged, direct)
    }
  }

  test("docs_shuffle emits a contiguous per-shard permutation of the whole corpus") {
    val out = SparkEntry.queries("docs_shuffle")(spark, d)
    val nDocs = Tables.documents(spark, d).count()
    assert(out.count() == nDocs)
    assert(out.select(col("doc_id")).distinct().count() == nDocs)
    val perShard = out.groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), min(col("pos")).as("lo"), max(col("pos")).as("hi"),
        countDistinct(col("pos")).as("nd"))
      .filter(col("lo") =!= 1 || col("hi") =!= col("n") || col("nd") =!= col("n"))
    assert(perShard.isEmpty, s"non-contiguous shard positions: ${perShard.collect().mkString}")
  }

  test("full SQL text over registered views equals the DataFrame API (TPC-H q3)") {
    for (t <- Seq("customer", "orders", "lineitem"))
      Tables.table(spark, d, t).createOrReplaceTempView(t)
    val viaSql = spark.sql(
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1.00 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '2000-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '2000-06-01 00:00:00'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin).collect().toSeq
    val viaApi = SparkEntry.queries("q3_topk")(spark, d).collect().toSeq
    assert(viaSql == viaApi, "SQL text and DataFrame API diverged on q3")
  }
}
