package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Multimodal, Similarity}
import graft.functions.TextStats
import OperatorsSpec._

/** The interpreted array-HOF reference formulations the production paths
  * are checked against: the engine computes each of them a faster way
  * (scan-fused n-gram explodes, codegen min/bit-sum aggregations), and
  * these specs assert the two agree. */
object OperatorsSpec {

  /** Word 3-gram shingles, distinct, from a token array column. Inclusive
    * slice: tokens i..i+2 for i in 1..n-2 (Spark slice is 1-based like
    * DuckDB's). */
  def shingles(toks: Column): Column =
    // guard: Spark sequence(1, n) DESCENDS when n < 1 (unlike DuckDB range,
    // which is empty) — short docs must yield an empty shingle set.
    when(size(toks) >= 3,
      array_distinct(
        transform(sequence(lit(1), size(toks) - 2),
          i => concat_ws(" ", slice(toks, i, lit(3))))))
      .otherwise(array().cast("array<string>"))

  /** Distinct (doc_id, shingle) rows over the production occurrence path
    * ([[Dedup.shingleOccurrences]]) — what the memoized
    * `Dedup.shingleRowsIdx` holds, without its `sz` column. */
  def shingleRows(docs: DataFrame): DataFrame =
    Dedup.shingleOccurrences(docs).distinct()

  /** MinHash signature: K minima of the family over a shingle array. */
  def minhashSig(sh: Column, k: Int): Column =
    array((0 until k).map(j =>
      array_min(transform(sh, x => Dedup.mhash(j, Dedup.mhashH1(x), Dedup.mhashH2(x))))): _*)

  /** 60-bit token hash as a zero-padded binary string (md5-derived so both
    * engines agree bit-for-bit). */
  private def tokenBits(t: Column): Column =
    lpad(bin(conv(substring(md5(t), 1, 15), 16, 10).cast("long")), 60, "0")

  /** SimHash: per bit position, sum +1/-1 over tokens by that token-hash bit,
    * emit '1' where the sum is positive — returned as a 60-char bit string.
    * `transform` hashes each token ONCE into its bit string (inside the
    * fold lambda md5 would run per token × bit, a 60× blowup: 53 s → 2 s
    * at sf0.1); an aggregate() fold then carries 60 counters across the
    * precomputed bit strings. */
  def simhash(toks: Column): Column = {
    val folded = aggregate(
      transform(toks, tokenBits _),
      array_repeat(lit(0L), 60),
      (acc, bits) =>
        zip_with(acc, sequence(lit(1), lit(60)),
          (a, p) => a + when(bits.substr(p, lit(1)) === "1", 1L).otherwise(-1L)))
    concat_ws("", transform(folded, v => when(v > 0, "1").otherwise("0")))
  }
}

/** Sanity specs for the extension operators (the oracle gate covers full
  * results; these pin structural invariants and edge cases).
  */
class OperatorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("shingles: 3-grams, distinct, empty for short docs") {
    val df = Seq("w1 w2 w3 w4", "tiny doc", "a b c a b c a b c")
      .toDF("text")
      .select(shingles(TextStats.tokens(col("text"))).as("s"))
    val rows = df.collect().map(_.getSeq[String](0))
    assert(rows(0) == Seq("w1 w2 w3", "w2 w3 w4"))
    assert(rows(1) == Seq.empty)                       // <3 tokens
    assert(rows(2).sorted == Seq("a b c", "b c a", "c a b")) // distinct
  }

  test("shingleRows (codegen window path) equals explode of the shingle HOF") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val fast = shingleRows(docs)
    val slow = docs.select(col("doc_id"),
      explode(shingles(TextStats.tokens(col("text")))).as("shingle"))
    assert(fast.except(slow).count() == 0 && slow.except(fast).count() == 0)
  }

  test("simhashFp lpad(bin) rendering equals the per-row HOF simhash string") {
    // the memoized integer fingerprint (codegen 60-bit-sum agg) rendered
    // as a bit string must equal the per-row aggregate-fold formulation —
    // the identity every fingerprint consumer (index, export, health
    // check, streaming gate) relies on
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, d)
    val fast = graft.operators.Dedup.simhashFp(spark, d)
      .select(col("doc_id"), lpad(bin(col("sh")), 60, "0").as("s60"))
    val slow = docs.select(col("doc_id"),
      simhash(TextStats.tokens(col("text"))).as("s60"))
    assert(fast.except(slow).count() == 0 && slow.except(fast).count() == 0)
  }

  test("shingleOccurrencesN(5) equals the 5-gram HOF slice formulation") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val fast = graft.operators.Corpus.shingleOccurrencesN(docs, 5).distinct()
    val toks = TextStats.tokens(col("text"))
    val hof = when(size(toks) >= 5,
      array_distinct(transform(sequence(lit(1), size(toks) - 4),
        i => concat_ws(" ", slice(toks, i, lit(5))))))
      .otherwise(array().cast("array<string>"))
    val slow = docs.select(col("doc_id"), explode(hof).as("shingle"))
    assert(fast.except(slow).count() == 0 && slow.except(fast).count() == 0)
  }

  test("corpus_report agrees with dedup_keep and text_quality per language") {
    val d = "/root/testdata/sf0.001"
    val report = graft.operators.Corpus.queries("corpus_report")(spark, d)
      .select("lang", "n_dedup_survivors", "n_quality_keep")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val keep = Dedup.queries("dedup_keep")(spark, d)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap // lang -> n_kept
    val quality = TextStats.queries("text_quality")(spark, d)
      .join(graft.sources.Tables.documents(spark, d).select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang")).agg(count(when(col("keep"), true)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((lang, (surv, qual)) <- report) {
      assert(keep(lang) == surv, s"$lang: report survivors $surv != dedup_keep ${keep(lang)}")
      assert(quality(lang) == qual, s"$lang: report quality-keep $qual != text_quality ${quality(lang)}")
    }
  }

  test("docs_pack conserves documents and tokens within every shard") {
    val d = "/root/testdata/sf0.001"
    val packed = graft.operators.Corpus.queries("docs_pack")(spark, d)
    val perShard = packed.groupBy(col("lang"), col("shard"))
      .agg(sum(col("n_docs")).as("docs"), sum(col("bin_tokens")).as("toks"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val truth = graft.sources.Tables.documents(spark, d)
      .groupBy(col("lang"), (col("doc_id") % graft.operators.Corpus.PackShards).as("shard"))
      .agg(count(lit(1)).as("docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("toks"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(perShard == truth, "packing lost or invented documents/tokens")
  }

  test("minhash signature: K entries, in the linear family's value range") {
    val sig = Seq("x y z w").toDF("text")
      .select(minhashSig(shingles(TextStats.tokens(col("text"))), Dedup.K).as("m"))
      .head().getSeq[Long](0)
    assert(sig.size == Dedup.K && sig.forall(v => v >= 0L && v < (1L << 32)))
  }

  test("identical docs collide in every MinHash band; disjoint docs in none") {
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "one two three four")).toDF("doc_id", "text")
    val sig = docs.select(col("doc_id"),
      minhashSig(shingles(TextStats.tokens(col("text"))), Dedup.K).as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
  }

  test("simhash: 60-bit string, equal for equal docs, differs for different") {
    val out = Seq("spark joins data", "spark joins data", "completely other words here")
      .toDF("text").select(simhash(TextStats.tokens(col("text"))).as("s"))
      .collect().map(_.getString(0))
    assert(out(0).length == 60 && out(0).forall(c => c == '0' || c == '1'))
    assert(out(0) == out(1) && out(0) != out(2))
  }

  test("dot/normSq: exact on known vectors; cosine of parallel vectors = 1") {
    val df = Seq((Seq(1.0f, 2.0f, 2.0f), Seq(2.0f, 4.0f, 4.0f))).toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b")).as("d"),
        Similarity.normSq(col("a")).as("na"), Similarity.normSq(col("b")).as("nb"))
    val r = df.head()
    assert(r.getDouble(0) == 18.0 && r.getDouble(1) == 9.0 && r.getDouble(2) == 36.0)
    assert(r.getDouble(0) / math.sqrt(r.getDouble(1) * r.getDouble(2)) == 1.0)
  }

  test("array_l2 codegen expression equals the HOF fold, exact on known vectors") {
    import graft.functions.VectorExprs
    // each codegen fold next to the HOF it replaces: (x, y) => term
    val folds = Seq[(String, (Column, Column) => Column, (Column, Column) => Column)](
      ("array_l2", VectorExprs.array_l2, (x, y) => {
        val dd = x.cast("double") - y.cast("double"); dd * dd }),
      ("array_dot", VectorExprs.array_dot, (x, y) => x.cast("double") * y.cast("double")))
    def hof(t: (Column, Column) => Column): Column =
      aggregate(zip_with(col("a"), col("b"), t), lit(0.0), (acc, v) => acc + v)
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(3.0f, 1.0f, 3.0f))).toDF("a", "b")
    // corpus-wide bit-equality on real embeddings
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .limit(200).select(col("embedding").as("a"),
        reverse(col("embedding")).as("b"))
    for (((name, fast, t), want) <- folds.zip(Seq(5.0, 14.0))) {
      val r = df.select(fast(col("a"), col("b")).as("fast"), hof(t).as("ref")).head()
      assert(r.getDouble(0) == want && r.getDouble(1) == want, name)
      val diff = e.select(fast(col("a"), col("b")).as("fast"), hof(t).as("ref"))
        .filter(col("fast") =!= col("ref")).count()
      assert(diff == 0, name)
    }
  }

  test("srp bucket literal-matrix fast path equals the md5-expression formulation") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val diff = e.select(
      Similarity.srpBucket(col("embedding")).as("fast"),
      Similarity.srpBucketExpr(col("embedding")).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(diff == 0)
  }

  test("srp bucket: fixed width, deterministic, parallel vectors share a bucket") {
    val df = Seq(Seq.fill(8)(0.5f), Seq.fill(8)(0.25f), Seq.fill(8)(-0.5f))
      .toDF("embedding").select(Similarity.srpBucket(col("embedding")).as("b"))
    val b = df.collect().map(_.getString(0))
    assert(b.forall(_.length == Similarity.Hyperplanes))
    assert(b(0) == b(1))           // same direction → same signs
    assert(b(0) != b(2))           // opposite direction → complement
  }

  test("lsh multiprobe list: own bucket at lvl 0 plus exactly H one-bit flips") {
    val d = "/root/testdata/sf0.001"
    val own = Similarity.lshProbes(spark, d).filter(col("lvl") === 0)
      .select(col("qid"), col("pbucket").as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val flips = Similarity.lshProbes(spark, d).filter(col("lvl") === 1)
      .collect().map(r => r.getLong(0) -> r.getString(2))
    // one flip probe per hyperplane per query, each at Hamming distance
    // exactly 1 from the query's own bucket, all H of them distinct
    assert(flips.length == own.size * Similarity.Hyperplanes)
    flips.foreach { case (qid, p) =>
      val b = own(qid)
      assert(p.length == b.length &&
        p.zip(b).count { case (x, y) => x != y } == 1,
        s"probe $p is not a one-bit flip of $b")
    }
    assert(flips.groupBy(_._1).values.forall(g => g.map(_._2).distinct.length == g.length))
  }

  test("lsh recall gate: multiprobe recall dominates own-bucket recall") {
    val d = "/root/testdata/sf0.001"
    val rows = Similarity.queries("sim_lsh_recall")(spark, d).collect()
    assert(rows.length == Similarity.RecallQueries)
    // candidate sets are nested (own ⊆ own+flips), so recall is monotone
    // in probes — the property the multiprobe knob exists to buy
    rows.foreach { r =>
      assert(r.getAs[Double]("recall_mp") >= r.getAs[Double]("recall_own"))
    }
  }

  test("sim_incremental: verdict for every arrival, dup_of always an old vector") {
    val d = "/root/testdata/sf0.001"
    val rows = Similarity.queries("sim_incremental")(spark, d).collect()
    val nNew = graft.sources.Tables.embeddings(spark, d)
      .filter(col("vec_id") % 10 === 0).count()
    assert(rows.length == nNew)                    // admitted rows surface too
    rows.foreach { r =>
      val dup = Option(r.get(1)).map(_.asInstanceOf[Long])
      assert(r.getBoolean(2) == dup.isEmpty)       // admitted ⇔ no duplicate
      dup.foreach(o => assert(o % 10 != 0,         // new×old only, never new×new
        s"dup_of $o is itself an arrival — the index admitted a new vector"))
    }
  }

  test("sim_incremental rejections are justified: cosine(vec, dup_of) clears tau") {
    val d = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dp / math.sqrt(na * nb)
    }
    val rejected = Similarity.queries("sim_incremental")(spark, d)
      .filter(!col("admitted")).collect()
    rejected.foreach { r =>
      val (v, o) = (r.getLong(0), r.getLong(1))
      val c = cos(emb(v), emb(o))
      // the engine compares on floor(cosine·1e6); one ppm of slack keeps
      // this independent re-computation from flipping on the last ulp
      assert(c >= Similarity.IncrementalSimTau - 1e-6,
        s"vector $v rejected for $o but cosine is only $c")
    }
  }

  test("sim_index_agreement: overlap bounded by both lists, lists bounded by k") {
    val d = "/root/testdata/sf0.001"
    val rows = Similarity.queries("sim_index_agreement")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nIvf, nLsh, nCommon) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nIvf <= Similarity.TopK && nLsh <= Similarity.TopK)
      assert(nCommon <= math.min(nIvf, nLsh),
        s"qid ${r.getLong(0)}: overlap $nCommon exceeds a side ($nIvf, $nLsh)")
      assert(r.getLong(4) == nCommon * 1000000L / Similarity.TopK)
    }
  }

  test("graph_cc labels: both endpoints of every edge share a component") {
    // every label family is one componentLabels build over its pair
    // graph: co-purchase (graph_cc), IOC co-sighting (campaigns) and
    // media near-dups (phash clusters), long and string nodes
    val d = "/root/testdata/sf0.001"
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect().map(r => (r.get(0), r.get(1)))
    // Spark's `min` order: numeric for longs, UTF-8 bytes for strings
    val order = Ordering.fromLessThan[Any] {
      case (x: String, y: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
      case (x: Long, y: Long) => x < y
      case (x, y) => fail(s"mixed node types $x / $y")
    }
    val families = Seq(
      "graph_cc" -> (graft.operators.Graph.queries("graph_cc")(spark, d),
        graft.operators.Graph.edges(spark, d)),
      "campaign" -> (graft.operators.Threat.campaignLabels(spark, d),
        graft.operators.Threat.campaignPairs(spark, d)),
      "phash" -> (Multimodal.phashClusterLabels(spark, d),
        Multimodal.queries("binary_phash")(spark, d)))
    families.foreach { case (name, (labels, edges)) =>
      val lbl = pairs(labels).toMap
      val es = pairs(edges)
      assert(es.nonEmpty, s"$name: no edges")
      assert(lbl.keySet == es.flatMap(e => Seq(e._1, e._2)).toSet,
        s"$name: labeled nodes are not the edge endpoints")
      es.foreach { case (a, b) =>
        assert(lbl(a) == lbl(b), s"$name: edge ($a,$b) spans components ${lbl(a)}/${lbl(b)}")
      }
      // the label IS the component's minimum member
      lbl.groupBy(_._2).foreach { case (c, m) =>
        assert(m.keys.min(order) == c, s"$name: component $c has a smaller member")
      }
    }
  }

  test("simhash fast path (explode+agg query) equals the aggregate() fold") {
    val d = "/root/testdata/sf0.001"
    val fast = TextStats.queries("text_fingerprint")(spark, d)
      .select(col("doc_id"), col("simhash60"))
    val slow = graft.sources.Tables.documents(spark, d)
      .select(col("doc_id"), simhash(TextStats.tokens(col("text"))).as("simhash60"))
    assert(fast.except(slow).count() == 0 && slow.except(fast).count() == 0)
  }

  test("agg_approx_sketch: KMV estimate bounded against the exact distinct count") {
    // The KMV (bottom-k minimum values) estimator is deterministic and
    // oracle-expressible — the DuckDB twin replays the same md5 bottom-k —
    // so the hash gate proves cross-engine EQUALITY. This test proves the
    // estimate is also a GOOD one: k=256 gives rsd ≈ 1/√(k-2) ≈ 6.3%, so
    // the estimate must land within 3×rsd (~19%) of the exact distinct
    // count, and must be EXACT for groups with fewer than k members.
    val d = "/root/testdata/sf0.001"
    val approx = operators.Relational.queries("agg_approx_sketch")(spark, d)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = operators.Relational.queries("agg_stats")(spark, d)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (flag, est) =>
      val ex = exact(flag)
      if (ex < 256) assert(est == ex, s"$flag: sub-k group must be exact")
      else assert(math.abs(est - ex).toDouble / ex <= 0.19,
        s"$flag: KMV estimate $est vs exact $ex")
    }
  }

  test("sim_recall: one row per sampled query, recall = n_hits/k, bounded") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("sim_recall")(spark, d).collect()
    assert(rows.length == graft.operators.Similarity.RecallQueries)
    rows.foreach { r =>
      val hits = r.getAs[Long]("n_hits")
      assert(hits >= 0 && hits <= graft.operators.Similarity.TopK)
      assert(r.getAs[Double]("recall") ==
        hits.toDouble / graft.operators.Similarity.TopK)
    }
    // the measurement must carry signal at test scale: not all queries
    // perfect (otherwise the probe restriction isn't being exercised)
    assert(rows.exists(_.getAs[Long]("n_hits") < graft.operators.Similarity.TopK))
  }

  test("sample_temperature: tail languages up-weighted, thresholds and weights bounded") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("sample_temperature")(spark, d).collect()
    assert(rows.nonEmpty)
    val byToks = rows.sortBy(_.getAs[Long]("lang_toks"))
    // α=1/2 smoothing: the smallest language must keep at a rate ≥ the largest
    assert(byToks.head.getAs[Long]("threshold_ppm") >=
      byToks.last.getAs[Long]("threshold_ppm"),
      s"temperature failed to up-weight the tail: ${byToks.mkString(", ")}")
    rows.foreach { r =>
      val t = r.getAs[Long]("threshold_ppm")
      assert(t > 0 && t <= 1000000L)
    }
    // weights are a (floored) probability vector over ppm space
    val wsum = rows.map(_.getAs[Long]("weight_ppm")).sum
    assert(wsum > 900000L && wsum <= 1000000L, s"weight_ppm sum $wsum")
  }

  test("sample_quality: thresholds equal text_quality's score; sampling really thins") {
    val d = "/root/testdata/sf0.001"
    val kept = SparkEntry.queries("sample_quality")(spark, d)
    val tq = SparkEntry.queries("text_quality")(spark, d)
      .select(col("doc_id"), col("quality"))
    val divergent = kept.join(tq, "doc_id")
      .filter(col("keep_ppm") =!= floor(col("quality") * 1000000).cast("long"))
    assert(divergent.count() == 0,
      "sample_quality's threshold must be the SHARED quality formula")
    val total = graft.sources.Tables.documents(spark, d).count()
    val k = kept.count()
    assert(k > 0 && k < total, s"rejection sampling degenerate: $k of $total")
  }

  test("text_repetition agrees with text_stats: n_2grams = n_tokens - 1") {
    val d = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val rep = SparkEntry.queries("text_repetition")(spark, d)
      .select(col("doc_id"), col("n_2grams"))
    val st = SparkEntry.queries("text_stats")(spark, d)
      .select(col("doc_id"), col("n_tokens"))
    val joined = rep.join(st, "doc_id")
    assert(joined.count() > 0)
    assert(joined.filter(col("n_2grams") =!= col("n_tokens") - 1).count() == 0)
  }

  test("text_surprisal: token counts agree with text_stats; bits bounded by corpus size") {
    val d = "/root/testdata/sf0.001"
    val sur = SparkEntry.queries("text_surprisal")(spark, d)
    val st = SparkEntry.queries("text_stats")(spark, d)
      .select(col("doc_id"), col("n_tokens").as("st_tokens"))
    val joined = sur.join(st, "doc_id")
    assert(joined.filter(col("n_tokens") =!= col("st_tokens")).count() == 0)
    // surprisal of any token is ≤ floor(log2(total)) bits
    val totalToks = joined.agg(sum(col("n_tokens"))).head.getLong(0)
    val maxBits = 63 - java.lang.Long.numberOfLeadingZeros(totalToks)
    assert(sur.filter(col("avg_bits") > maxBits || col("avg_bits") < 0).count() == 0)
  }

  test("dedup_substring: exact-duplicate docs score dup_frac 1.0, singletons 0.0") {
    import org.apache.spark.sql.functions._
    // crafted corpus: two byte-identical docs, one sharing a 10-gram run
    // with them, one disjoint — written as a real parquet table so the
    // query runs its production read path
    val words = (1 to 30).map(i => s"w$i").mkString(" ")
    val disjoint = (1 to 30).map(i => s"z$i").mkString(" ")
    val partial = (1 to 12).map(i => s"w$i").mkString(" ") + " " +
      (1 to 17).map(i => s"y$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("subdup").toString
    Seq((0L, words), (1L, words), (2L, partial), (3L, disjoint))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("dedup_substring")(spark, dir).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_grams"), x.getAs[Long]("n_dup_grams"), x.getAs[Double]("dup_frac")))
      .toMap
    assert(r(0L) == ((21L, 21L, 1.0)) && r(1L) == ((21L, 21L, 1.0)),
      s"identical docs must be fully covered: $r")
    // doc 2 (29 tokens → 20 grams) shares exactly its first three 10-grams
    // (w1..w10, w2..w11, w3..w12)
    assert(r(2L)._1 == 20L && r(2L)._2 == 3L, s"partial overlap miscounted: $r")
    assert(r(3L) == ((21L, 0L, 0.0)), s"disjoint doc must score zero: $r")
  }

  test("embedBatched: partitioning- and batch-size-invariant; matches the md5 expression twin") {
    val d = "/root/testdata/sf0.001"
    val payloads = graft.sources.Tables.documents(spark, d)
      .select(col("doc_id"), to_binary(col("text"), lit("utf-8")).as("payload"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().toSeq
    // batch boundaries and partition layout must never leak into results
    val base = canon(Multimodal.embedBatched(payloads))
    assert(base == canon(Multimodal.embedBatched(payloads.repartition(7))))
    assert(base == canon(Multimodal.embedBatched(payloads, batch = 3)))
    // the task-local MessageDigest agrees with Spark's own md5 expression
    val twin = payloads.select(col("doc_id"),
      (conv(substring(md5(col("payload")), 1, 4), 16, 10).cast("double") / 65536.0).as("e0"))
    val joined = Multimodal.embedBatched(payloads).select(col("doc_id"), col("e0"))
      .join(twin.withColumnRenamed("e0", "t0"), "doc_id")
    assert(joined.filter(col("e0") =!= col("t0")).count() == 0)
  }

  test("corpus_manifest: members pass quality, survive dedup, respect the cap; (shard,pos) dense") {
    val d = "/root/testdata/sf0.001"
    val m = SparkEntry.queries("corpus_manifest")(spark, d)
    // quality: every manifest member is in text_quality's keep set
    val q = SparkEntry.queries("text_quality")(spark, d).select(col("doc_id"), col("keep"))
    assert(m.join(q, "doc_id").filter(!col("keep")).count() == 0)
    // dedup: no member is a non-canonical cluster member
    val lbl = Dedup.clusterLabels(spark, d)
    assert(m.join(lbl, Seq("doc_id"))
      .filter(col("cluster_id") =!= col("doc_id")).count() == 0)
    // diversity: at most SourceCap docs per source
    assert(m.groupBy(col("source")).count()
      .filter(col("count") > graft.operators.Corpus.SourceCap).count() == 0)
    // addressing: pos is a dense 1..n permutation within every shard
    val per = m.groupBy(col("shard")).agg(count(lit(1)).as("n"),
      countDistinct(col("pos")).as("np"), min(col("pos")).as("lo"), max(col("pos")).as("hi"))
    assert(per.filter(col("np") =!= col("n") || col("lo") =!= 1 || col("hi") =!= col("n")).count() == 0)
  }

  test("health reports: ivf balance and cluster stats conserve their populations") {
    val d = "/root/testdata/sf0.001"
    val bal = SparkEntry.queries("sim_ivf_balance")(spark, d)
    val nVec = graft.sources.Tables.embeddings(spark, d).count()
    assert(bal.agg(sum(col("cell_size") * col("n_cells"))).head.getLong(0) == nVec)
    // count-of-counts agrees with the per-cell inventory query
    val cells = SparkEntry.queries("sim_ivf_cells")(spark, d)
      .groupBy(col("n_vectors").as("cell_size")).agg(count(lit(1)).as("n_cells"))
    assert(bal.join(cells, Seq("cell_size"))
      .filter(bal("n_cells") =!= cells("n_cells")).count() == 0)
    val cs = SparkEntry.queries("dedup_cluster_stats")(spark, d)
    val nLabeled = Dedup.clusterLabels(spark, d).count()
    assert(cs.agg(sum(col("cluster_size") * col("n_clusters"))).head.getLong(0) == nLabeled)
  }

  test("multimodal decodeMeta: deterministic fake decode via mapPartitions") {
    val df = Seq((1L, "abc".getBytes), (2L, "longer payload bytes".getBytes))
      .toDF("doc_id", "payload")
    val out = Multimodal.decodeMeta(df).collect().map(r => r.getLong(0) ->
      (r.getInt(1), r.getInt(2), r.getString(3), r.getLong(4))).toMap
    assert(out(1L)._4 == 3L && out(2L)._4 == 20L)
    val again = Multimodal.decodeMeta(df).collect().map(r => r.getLong(0) ->
      (r.getInt(1), r.getInt(2), r.getString(3), r.getLong(4))).toMap
    assert(out == again) // task-retry safety: pure function of bytes
  }

  test("dedup_semdedup: total coverage, cell-minimum always kept, pair-consistent") {
    val d = "/root/testdata/sf0.001"
    val sem = SparkEntry.queries("dedup_semdedup")(spark, d)
    val n = graft.sources.Tables.embeddings(spark, d).count()
    assert(sem.count() == n, "every vector gets exactly one verdict row")
    // the lowest vec_id of each cell has no lower-id mate, so it must survive
    val cellMin = sem.groupBy(col("cell")).agg(min(col("vec_id")).as("vec_id"))
    assert(sem.join(cellMin, Seq("cell", "vec_id")).filter(!col("keep")).count() == 0)
    // consistency with the pair query: any pair at or above the SemDeDup
    // threshold means its HIGHER id must have been dropped
    val tau = Dedup.SemDeDupTau
    val pairs = SparkEntry.queries("dedup_embedding_cosine")(spark, d)
      .filter(col("cosine") >= tau).select(col("id2").as("vec_id")).distinct()
    assert(pairs.join(sem.filter(col("keep")), "vec_id").count() == 0,
      "a vector with a lower-id near-dup above tau survived")
  }

  test("docs_source_cap: rank is a 1..n permutation per source, kept = min(cap, n)") {
    val d = "/root/testdata/sf0.001"
    val capped = SparkEntry.queries("docs_source_cap")(spark, d)
    val per = capped.groupBy(col("source")).agg(
      count(lit(1)).as("n"), countDistinct(col("rk")).as("n_rk"),
      min(col("rk")).as("lo"), max(col("rk")).as("hi"),
      count(when(col("kept"), true)).as("n_kept"))
    assert(per.filter(col("n_rk") =!= col("n") || col("lo") =!= 1 || col("hi") =!= col("n")).count() == 0,
      "rk must be a dense 1..n permutation within every source")
    val cap = graft.operators.Corpus.SourceCap
    assert(per.filter(col("n_kept") =!= least(lit(cap.toLong), col("n"))).count() == 0)
  }

  test("text_bigram_lm: bigram counts agree with text_stats; conditional bits <= unigram corpus bound") {
    val d = "/root/testdata/sf0.001"
    val lm = SparkEntry.queries("text_bigram_lm")(spark, d)
    val st = SparkEntry.queries("text_stats")(spark, d)
      .select(col("doc_id"), col("n_tokens"))
    val joined = lm.join(st, "doc_id")
    assert(joined.count() > 0)
    assert(joined.filter(col("n_bigrams") =!= col("n_tokens") - 1).count() == 0)
    // a conditional surprisal can never exceed floor(log2(total bigrams))
    val total = lm.agg(sum(col("n_bigrams"))).head.getLong(0)
    val maxBits = 63 - java.lang.Long.numberOfLeadingZeros(total)
    assert(lm.filter(col("avg_bits") > maxBits || col("avg_bits") < 0).count() == 0)
  }

  test("dedup_minhash_est: covers exactly the LSH pairs; identical docs estimate 1.0 exactly") {
    val d = "/root/testdata/sf0.001"
    val est = SparkEntry.queries("dedup_minhash_est")(spark, d)
    val pairs = SparkEntry.queries("dedup_minhash_lsh")(spark, d)
    assert(est.count() == pairs.count(), "gate must score every candidate pair")
    // bounds: both jaccards in [0,1]; error is |est - exact|
    assert(est.filter(col("est_jaccard") < 0 || col("est_jaccard") > 1 ||
      col("jaccard") < 0 || col("jaccard") > 1).count() == 0)
    // an exact duplicate pair has identical signatures AND jaccard 1
    val exact = est.filter(col("jaccard") === 1.0)
    assert(exact.filter(col("n_matches") =!= graft.operators.Dedup.K).count() == 0,
      "identical shingle sets must produce identical signatures")
  }

  test("agg_percentile_hist: estimate within one bucket width of exact; n agrees") {
    val d = "/root/testdata/sf0.001"
    val g = SparkEntry.queries("agg_percentile_hist")(spark, d)
    val li = graft.sources.Tables.lineitem(spark, d)
    val Row(lo: Double, hi: Double) = li.agg(min(col("l_extendedprice")),
      max(col("l_extendedprice"))).head
    val width = (hi - lo) / graft.operators.Relational.HistogramBuckets
    // the uniform-within-bucket assumption can miss by at most one bucket
    assert(g.filter(col("abs_err") > width).count() == 0,
      s"estimate strayed beyond one bucket width ($width)")
    val counts = li.groupBy(col("l_returnflag")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(g.collect().forall(r => counts(r.getString(0)) == r.getLong(1)))
  }

  test("agg_histogram: counts conserve rows, buckets within range, bounds nest") {
    val d = "/root/testdata/sf0.001"
    val h = SparkEntry.queries("agg_histogram")(spark, d)
    val total = graft.sources.Tables.orders(spark, d).count()
    assert(h.agg(sum(col("n"))).head.getLong(0) == total, "histogram lost rows")
    val nb = graft.operators.Relational.HistogramBuckets
    assert(h.filter(col("bucket") < 0 || col("bucket") >= nb).count() == 0)
    assert(h.filter(col("bucket_min") > col("bucket_max")).count() == 0)
  }

  test("sample_epoch: shard membership epoch-invariant, orders permuted between epochs") {
    val d = "/root/testdata/sf0.001"
    val e = SparkEntry.queries("sample_epoch")(spark, d)
    // membership: every doc appears in the SAME shard in both epochs
    val m = e.groupBy(col("doc_id"))
      .agg(countDistinct(col("shard")).as("ns"), count(lit(1)).as("ne"))
    assert(m.filter(col("ns") =!= 1 || col("ne") =!= 2).count() == 0)
    // permutation: the two epochs order at least one shard differently
    val e0 = e.filter(col("epoch") === 0).select(col("shard"), col("pos"), col("doc_id"))
    val e1 = e.filter(col("epoch") === 1)
      .select(col("shard"), col("pos"), col("doc_id").as("doc1"))
    val moved = e0.join(e1, Seq("shard", "pos"))
      .filter(col("doc_id") =!= col("doc1")).count()
    assert(moved > 0, "epoch salt produced identical orders")
  }

  test("cdc_tombstone: removes exactly the keys whose LAST change is a delete") {
    val d = "/root/testdata/sf0.001"
    val up = SparkEntry.queries("cdc_upsert")(spark, d)
    val tb = SparkEntry.queries("cdc_tombstone")(spark, d)
    // tombstone output is the upsert output minus the deleted keys
    assert(tb.select(col("key")).exceptAll(up.select(col("key"))).count() == 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    val lastOp = graft.sources.Tables.events(spark, d)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id").as("key"), (col("event_type") === "error").as("del"))
    val deleted = lastOp.filter(col("del")).select(col("key"))
    assert(up.count() - tb.count() == deleted.count())
    assert(tb.join(deleted, Seq("key")).count() == 0)
  }

  test("docs_chunk: chunk count/starts/lengths are exact arithmetic on doc length") {
    val d = "/root/testdata/sf0.001"
    val c = SparkEntry.queries("docs_chunk")(spark, d)
    val docs = graft.sources.Tables.documents(spark, d)
      .select(col("doc_id"), length(col("text")).as("len")).filter(col("len") > 0)
    val j = c.join(docs, Seq("doc_id"))
    // start follows the stride grid; length is min(ChunkSize, len - start + 1)
    assert(j.filter(col("chunk_start") =!=
      col("chunk_id") * operators.Corpus.ChunkStride + 1).count() == 0)
    assert(j.filter(col("chunk_len") =!=
      least(lit(operators.Corpus.ChunkSize), col("len") - col("chunk_start") + 1)
    ).count() == 0)
    // per-doc chunk count = 1 + (len-1) div stride
    val n = c.groupBy(col("doc_id")).count().join(docs, Seq("doc_id"))
    assert(n.filter(col("count") =!=
      (col("len") - 1).divide(operators.Corpus.ChunkStride).cast("long") + 1
    ).count() == 0)
  }

  test("docs_interleave: steps unique, per-lang arithmetic progression, round-robin head") {
    val d = "/root/testdata/sf0.001"
    val i = SparkEntry.queries("docs_interleave")(spark, d)
    assert(i.select(col("global_step")).distinct().count() == i.count())
    val nLangs = i.select(col("lang")).distinct().count()
    // within a language, consecutive rn are exactly n_langs steps apart
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("rn"))
    val gaps = i.withColumn("prev", lag(col("global_step"), 1).over(w))
      .filter(col("prev").isNotNull)
      .filter(col("global_step") - col("prev") =!= nLangs)
    assert(gaps.count() == 0)
    // the first round (steps 0..n_langs-1) holds one doc of each language
    assert(i.filter(col("global_step") < nLangs)
      .select(col("lang")).distinct().count() == nLangs)
  }

  test("dq_drift: halves conserve the corpus, ppm shares and drift agree") {
    val d = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("dq_drift")(spark, d)
    val total = graft.sources.Tables.events(spark, d).count()
    val sums = r.agg(sum(col("n_a")).as("a"), sum(col("n_b")).as("b")).head
    assert(sums.getLong(0) + sums.getLong(1) == total)
    assert(sums.getLong(0) > 0 && sums.getLong(1) > 0)
    // floor-ppm shares sum to within n_types of exactly 1e6
    val nTypes = r.count()
    val ppm = r.agg(sum(col("ppm_a")).as("pa"), sum(col("ppm_b")).as("pb")).head
    for (p <- Seq(ppm.getLong(0), ppm.getLong(1)))
      assert(p > 1000000L - nTypes && p <= 1000000L)
    assert(r.filter(col("drift_ppm") =!= abs(col("ppm_a") - col("ppm_b"))).count() == 0)
  }

  test("sim_filtered_topk: all neighbors qualify; filtering never beats unfiltered") {
    val d = "/root/testdata/sf0.001"
    val f = SparkEntry.queries("sim_filtered_topk")(spark, d)
    val lbl = graft.sources.Tables.embeddings(spark, d)
      .select(col("vec_id").as("qid"), col("label").as("q_label"))
    // every returned neighbor carries the query's own label (pre-filter)
    assert(f.join(lbl, Seq("qid"))
      .filter(col("label") =!= col("q_label")).count() == 0)
    // ranks are 1..k contiguous per query
    val rk = f.groupBy(col("qid"))
      .agg(min(col("rank")).as("lo"), max(col("rank")).as("hi"), count(lit(1)).as("n"))
    assert(rk.filter(col("lo") =!= 1 || col("hi") =!= col("n")).count() == 0)
    // the constrained best can never exceed the unconstrained best
    val best = SparkEntry.queries("sim_cosine_topk")(spark, d)
      .filter(col("rank") === 1 && col("qid") < 50)
      .select(col("qid"), col("cosine").as("best_any"))
    val bestF = f.filter(col("rank") === 1).select(col("qid"), col("cosine").as("best_f"))
    assert(bestF.join(best, Seq("qid"))
      .filter(col("best_f") > col("best_any")).count() == 0)
  }

  test("corpus_snapshot_diff: statuses match the synthesis rules exactly") {
    val d = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("corpus_snapshot_diff")(spark, d)
    val ids = graft.sources.Tables.documents(spark, d).select(col("doc_id"))
    val n = ids.count()
    val nRemoved = ids.filter(col("doc_id") % 11 === 0).count()
    val nAdded = ids.filter(col("doc_id") % 13 === 0).count()
    val nChanged = ids.filter(col("doc_id") % 7 === 0 && col("doc_id") % 11 =!= 0).count()
    val counts = r.groupBy(col("status")).count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(counts("removed") == nRemoved)
    assert(counts("added") == nAdded)
    assert(counts("changed") == nChanged)
    assert(counts.values.sum == n + nAdded)
    assert(counts("unchanged") == n - nRemoved - nChanged)
  }

  test("docs_spans: spans are maximal, disjoint, in-bounds, ~8%-start coverage") {
    val d = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("docs_spans")(spark, d)
    assert(r.filter(col("span_len") < 1 || col("span_start") < 0).count() == 0)
    // disjoint AND maximal: next span starts at least 2 past this one's end
    // (adjacent spans would have merged into one island)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("span_id"))
    val gaps = r.withColumn("prev_end",
        lag(col("span_start") + col("span_len"), 1).over(w))
      .filter(col("prev_end").isNotNull)
      .filter(col("span_start") <= col("prev_end"))
    assert(gaps.count() == 0, "overlapping or touching spans did not merge")
    // spans stay inside the token range
    val nt = graft.sources.Tables.documents(spark, d)
      .select(col("doc_id"), size(split(lower(col("text")), " ")).as("n_toks"))
    assert(r.join(nt, Seq("doc_id"))
      .filter(col("span_start") + col("span_len") > col("n_toks")).count() == 0)
    // masked fraction lands near the 8%·3-token design point (loose bounds)
    val masked = r.agg(sum(col("span_len"))).head.getLong(0).toDouble
    val total = nt.agg(sum(col("n_toks"))).head.getLong(0).toDouble
    assert(masked / total > 0.08 && masked / total < 0.40,
      s"masked fraction ${masked / total} far from design point")
  }

  test("dq_split_leakage: covers exactly the train split, agrees with sample_split") {
    val d = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("dq_split_leakage")(spark, d)
    // one row per train-split doc with >= 5 tokens — the same hash rule
    // sample_split uses, so the gate and the splitter partition identically
    val docs = graft.sources.Tables.documents(spark, d)
      .withColumn("b", operators.Sampling.hashBucket(col("doc_id"), 10))
      .withColumn("nt", size(split(lower(col("text")), " ")))
    val trainBig = docs.filter(col("b") < 9 && col("nt") >= 5)
    assert(r.count() == trainBig.count())
    assert(r.join(docs.filter(col("b") >= 9), Seq("doc_id")).count() == 0)
    assert(r.filter(col("n_leaked") > col("n_shingles")).count() == 0)
    assert(r.filter(col("leak_ppm") =!=
      expr("n_leaked * 1000000 div n_shingles")).count() == 0)
  }

  test("text_boilerplate: shingle accounting exact, fraction consistent") {
    val d = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("text_boilerplate")(spark, d)
    assert(r.filter(col("n_boiler") > col("n_shingles")).count() == 0)
    assert(r.filter(col("boiler_ppm") =!=
      expr("n_boiler * 1000000 div n_shingles")).count() == 0)
    // every doc with >= 5 tokens appears, with exactly len(toks)-4 shingles
    val docs = graft.sources.Tables.documents(spark, d)
      .select(col("doc_id"), size(split(lower(col("text")), " ")).as("nt"))
      .filter(col("nt") >= 5)
    val j = r.join(docs, Seq("doc_id"), "full")
    assert(j.filter(col("nt").isNull || col("n_shingles").isNull).count() == 0)
    assert(j.filter(col("n_shingles") =!= col("nt") - 4).count() == 0)
    // the threshold binds: some boilerplate exists at this SF, nothing is
    // boilerplate in a doc whose shingles are all unique corpus-wide
    assert(r.agg(sum(col("n_boiler"))).head.getLong(0) > 0)
  }

  test("binary_dedup: content map covers the corpus; duplicates collapse") {
    val d = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("binary_dedup")(spark, d)
    val docs = graft.sources.Tables.documents(spark, d)
    assert(r.agg(sum(col("n_copies"))).head.getLong(0) == docs.count())
    assert(r.select(col("sha256")).distinct().count() == r.count())
    // the collapse is real: doubling the corpus halves nothing but copies
    val doubled = docs.select(col("doc_id"), col("text"))
      .unionByName(docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .groupBy(sha2(col("text").cast("binary"), 256).as("sha256"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    assert(doubled.filter(col("n_copies") =!= 2).count() == 0)
    // keepers keep their ORIGINAL id (min over the group)
    assert(doubled.filter(col("keep_id") >= 1000000L).count() == 0)
  }

  test("dq_profile: one row per column, counts consistent, keys unique where expected") {
    val d = "/root/testdata/sf0.001"
    val p = SparkEntry.queries("dq_profile")(spark, d)
    val rows = p.collect().map(r => r.getString(0) -> r).toMap
    assert(rows.size == 5)
    val n = graft.sources.Tables.orders(spark, d).count()
    assert(rows.values.forall(_.getLong(1) == n))
    // the primary key profiles as unique and non-null
    val pk = rows("o_orderkey")
    assert(pk.getLong(2) == 0 && pk.getLong(3) == n)
    assert(rows.values.forall(r => r.getLong(3) <= n - r.getLong(2)))
  }

  test("events_rfm: one row per user, balanced quintiles, frequency conserves events") {
    val d = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("events_rfm")(spark, d)
    val ev = graft.sources.Tables.events(spark, d)
    assert(r.count() == ev.select(col("user_id")).distinct().count())
    assert(r.agg(sum(col("frequency"))).head.getLong(0) == ev.count())
    // SQL-standard ntile: bucket sizes differ by at most one
    for (c <- Seq("r_score", "f_score", "m_score")) {
      val sizes = r.groupBy(col(c)).count().collect().map(_.getLong(1))
      assert(sizes.max - sizes.min <= 1, s"$c quintiles unbalanced: ${sizes.toSeq}")
    }
  }

  test("ioc_etl_audit: stage accounting conserves emails and matches the ledger") {
    val d = "/root/testdata/sf0.001"
    val a = SparkEntry.queries("ioc_etl_audit")(spark, d).head
    val (nEmails, nReject, nProc, nZero, nEmit, nIocs) =
      (a.getLong(0), a.getLong(1), a.getLong(2), a.getLong(3), a.getLong(4), a.getLong(5))
    assert(nReject + nProc == nEmails)
    assert(nZero + nEmit == nProc)
    assert(nEmit <= nProc && nIocs >= nEmit)
    // ledger agreement: processed_emails and total ioc count line up
    val l = SparkEntry.queries("ioc_run_ledger")(spark, d).head
    assert(l.getLong(0) == nProc)
    assert(l.getLong(1) + l.getLong(2) + l.getLong(3) + l.getLong(4) == nIocs)
  }

  test("events_funnel_windowed: a strictly tighter funnel than the unbounded one") {
    val d = "/root/testdata/sf0.001"
    val wf = SparkEntry.queries("events_funnel_windowed")(spark, d)
    val uf = SparkEntry.queries("events_funnel")(spark, d)
    assert(wf.count() == uf.count()) // stage-1 entry (a view) is identical
    // windowing can only LOWER each user's stage, never raise it
    val j = wf.select(col("user_id"), col("stage").as("s_w"))
      .join(uf.select(col("user_id"), col("stage").as("s_u")), Seq("user_id"))
    assert(j.filter(col("s_w") > col("s_u")).count() == 0)
    // the 7-day bound actually holds on every reported conversion
    assert(wf.filter(col("t_click").isNotNull &&
      col("t_click") > col("t_view") + expr("INTERVAL 7 DAYS")).count() == 0)
    assert(wf.filter(col("t_purchase").isNotNull &&
      col("t_purchase") > col("t_click") + expr("INTERVAL 7 DAYS")).count() == 0)
  }

  test("events_streaks: one row per active user, streak span matches its length") {
    val d = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("events_streaks")(spark, d)
    val ev = graft.sources.Tables.events(spark, d)
    assert(r.count() == ev.select(col("user_id")).distinct().count())
    // a streak of n consecutive days spans exactly n-1 days start→end
    assert(r.filter(
      datediff(col("streak_end"), col("streak_start")) =!= col("streak_len") - 1
    ).count() == 0)
    // the streak is real: every day inside [start, end] was active
    val days = ev.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val covered = r.join(days, Seq("user_id"))
      .filter(col("day").between(col("streak_start"), col("streak_end")))
      .groupBy(col("user_id"), col("streak_len")).count()
    assert(covered.filter(col("count") =!= col("streak_len")).count() == 0)
  }

  test("events_attribution: credit conserves the purchase count and spend") {
    val d = "/root/testdata/sf0.001"
    val a = SparkEntry.queries("events_attribution")(spark, d)
    val ev = graft.sources.Tables.events(spark, d)
    val purchases = ev.filter(col("event_type") === "purchase")
    assert(a.agg(sum(col("n_purchases"))).head.getLong(0) == purchases.count())
    // purchases never credit themselves
    assert(a.filter(col("touch_type") === "purchase").count() == 0)
  }

  test("events_decay: decayed value bounded by raw value, equal when all same-week") {
    val d = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("events_decay")(spark, d)
    // decay only shrinks: decayed_micro <= cents_total * 1e6
    assert(r.filter(col("decayed_micro") > col("cents_total") * 1000000L).count() == 0)
    assert(r.filter(col("decayed_micro") < 0).count() == 0)
    // events in the anchor week carry full weight, so any user whose
    // whole history fits in <7 days decays nothing
    val ev = graft.sources.Tables.events(spark, d).filter(col("value") > 0.0)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val span = ev.groupBy(col("user_id"))
      .agg(datediff(max(col("day")), min(col("day"))).as("span"))
    val tight = r.join(span.filter(col("span") < 7), Seq("user_id"))
    assert(tight.filter(col("decayed_micro") =!= col("cents_total") * 1000000L)
      .count() == 0)
  }

  test("agg_exact_quantile: equals the direct full-sort order statistic") {
    val d = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("agg_exact_quantile")(spark, d)
    val c = graft.sources.Tables.lineitem(spark, d)
      .select(col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long").as("cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag")).orderBy(col("cents"))
    val direct = c.withColumn("rk", row_number().over(w))
    // every reported (group, rank) must be the value the full sort puts there
    val j = r.join(direct,
      r("l_returnflag") === direct("l_returnflag") && r("rank_k") === direct("rk"))
    assert(j.count() == r.count())
    assert(j.filter(r("value") =!= direct("cents").cast("double") / 100.0).count() == 0)
    // the integer-ppm rank is the ceiling rank
    assert(r.filter(col("rank_k") =!=
      expr("(n * qppm + 999999) div 1000000")).count() == 0)
  }

  test("basket_pairs: ordered pairs, support threshold, spot-checked count") {
    val d = "/root/testdata/sf0.001"
    val b = SparkEntry.queries("basket_pairs")(spark, d)
    assert(b.filter(col("part_a") >= col("part_b")).count() == 0)
    assert(b.filter(col("n_orders") < 2).count() == 0)
    // spot-check the top pair against a direct distinct-order intersection
    val top = b.orderBy(col("n_orders").desc, col("part_a"), col("part_b")).head
    val li = graft.sources.Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val direct = li.filter(col("l_partkey") === top.get(0)).select(col("l_orderkey"))
      .intersect(li.filter(col("l_partkey") === top.get(1)).select(col("l_orderkey")))
      .count()
    assert(direct == top.getLong(2), s"pair $top vs direct $direct")
  }

  test("agg_incremental: the merge is real (both segments non-empty) and exact") {
    val d = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("agg_incremental")(spark, d)
    val ev = graft.sources.Tables.events(spark, d)
    // direct single-pass recompute must match the merged partials exactly
    val direct = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
    assert(r.exceptAll(direct).count() == 0 && direct.exceptAll(r).count() == 0)
    // the time split actually produces two segments (else the test is vacuous)
    val us = ev.select(unix_micros(col("ts")).as("us"))
    val mm = us.agg(min(col("us")).as("mn"), max(col("us")).as("mx")).head
    val mid = (mm.getLong(0) + mm.getLong(1)) / 2
    assert(us.filter(col("us") <= mid).count() > 0)
    assert(us.filter(col("us") > mid).count() > 0)
  }

  test("events_ltv: triangle conserves total revenue; offset-0 heads = cohort sizes") {
    val d = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("events_ltv")(spark, d)
    val ev = graft.sources.Tables.events(spark, d)
    val total = ev.agg(sum(col("value").cast("decimal(12,2)")).cast("double")).head.getDouble(0)
    assert(r.agg(sum(col("revenue"))).head.getDouble(0) == total)
    // week 0 actives of each cohort = number of users whose first day is in it
    val firsts = ev.groupBy(col("user_id")).agg(to_date(min(col("ts"))).as("cohort"))
      .groupBy(col("cohort")).agg(count(lit(1)).as("n_new"))
    val w0 = r.filter(col("week_offset") === 0)
    assert(w0.join(firsts, Seq("cohort"))
      .filter(col("n_active") =!= col("n_new")).count() == 0)
  }

  test("events_ab_test: arms partition users, z sign tracks the rate difference") {
    val d = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("events_ab_test")(spark, d).head
    val users = graft.sources.Tables.events(spark, d)
      .select(col("user_id")).distinct().count()
    assert(r.getLong(0) + r.getLong(2) == users)
    assert(r.getLong(1) <= r.getLong(0) && r.getLong(3) <= r.getLong(2))
    if (!r.isNullAt(6)) {
      val diff = r.getDouble(4) - r.getDouble(5)
      assert(math.signum(r.getDouble(6)) == math.signum(diff))
    }
  }

  test("window_topk_heap: custom exec returns exactly the window formulation's rows") {
    val d = "/root/testdata/sf0.001"
    val heap = SparkEntry.queries("window_topk_heap")(spark, d)
    val win = SparkEntry.queries("window_topk")(spark, d).drop("rn")
    assert(heap.exceptAll(win).count() == 0 && win.exceptAll(heap).count() == 0)
  }

  test("events_trend: OLS line passes through the mean point; n_days consistent") {
    val d = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("events_trend")(spark, d)
    val ev = graft.sources.Tables.events(spark, d)
    val nd = ev.groupBy(col("event_type"))
      .agg(countDistinct(to_date(col("ts"))).as("nd"))
    assert(r.join(nd, Seq("event_type"))
      .filter(col("n_days") =!= col("nd")).count() == 0)
    // OLS invariant: ŷ(x̄) = ȳ — check via recomputed exact moments
    val daily = ev.groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("x"))
      .agg(count(lit(1)).as("y"))
    val m = daily.groupBy(col("event_type"))
      .agg(avg(col("x")).as("mx"), avg(col("y")).as("my"))
    val chk = r.join(m, Seq("event_type"))
      .withColumn("pred", col("intercept") + col("slope") * col("mx"))
      .filter(abs(col("pred") - col("my")) > abs(col("my")) * 1e-9)
    assert(chk.count() == 0)
  }

  test("embed_kmeans: cells partition the corpus, fingerprints real, cells ⊆ seeds") {
    val d = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("embed_kmeans")(spark, d)
    val n = graft.sources.Tables.embeddings(spark, d).count()
    assert(r.agg(sum(col("n_vectors"))).head.getLong(0) == n)
    assert(r.filter(col("n_vectors") <= 0).count() == 0)
    // every surviving cell is one of the deterministic seed ids
    assert(r.filter(col("cell") % 64 =!= 0 ||
      col("cell") >= operators.Similarity.KmeansK * 64).count() == 0)
    assert(r.filter(col("centroid_fp").isNull).count() == 0)
  }

  test("events_paths: transitions conserve (events - users); p(next|from) sums to 1 per from") {
    val d = "/root/testdata/sf0.001"
    val p = SparkEntry.queries("events_paths")(spark, d)
    val ev = graft.sources.Tables.events(spark, d)
    // every event except each user's first contributes exactly one transition
    val expected = ev.count() - ev.select(col("user_id")).distinct().count()
    assert(p.agg(sum(col("n"))).head.getLong(0) == expected)
    val sums = p.groupBy(col("from_type")).agg(sum(col("p_next")).as("s"))
    assert(sums.filter(abs(col("s") - 1.0) > 1e-9).count() == 0)
  }

  test("sim_knn_acc: one verdict per vector; agreement bounded by counts") {
    val d = "/root/testdata/sf0.001"
    val a = SparkEntry.queries("sim_knn_acc")(spark, d)
    val n = graft.sources.Tables.embeddings(spark, d).count()
    assert(a.agg(sum(col("n_queries"))).head.getLong(0) == n,
      "every vector is a query exactly once")
    assert(a.filter(col("n_agree") > col("n_queries") || col("n_agree") < 0).count() == 0)
    assert(a.filter(col("knn_acc") < 0 || col("knn_acc") > 1).count() == 0)
  }

  test("events_wau: wau >= dau everywhere; each day's window covers exactly its trailing week") {
    val d = "/root/testdata/sf0.001"
    val w = SparkEntry.queries("events_wau")(spark, d)
    assert(w.filter(col("wau") < col("dau")).count() == 0)
    // cross-check one window day against a direct trailing-7-day distinct
    val days = graft.sources.Tables.events(spark, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val probe = w.orderBy(col("wau").desc, col("wday")).head
    val wday = probe.getDate(0)
    val direct = days.filter(col("day") <= lit(wday) &&
        col("day") >= date_sub(lit(wday), 6))
      .select(col("user_id")).distinct().count()
    assert(probe.getLong(2) == direct,
      s"wau(${wday}) = ${probe.getLong(2)} but direct trailing-week distinct = $direct")
  }

  test("sample_topk_quality: per-language floor(n/5) quota, kept docs strictly outrank dropped") {
    val d = "/root/testdata/sf0.001"
    val t = SparkEntry.queries("sample_topk_quality")(spark, d)
    val per = t.groupBy(col("lang")).agg(
      count(lit(1)).as("n"), count(when(col("kept"), true)).as("n_kept"),
      max(when(col("kept"), col("rk"))).as("max_kept_rk"),
      min(when(!col("kept"), col("rk"))).as("min_drop_rk"))
    assert(per.filter(col("n_kept") =!= floor(col("n") / 5)).count() == 0,
      "quota must be exactly floor(n/5) per language")
    assert(per.filter(col("max_kept_rk") >= col("min_drop_rk")).count() == 0,
      "every kept rank must precede every dropped rank")
    // quota members agree with text_quality's score for the same docs
    val q = SparkEntry.queries("text_quality")(spark, d).select(col("doc_id"), col("quality").as("tq"))
    assert(t.join(q, "doc_id").filter(col("score") =!= col("tq")).count() == 0,
      "the quota must rank by the SHARED quality score")
  }

  test("embed_norm_stats: labels partition the store; min <= mean <= max") {
    val d = "/root/testdata/sf0.001"
    val st = SparkEntry.queries("embed_norm_stats")(spark, d)
    val total = graft.sources.Tables.embeddings(spark, d).count()
    assert(st.agg(sum(col("n_vectors"))).head.getLong(0) == total)
    // fixed-point mean floors each norm, so mean may sit up to 1e-4 below min
    assert(st.filter(col("mean_norm") > col("max_norm") ||
      col("mean_norm") < col("min_norm") - 0.0001).count() == 0)
  }

  test("events_scd2: one current state per user, events conserved, consecutive states differ") {
    val d = "/root/testdata/sf0.001"
    val scd = SparkEntry.queries("events_scd2")(spark, d)
    val ev = graft.sources.Tables.events(spark, d)
    // exactly one open interval per user
    val cur = scd.groupBy(col("user_id")).agg(count(when(col("is_current"), true)).as("n_cur"))
    assert(cur.filter(col("n_cur") =!= 1).count() == 0)
    // change-point compression loses no events
    assert(scd.agg(sum(col("n_events"))).head.getLong(0) == ev.count())
    // compression is real: adjacent states never share a type, and
    // intervals chain exactly (valid_to = next valid_from)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("seg"))
    val chained = scd
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .withColumn("next_from", lead(col("valid_from"), 1).over(w))
    assert(chained.filter(col("next_type").isNotNull &&
      col("next_type") === col("event_type")).count() == 0)
    assert(chained.filter(col("next_from").isNotNull &&
      col("valid_to") =!= col("next_from")).count() == 0)
  }

  test("iocSightings rollup is lossless for every derived history query") {
    // the persisted sighting index carries (n, mn, mx) per (type, ioc,
    // source, platform); its consumers only ever regroup by SUBSETS of
    // that key, so sum/min/max over the rollup must equal the same fold
    // over the raw feed — the invariant that makes reading the index
    // instead of the feed a pure plan change
    val d = "/root/testdata/sf0.001"
    val feed = SparkEntry.unifiedFeed(spark, d)
    val direct = feed
      .groupBy(col("type"), col("ioc"), col("source"))
      .agg(count(lit(1)).as("n"), min(col("date_received")).as("mn"),
        max(col("date_received")).as("mx"))
    val viaIdx = SparkEntry.iocSightings(spark, d)
      .groupBy(col("type"), col("ioc"), col("source"))
      .agg(sum(col("n")).as("n"), min(col("mn")).as("mn"),
        max(col("mx")).as("mx"))
    assert(direct.except(viaIdx).count() == 0 &&
      viaIdx.except(direct).count() == 0)
  }

  test("iocSightings maintains incrementally: partial rollups merge losslessly") {
    // the IVM property that lets the index be MAINTAINED at 100 TB
    // instead of rebuilt: rollup(segment A) merged with rollup(segment B)
    // by (sum n, min mn, max mx) equals rollup(A ∪ B) — count/min/max are
    // all associative+commutative folds, so per-ingest-window partials
    // (or per-shard partials across 1000 executors) combine exactly.
    // Segments split by an md5 bit of the message key: deterministic,
    // correlated with nothing.
    val d = "/root/testdata/sf0.001"
    val feed = SparkEntry.unifiedFeed(spark, d)
    val key = Seq(col("type"), col("ioc"), col("source"), col("platform"))
    def rollup(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(key: _*).agg(count(lit(1)).as("n"),
        min(col("date_received")).as("mn"), max(col("date_received")).as("mx"))
    val seg = substring(md5(concat(col("platform"), lit("|"), col("id"))), 1, 1)
      .isin("0", "1", "2", "3", "4", "5", "6", "7")
    val merged = rollup(feed.filter(seg)).unionByName(rollup(feed.filter(!seg)))
      .groupBy(key: _*).agg(sum(col("n")).as("n"),
        min(col("mn")).as("mn"), max(col("mx")).as("mx"))
    val full = rollup(feed)
    assert(merged.except(full).count() == 0 && full.except(merged).count() == 0)
  }

  /** Asserts `df` declares HashPartitioning((type, ioc), n) and that every
    * row sits in partition pmod(hash(type, ioc), n), exactly where a
    * shuffle on that key would have put it — the contract that lets the
    * planner drop the (type, ioc) exchange of every consumer. */
  private def assertDeclaredLayout(name: String, df: DataFrame, n: Int): Unit = {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val declared = df.queryExecution.analyzed.asInstanceOf[LogicalRDD].outputPartitioning
    val hp = declared match {
      case h: HashPartitioning => h
      case p => fail(s"$name declares $p, not a hash partitioning")
    }
    assert(hp.numPartitions == n && df.rdd.getNumPartitions == n, s"$name: $hp")
    assert(hp.expressions.collect { case a: Attribute => a.name } == Seq("type", "ioc"),
      s"$name: $hp")
    val r = df.select(spark_partition_id().as("pid"),
        pmod(hash(col("type"), col("ioc")), lit(n)).as("want"),
        ColumnBridge.column(hp.partitionIdExpression).as("decl"))
      .agg(count(lit(1)),
        count(when(col("pid") =!= col("want") || col("pid") =!= col("decl"), true)),
        countDistinct(col("pid")))
      .head()
    assert(r.getLong(0) > 0 && r.getLong(2) > 1, s"$name: vacuous layout check $r")
    assert(r.getLong(1) == 0, s"$name: ${r.getLong(1)} rows outside their declared partition")
  }

  test("the IOC store's declared (type, ioc) layout is where every row sits") {
    val d = "/root/testdata/sf0.001"
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    for ((name, df) <- Seq("unified feed" -> SparkEntry.unifiedFeed(spark, d),
                           "sighting index" -> SparkEntry.iocSightings(spark, d)))
      assertDeclaredLayout(name, df, n)
  }

  test("the store layout helper keeps stats and drops a co-keyed consumer's exchange") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val df = spark.range(1000).select((col("id") % 7).cast("string").as("type"),
      col("id").cast("string").as("ioc"))
    // the declaration changes only the partitioning: size statistics (and
    // with them every broadcast decision) match an undeclared checkpoint
    val declared = ColumnBridge.hashClusteredCheckpoint(df, "type", "ioc")
    val plain = df.repartition(n, col("type"), col("ioc")).localCheckpoint()
    assert(declared.queryExecution.optimizedPlan.stats.sizeInBytes ==
      plain.queryExecution.optimizedPlan.stats.sizeInBytes)
    val grouped = declared.groupBy(col("ioc"), col("type")).count()
    assert(!grouped.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"),
      grouped.queryExecution.executedPlan.toString)
    assert(grouped.count() == 1000)
  }

  test("the store layout helper follows a data-sized initialPartitionNum above shuffle.partitions") {
    // Session sizes AQE's initialPartitionNum to the corpus (45 at the 10x
    // corpus on 4 cores): the store must cluster into that count, the one
    // every consumer's exchange would have shuffled to, not the core count
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val n = 3 * spark.conf.get("spark.sql.shuffle.partitions").toInt
    val df = spark.range(1000).select((col("id") % 7).cast("string").as("type"),
      col("id").cast("string").as("ioc"))
    spark.conf.set(key, n.toLong)
    try assertDeclaredLayout("initialPartitionNum store", ColumnBridge.hashClusteredCheckpoint(df, "type", "ioc"), n)
    finally spark.conf.unset(key)
  }

}
