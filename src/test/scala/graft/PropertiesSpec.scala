package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.extract.Iocs

/** Property-based specs (SURVEY.md §5.2): refang∘defang = identity on valid
  * IOCs, extraction idempotence on refanged text, explode row-count
  * preservation, hash-regex greediness. Generators are evaluated driver-side
  * and batched through ONE Spark job per property for speed.
  */
class PropertiesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val octet = Gen.choose(0, 255)
  private val ipGen: Gen[String] =
    for { a <- octet; b <- octet; c <- octet; d <- octet } yield s"$a.$b.$c.$d"
  private val hostGen: Gen[String] = for {
    sub <- Gen.identifier.map(_.take(8)).suchThat(_.nonEmpty)
    dom <- Gen.identifier.map(_.take(8)).suchThat(_.nonEmpty)
    tld <- Gen.oneOf("com", "net", "org", "io")
  } yield s"$sub.$dom.$tld"
  private val urlGen: Gen[String] = for {
    scheme <- Gen.oneOf("http", "https")
    host <- hostGen
    path <- Gen.identifier.map(_.take(6))
  } yield s"$scheme://$host/$path"
  private val hashGen: Gen[String] = for {
    n <- Gen.oneOf(32, 40, 64)
    cs <- Gen.listOfN(n, Gen.oneOf("0123456789abcdef".toSeq))
  } yield cs.mkString

  /** Analyst defanging, as specified in README.md:33-39. */
  private def defang(ioc: String): String =
    ioc.replace("http", "hxxp").replace(".", "[.]").replace("@", "[@]")

  private def refangAll(inputs: Seq[String]): Seq[String] =
    inputs.toDF("x").select(Iocs.refang(col("x"))).collect().map(_.getString(0)).toSeq

  test("property: refang ∘ defang = identity on IPs and URLs") {
    val samples = Gen.listOfN(80, Gen.oneOf(ipGen, urlGen)).sample.get
    assert(refangAll(samples.map(defang)) == samples)
  }

  test("property: refang is idempotent (already-fanged input unchanged)") {
    val samples = Gen.listOfN(80, Gen.oneOf(ipGen, urlGen, hashGen)).sample.get
    assert(refangAll(samples) == samples)
  }

  test("property: extraction after refang finds the same IPs (idempotence)") {
    val ips = Gen.listOfN(60, ipGen).sample.get
    val bodies = ips.map(ip => s"alert: ${defang(ip)} seen")
    val extracted = bodies.toDF("body")
      .select(Iocs.refangAll(Iocs.extractAll(col("body"), Iocs.IpDefanged)).as("a"))
      .collect().map(_.getSeq[String](0))
    assert(extracted.map(_.toList).toSeq == ips.map(List(_)))
  }

  test("property: explode preserves sum(arrayLen) == rowCount") {
    val arrays = Gen.listOfN(50, Gen.listOf(Gen.alphaStr.map(_.take(5)))).sample.get
    val df = arrays.toDF("a")
    val exploded = df.select(explode(col("a"))).count()
    assert(exploded == arrays.map(_.size).sum)
  }

  test("property: PII scrub removes every generated email/IP/URL") {
    import graft.operators.Corpus
    val local = Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaNumChar,
      Gen.oneOf('.', '_', '%', '+', '-'))).map(_.mkString)
      .suchThat(s => s.exists(_.isLetterOrDigit))
    val dom = for {
      a <- Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
      tld <- Gen.oneOf("com", "io", "net", "example")
    } yield s"$a.$tld"
    val emailGen = for { l <- local; d <- dom } yield s"$l@$d"
    val urlGen = for {
      scheme <- Gen.oneOf("http", "https"); d <- dom
      p <- Gen.listOf(Gen.alphaNumChar).map(_.mkString)
    } yield s"$scheme://$d/$p"
    val piiGen = for {
      e <- emailGen; ip <- ipGen; u <- urlGen
    } yield s"start $e mid $ip also $u end"
    val samples = Gen.listOfN(200, piiGen).sample.get
    val scrubbed = samples.toDF("text").select(
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        Corpus.UrlPat, "<URL>"), Corpus.EmailPat, "<EMAIL>"),
        Corpus.IpPat, "<IP>").as("s"))
      .collect().map(_.getString(0))
    for (s <- scrubbed) {
      assert(!s.contains("@"), s"email survived scrub: $s")
      assert(!s.matches(""".*\d+\.\d+\.\d+\.\d+.*"""), s"IP survived scrub: $s")
      assert(!s.contains("://"), s"URL survived scrub: $s")
      assert(s.contains("<EMAIL>") && s.contains("<IP>") && s.contains("<URL>"))
    }
  }

  test("property: TopKPerKeyExec ≡ window row_number filter on adversarial data") {
    // the custom physical operator must agree with the reference window
    // formulation on: duplicate keys, duplicate order-values (ties broken
    // by the id column), k larger than some groups, single-row groups,
    // and keys scattered across input partitions before the exchange
    val rows = Gen.listOfN(400, for {
      key <- Gen.choose(0, 7)
      v <- Gen.choose(0, 5) // few distinct values → heavy ties
      id <- Gen.choose(0, 1000000)
    } yield (key, v, id)).sample.get.distinctBy(_._3)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3)), 7),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("key", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.IntegerType))))
    for (k <- Seq(1, 3, 50)) {
      val heap = graft.plans.TopKPerKey.topK(df, Seq("key"),
        Seq(("v", false), ("id", true)), k)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("key")).orderBy(col("v").desc, col("id"))
      val win = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k).drop("rn")
      assert(heap.exceptAll(win).count() == 0 && win.exceptAll(heap).count() == 0,
        s"k=$k: custom exec diverges from window formulation")
    }
    // empty input → empty output, no crash
    val empty = df.filter(col("key") < 0)
    assert(graft.plans.TopKPerKey.topK(empty, Seq("key"),
      Seq(("v", true)), 3).count() == 0)
    // cap neutrality: force the flush-and-merge fallback (live-heap cap
    // far below the 8-key domain → many mid-partition flushes) and the
    // kept set must be IDENTICAL — the cap bounds memory, never results
    val saved = graft.plans.TopKPerKeyExec.MaxHeapKeys
    graft.plans.TopKPerKeyExec.MaxHeapKeys = 3
    try {
      for (k <- Seq(1, 3, 50)) {
        val heap = graft.plans.TopKPerKey.topK(df, Seq("key"),
          Seq(("v", false), ("id", true)), k)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("key")).orderBy(col("v").desc, col("id"))
        val win = df.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= k).drop("rn")
        assert(heap.exceptAll(win).count() == 0 && win.exceptAll(heap).count() == 0,
          s"k=$k: capped exec diverges from window formulation")
      }
    } finally graft.plans.TopKPerKeyExec.MaxHeapKeys = saved
  }

  test("property: TopKPerKey.topK rejects ambiguous and missing columns") {
    val df = spark.range(4).select(col("id").as("a"), col("id").as("b"))
    val dup = df.join(spark.range(4).select(col("id").as("a"), col("id").as("c")), "a")
      .select(col("a"), col("b"), col("c"), col("b").as("c"))
    intercept[IllegalArgumentException] {
      graft.plans.TopKPerKey.topK(dup, Seq("a"), Seq(("c", true)), 2)
    }
    intercept[IllegalArgumentException] {
      graft.plans.TopKPerKey.topK(df, Seq("nope"), Seq(("b", true)), 2)
    }
  }

  test("property: hash regex is greedy — exactly one match per hash token") {
    val hashes = Gen.listOfN(60, hashGen).sample.get
    val matches = hashes.map(h => s"sample $h end").toDF("b")
      .select(Iocs.extractAll(col("b"), Iocs.Hash).as("m"))
      .collect().map(_.getSeq[String](0))
    assert(matches.map(_.toList).toSeq == hashes.map(List(_)))
  }

  test("property: saltedJoin ≡ plain join under an extreme hot key") {
    // The exact shape saltedJoin exists for: one key carrying 90% of the
    // big side. Row-SET equality (with multiplicity, via sorted seqs)
    // against the plain join proves the salt is purely an execution-
    // layout change — any row duplicated or dropped by the replicate+
    // filter dance would show here.
    val big = ((1 to 900).map(i => ("hot", i.toLong)) ++
      (1 to 100).map(i => (s"k${i % 10}", i.toLong))).toDF("k", "v")
    val small = (Seq("hot") ++ (0 until 10).map(i => s"k$i"))
      .zipWithIndex.map { case (k, i) => (k, i * 100L) }.toDF("k", "w")
    val salted = graft.operators.Salting
      .saltedJoin(big, small, Seq("k"), col("v"), 16)
      .select("k", "v", "w").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val plain = big.join(small, Seq("k"))
      .select("k", "v", "w").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(salted.nonEmpty && salted == plain)
  }

  test("property: componentLabels converges on a 64-node path (shortcutting beats diameter)") {
    // A path graph is the long-diameter case for the distributed loop:
    // naive min-label propagation needs 63 rounds; on a path whose ids
    // increase along it the shortcut step doubles the reach radius per
    // round, so this must converge (no round-cap throw) well inside
    // CcMaxRounds = 20 and label every node with the path's minimum.
    // Exercises the non-convergence guard from the other side. (The
    // doubling is a property of this id layout, not a general bound.)
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("id1", "id2")
    val labels = graft.operators.Dedup.distributedComponentLabels(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels.size == 64 && labels.values.forall(_ == 0L),
      s"path not fully labeled to min: ${labels.toSeq.sorted.take(5)}...")
  }

  test("property: the distributed componentLabels loop throws when its round cap is hit") {
    // The guard itself: a loop stopped while labels still change must
    // fail, never return a partial labeling.
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("id1", "id2")
    val e = intercept[IllegalStateException](
      graft.operators.Dedup.distributedComponentLabels(edges, maxRounds = 2))
    assert(e.getMessage.contains("not converged after 2 rounds"), e.getMessage)
  }

  test("property: degree-oriented triangle count ≡ brute force on hub + cliques") {
    // Adversarial shape for orientation bugs: a hub joined to everything
    // (a naive wedge join would blow up exactly here, and a wrong
    // orientation under- or double-counts hub triangles), two overlapping
    // cliques (C(k,3) triangles each, shared nodes), and ScalaCheck noise
    // edges. Brute force = a<b<c three-way join — each triangle once.
    val hub = (1L to 20L).map(v => (0L, v))
    val clique1 = for (i <- 1L to 8L; j <- (i + 1) to 8L) yield (i, j)
    val clique2 = for (i <- 6L to 14L; j <- (i + 1) to 14L) yield (i, j)
    // arithmetic a!=b construction (b = a + 1 + k mod 30) keeps the gen
    // total — a filtered Gen's sample can return None — and the fixed
    // seed makes failures reproducible run-to-run
    val noise = Gen.listOfN(60,
      for { a <- Gen.choose(0L, 29L); k <- Gen.choose(0L, 28L) } yield {
        val b = (a + 1 + k) % 30
        (math.min(a, b), math.max(a, b))
      }).pureApply(org.scalacheck.Gen.Parameters.default,
        org.scalacheck.rng.Seed(42L))
    val edges = (hub ++ clique1 ++ clique2 ++ noise).distinct
    val e = edges.toDF("a", "b")
    val got = graft.operators.Graph.triangleStats(e)
      .select(col("n_triangles")).collect().head.getLong(0)
    val brute = e.as("e1")
      .join(e.as("e2"), col("e2.a") === col("e1.a") && col("e2.b") > col("e1.b"))
      .join(e.as("e3"), col("e3.a") === col("e1.b") && col("e3.b") === col("e2.b"))
      .count()
    assert(got == brute && got > 0,
      s"oriented count $got != brute-force $brute")
    // the same orientation credits each triangle to its three edges
    // (graph_jaccard): per edge, common = |N(a) ∩ N(b)| by brute force
    val nbrs = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    val want = edges.map { case (a, b) => (a, b) -> (nbrs(a) & nbrs(b)).size.toLong }.toMap
    val common = graft.operators.Graph.edgeJaccard(e).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) -> r.getAs[Long]("common")).toMap
    val wrong = want.collect { case (k, n) if !common.get(k).contains(n) => k -> (common.get(k), n) }
    assert(common.size == want.size, s"${common.size} edges scored of ${want.size}")
    assert(wrong.isEmpty, "edge -> (edgeJaccard common, brute-force common)")
    assert(want.values.max > 1)
  }

  test("property: funnel fold ≡ min-after-min reference on random event logs") {
    // the ordered-fold automaton (Events.funnelFold) against an
    // independent driver-side reference of the DECLARED semantics:
    // t_view = min view ts; t_click = min click ts > t_view;
    // t_purchase = min purchase ts > t_click; stage counts the non-nulls.
    // Dense ts range (0-49s) forces same-ts collisions across users and
    // types — the tie territory where a sloppy fold (>= for >, order
    // sensitivity among equal timestamps) diverges. Fixed seed.
    val evGen = Gen.listOfN(400, for {
      u <- Gen.choose(1, 25)
      t <- Gen.choose(0L, 49L)
      k <- Gen.oneOf("view", "click", "purchase", "other")
    } yield (u, t, k)).pureApply(org.scalacheck.Gen.Parameters.default,
      org.scalacheck.rng.Seed(8L))
    val df = evGen.toDF("user_id", "sec", "event_type")
      .select(col("user_id"), timestamp_seconds(col("sec")).as("ts"),
        col("event_type"))
    val got = graft.operators.Events.funnelFoldForTest(df)
      .collect()
      .map(r => r.getInt(0) -> (r.getTimestamp(1), r.getTimestamp(2), r.getTimestamp(3), r.getLong(4)))
      .toMap
    val want = evGen.groupBy(_._1).flatMap { case (u, es) =>
      val byType = es.groupBy(_._3).map { case (k, xs) => k -> xs.map(_._2).sorted }
      byType.get("view").map(_.head).map { tv =>
        val tc = byType.getOrElse("click", Nil).find(_ > tv)
        val tp = tc.flatMap(c => byType.getOrElse("purchase", Nil).find(_ > c))
        val ts = (s: Long) => java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s))
        u -> (ts(tv), tc.map(ts).orNull, tp.map(ts).orNull,
          1L + tc.size + tp.size)
      }
    }
    assert(got == want,
      s"fold diverged from reference on ${got.keySet.union(want.keySet).count(k => got.get(k) != want.get(k))} users")
  }

  test("property: RAKE fold ≡ driver-side reference on random stopword-laced docs") {
    // distributed RAKE (TextStats.rakeOn: island windows + integer-ppm
    // scores) against an independent reference of the DECLARED
    // semantics. Small vocab + stopword rate ~1/3 forces repeated words
    // ACROSS phrases (degree ≠ freq·len territory) and duplicate
    // phrases (tie-break territory). Fixed seed.
    val words = Seq("alpha", "beta", "gamma", "delta", "the", "of", "in")
    val docGen = Gen.listOfN(40, Gen.listOfN(30,
      Gen.oneOf(words)).map(_.mkString(" ")))
      .pureApply(org.scalacheck.Gen.Parameters.default, org.scalacheck.rng.Seed(21L))
    val docs = docGen.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val got = graft.functions.TextStats.rakeOn(docs.toDF("doc_id", "text"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getLong(3), r.getLong(4))).toMap
    val stop = graft.functions.TextStats.stopEn.toSet
    val want = docs.flatMap { case (id, text) =>
      // phrases: maximal stopword-free runs, in order, with their pid =
      // count of stopwords before the run (the island key)
      val toks = text.toLowerCase.split(" ", -1)
      val phrases = scala.collection.mutable.ListBuffer[(Long, Vector[String])]()
      var pid = 0L; var cur = Vector.empty[String]
      toks.foreach { t =>
        if (stop(t)) { if (cur.nonEmpty) phrases += ((pid, cur)); cur = Vector.empty; pid += 1 }
        else cur :+= t
      }
      if (cur.nonEmpty) phrases += ((pid, cur))
      val occs = phrases.toList.flatMap { case (_, ws) => ws.map(_ -> ws.length) }
      val wscore = occs.groupBy(_._1).map { case (w, xs) =>
        w -> xs.map(_._2.toLong).sum * 1000000L / xs.length }
      phrases.toList.map { case (p, ws) =>
        (id, p, ws.mkString(" "), ws.map(wscore).sum, ws.length.toLong) }
        .sortBy { case (_, p, ph, sc, _) => (-sc, ph, p) }
        .take(3).zipWithIndex
        .map { case ((_, _, ph, sc, nw), i) => (id, i + 1L) -> (ph, sc, nw) }
    }.toMap
    assert(got == want,
      s"RAKE diverged on ${got.keySet.union(want.keySet).count(k => got.get(k) != want.get(k))} rows")
  }
}
