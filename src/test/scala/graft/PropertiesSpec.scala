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

  test("property: incremental label maintenance ≡ full relabel on adversarial splits") {
    // Every delta shape the contracted-graph propagation must handle:
    //  - a delta edge INSIDE one base component (self-loop after
    //    contraction: no-op)
    //  - a BRIDGE merging two base components (labels must unify to the
    //    smaller component's min)
    //  - a delta-only chain of BRAND-NEW nodes (no base label at all)
    //  - a new node with an id SMALLER than the component min it joins
    //    (the merged label must become the new node)
    //  - a chain of bridges merging THREE components transitively in one
    //    delta batch (needs propagation on the contracted graph, not one
    //    join)
    // plus ScalaCheck random graphs with a random edge split. Both fold
    // paths run on every split: the driver union-find these sizes pick,
    // and the distributed contracted-graph fold, called directly.
    val D = graft.operators.Dedup
    def full(pairs: Seq[(Long, Long)]) =
      D.componentLabels(pairs.toDF("id1", "id2"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    def incr(base: Seq[(Long, Long)], delta: Seq[(Long, Long)]) = {
      val (b, d) = (D.componentLabels(base.toDF("id1", "id2")), delta.toDF("id1", "id2"))
      def labels(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val drv = labels(D.componentLabelsIncremental(b, d))
      assert(drv == labels(D.distributedComponentLabelsIncremental(b, d)),
        s"driver and distributed folds disagree on base=$base delta=$delta")
      drv
    }

    // hand-built: components {10,11,12}, {20,21}, {30,31}, {40,41}
    val base = Seq((10L, 11L), (11L, 12L), (20L, 21L), (30L, 31L), (40L, 41L))
    val delta = Seq(
      (10L, 12L),  // internal: contraction self-loop
      (12L, 20L),  // bridge 10s↔20s
      (21L, 30L),  // chain: merges 30s into the same group transitively
      (100L, 101L), (101L, 102L), // brand-new chain
      (5L, 40L))   // new node BELOW the component min it joins
    val got = incr(base, delta)
    assert(got == full(base ++ delta),
      s"hand-built divergence: $got vs ${full(base ++ delta)}")
    assert(got(30L) == 10L && got(21L) == 10L, s"transitive merge broken: $got")
    assert(got(41L) == 5L && got(5L) == 5L, s"below-min new node broken: $got")
    assert(got(102L) == 100L, s"new-only chain broken: $got")

    // randomized: 40-node random graphs, random ~1/4 delta split
    val gen = Gen.listOfN(50,
      for { a <- Gen.choose(0L, 39L); k <- Gen.choose(0L, 38L) } yield {
        val b = (a + 1 + k) % 40
        (math.min(a, b), math.max(a, b))
      })
    (1 to 3).foreach { seed =>
      val edges = gen.pureApply(org.scalacheck.Gen.Parameters.default,
        org.scalacheck.rng.Seed(seed.toLong)).distinct
      val (d2, b2) = edges.partition { case (a, b) => (a * 31 + b) % 4 == 0 }
      assert(incr(b2, d2) == full(edges), s"random seed=$seed divergence")
    }
  }

  test("property: incremental ≡ full relabel on String nodes, on both fold paths") {
    // String labels are the UTF-8-byte-order minimum (Spark's `min`): the
    // driver fold must not fall back to java.lang.String's UTF-16 order,
    // under which U+1F600 sorts BELOW U+FF61
    val D = graft.operators.Dedup
    val (lo, hi) = ("｡", "😀")
    assert(hi.compareTo(lo) < 0, "the pair must disagree under UTF-16 order")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1))).toMap
    val char = Gen.oneOf("a", "z", "é", lo, hi, "𐀀")
    val node = Gen.choose(1, 3).flatMap(Gen.listOfN(_, char)).map(_.mkString)
    val gen = Gen.listOfN(40, Gen.zip(node, node))
    val splits = Seq((Seq((hi, hi + hi), ("x", "y")), Seq((hi + hi, lo), ("y", "z")))) ++
      (1 to 3).map { seed =>
        val es = gen.pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed.toLong)).distinct
        es.partition { case (a, b) => (a + b).hashCode % 4 != 0 }
      }
    splits.zipWithIndex.foreach { case ((base, delta), i) =>
      val b = D.componentLabels(base.toDF("a", "b"))
      val d = delta.toDF("a", "b")
      val want = labels(D.componentLabels((base ++ delta).toDF("a", "b")))
      if (i == 0) assert(want(hi) == lo && want("z") == "x", s"UTF-8 minimum lost: $want")
      assert(labels(D.componentLabelsIncremental(b, d)) == want, s"driver fold, split $i")
      assert(labels(D.distributedComponentLabelsIncremental(b, d)) == want,
        s"distributed fold, split $i")
    }
  }

  test("property: an incremental fold just over the driver cap runs distributed, ≡ full relabel") {
    // the cap counts base label rows PLUS delta edges: a total of cap + 1
    // must leave the driver path even though the delta alone is tiny
    val D = graft.operators.Dedup
    val cap = D.DriverCcMaxEdges.toLong
    // yesterday's labels over cap - 2 nodes: pairs {2k, 2k+1} labeled 2k
    val base = spark.range(cap - 2)
      .select(col("id").as("node"), (col("id") - col("id") % 2).as("lbl"))
    // bridges chaining {0,1}, {2,3}, {4,5}, and a pair of new nodes
    val delta = Seq((1L, 2L), (3L, 4L), (cap, cap + 2)).toDF("id1", "id2")
    val edges = base.select(col("node").as("id1"), col("lbl").as("id2")).unionByName(delta)
    assert(D.smallPairGraph(edges).isEmpty, "cap + 1 rows must not fit the driver path")
    val got = D.componentLabelsIncremental(base, delta).localCheckpoint()
    val want = D.componentLabels(base.filter(col("node") =!= col("lbl"))
      .select(col("node").as("id1"), col("lbl").as("id2")).unionByName(delta))
    assert(got.count() == cap && got.except(want).count() == 0 && want.except(got).count() == 0)
    val m = got.filter(col("node").isin(0L, 1L, 3L, 4L, 5L, 6L, cap - 3, cap, cap + 2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(m == Map(0L -> 0L, 1L -> 0L, 3L -> 0L, 4L -> 0L, 5L -> 0L, 6L -> 6L,
      cap - 3 -> (cap - 4), cap -> cap, (cap + 2) -> cap), s"$m")
  }

  test("property: ITERATED incremental folds ≡ full relabel (multi-day deltas)") {
    // The nightly pipeline folds day k's delta into day k-1's
    // INCREMENTALLY-built label map, not into a fresh full snapshot.
    // That is sound only if the fold preserves the invariant its own
    // equivalence proof leans on — a label IS the min node of its
    // component (the min over merged {labels ∪ new ids} is then the min
    // over the merged node set). This pins the iterated case: three
    // waves chained onto each other's OUTPUT, each wave re-checked
    // against a from-scratch relabel of everything seen so far, with the
    // adversarial shapes spread ACROSS waves (a bridge in wave 2 merging
    // wave-1 components; a below-min new node arriving LAST).
    val D = graft.operators.Dedup
    def full(pairs: Seq[(Long, Long)]) =
      D.componentLabels(pairs.toDF("id1", "id2"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val base = Seq((10L, 11L), (20L, 21L), (30L, 31L))
    val waves = Seq(
      Seq((11L, 12L), (100L, 101L)),          // grow a component + new chain
      Seq((12L, 20L), (101L, 30L)),           // bridges merging wave-1 results
      Seq((5L, 21L), (21L, 31L), (100L, 102L))) // below-min node + a bridge
                                              // chaining BOTH wave-2 merges
                                              // through the contracted graph
    var lbl = D.componentLabels(base.toDF("id1", "id2"))
    var seen = base
    waves.zipWithIndex.foreach { case (w, i) =>
      lbl = D.componentLabelsIncremental(lbl, w.toDF("id1", "id2"))
        .localCheckpoint() // sever lineage as the persisted nightly table would
      seen = seen ++ w
      val got = lbl.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == full(seen), s"wave ${i + 1} diverged: $got vs ${full(seen)}")
    }
    // after wave 3 the 5-node arrival owns the whole merged component
    val end = lbl.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(end(31L) == 5L && end(12L) == 5L && end(100L) == 5L,
      s"below-min arrival must relabel the merged component: $end")

    // randomized: 3-way random wave split, chained, vs full each step
    val gen = Gen.listOfN(60,
      for { a <- Gen.choose(0L, 34L); k <- Gen.choose(0L, 33L) } yield {
        val b = (a + 1 + k) % 35
        (math.min(a, b), math.max(a, b))
      })
    (1 to 2).foreach { seed =>
      val edges = gen.pureApply(org.scalacheck.Gen.Parameters.default,
        org.scalacheck.rng.Seed(seed.toLong + 7)).distinct
      val parts = edges.groupBy { case (a, b) => ((a * 31 + b) % 3).toInt }
      val b0 = parts.getOrElse(0, Nil)
      var l = D.componentLabels(b0.toDF("id1", "id2"))
      var s2 = b0
      Seq(1, 2).foreach { k =>
        val w = parts.getOrElse(k, Nil)
        if (w.nonEmpty) {
          l = D.componentLabelsIncremental(l, w.toDF("id1", "id2")).localCheckpoint()
          s2 = s2 ++ w
          assert(l.collect().map(r => (r.getLong(0), r.getLong(1))).toMap == full(s2),
            s"random seed=$seed wave=$k divergence")
        }
      }
    }
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
    val e = (hub ++ clique1 ++ clique2 ++ noise).distinct
      .toDF("a", "b")
    val got = graft.operators.Graph.triangleStats(e)
      .select(col("n_triangles")).collect().head.getLong(0)
    val brute = e.as("e1")
      .join(e.as("e2"), col("e2.a") === col("e1.a") && col("e2.b") > col("e1.b"))
      .join(e.as("e3"), col("e3.a") === col("e1.b") && col("e3.b") === col("e2.b"))
      .count()
    assert(got == brute && got > 0,
      s"oriented count $got != brute-force $brute")
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
