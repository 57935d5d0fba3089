package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** The two connected-components paths of [[Dedup.componentLabels]] must
  * agree: the driver-side union-find (pair graphs up to
  * [[Dedup.DriverCcMaxEdges]] edges) and the distributed min-label loop
  * (everything larger). Random graphs come from ScalaCheck generators at
  * fixed seeds; each case unions many small random graphs into one pair
  * frame, so one distributed run covers many component shapes.
  */
class ComponentLabelsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def labels(df: DataFrame): Map[Any, Any] =
    df.collect().map(r => r.get(0) -> r.get(1)).toMap

  /** (driver labels, distributed labels) of one pair frame, asserting the
    * frame is small enough to take the driver path. */
  private def bothPaths(pairs: DataFrame): (Map[Any, Any], Map[Any, Any]) = {
    val edges = Dedup.smallPairGraph(pairs)
    assert(edges.isDefined, "pair graph should fit the driver path")
    (labels(Dedup.driverComponentLabels(pairs, edges.get)),
      labels(Dedup.distributedComponentLabels(pairs)))
  }

  /** Many random graphs over node pools drawn from `node`; pools may
    * share nodes, which links their graphs. Self-loops are allowed. */
  private def graphs[T](node: Gen[T]): Gen[Seq[(T, T)]] =
    Gen.listOfN(12, for {
      n <- Gen.choose(2, 30)
      ids <- Gen.listOfN(n, node)
      m <- Gen.choose(1, 2 * n)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    } yield es.map { case (i, j) => (ids(i), ids(j)) }).map(_.flatten.distinct)

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  test("driver union-find ≡ distributed loop on random Long graphs") {
    // negative and positive ids: numeric order differs from string order
    val gen = graphs(Gen.choose(-1000000L, 1000000L))
    (1 to 3).foreach { seed =>
      val (drv, dist) = bothPaths(sample(gen, seed).toDF("id1", "id2"))
      assert(drv.nonEmpty && drv == dist, s"seed=$seed")
    }
  }

  test("driver union-find ≡ distributed loop on random String graphs (UTF-8 order)") {
    // U+FF61 sorts BELOW U+1F600 in UTF-8 byte order (Spark's `min`) but
    // ABOVE it in UTF-16 unit order (java.lang.String.compareTo)
    val halfwidthStop = "｡"
    val grinning = "😀"
    assert(grinning.compareTo(halfwidthStop) < 0, "the pair must disagree under UTF-16 order")
    val (drv0, dist0) = bothPaths(Seq((grinning, halfwidthStop)).toDF("a", "b"))
    assert(drv0 == dist0 && drv0(grinning) == halfwidthStop, s"$drv0 vs $dist0")

    val char = Gen.oneOf("a", "z", "é", halfwidthStop, grinning, "𐀀")
    val gen = graphs(Gen.choose(1, 3).flatMap(Gen.listOfN(_, char)).map(_.mkString))
    (1 to 3).foreach { seed =>
      val (drv, dist) = bothPaths(sample(gen, seed).toDF("a", "b"))
      assert(drv.nonEmpty && drv == dist, s"seed=$seed")
    }
  }

  test("both paths return no labels for the empty graph") {
    val (drv, dist) = bothPaths(Seq.empty[(Long, Long)].toDF("id1", "id2"))
    assert(drv.isEmpty && dist.isEmpty)
  }

  test("a graph exactly at the driver cap takes the driver path; one edge more does not") {
    val cap = Dedup.DriverCcMaxEdges
    // 997 stars (node i hangs off hub i % 997): wide but shallow, so the
    // distributed loop converges in a few rounds even at this size
    def stars(n: Long) = spark.range(n).select(col("id").as("id1"), (col("id") % 997).as("id2"))
    assert(Dedup.smallPairGraph(stars(cap)).map(_.length).contains(cap))
    assert(Dedup.smallPairGraph(stars(cap + 1L)).isEmpty)
    assert(labels(Dedup.componentLabels(stars(cap))) ==
      labels(Dedup.distributedComponentLabels(stars(cap))))
    // a node type without an exact driver-side order keeps the loop
    assert(Dedup.smallPairGraph(Seq((1.5, 2.5)).toDF("id1", "id2")).isEmpty)
  }

  test("the driver path's bounded collect is one Spark job over a many-partition graph") {
    // without a single partition, `limit(cap + 1).collect()` scans 1, then
    // 4, then the rest of the 8 partitions: three jobs
    val sc = spark.sparkContext
    val group = s"component-labels-${java.util.UUID.randomUUID()}"
    val jobs = new ConcurrentHashMap[String, AtomicInteger]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.computeIfAbsent(g, _ => new AtomicInteger).incrementAndGet())
    }
    sc.addSparkListener(listener)
    try {
      // checkpointed, like the label builds' pair graphs: over a plain
      // range the optimizer drops a limit above its known row count
      val pairs = spark.range(0, 1000, 1, 8).select(col("id").as("id1"), (col("id") % 7).as("id2"))
        .localCheckpoint()
      sc.setJobGroup(group, "smallPairGraph")
      assert(Dedup.smallPairGraph(pairs).map(_.length).contains(1000))
      // the listener queue is FIFO: once a later job's start is seen, so
      // are all of the collect's
      sc.setJobGroup(group + "-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.containsKey(group + "-marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs.containsKey(group + "-marker"), "listener never saw the marker job")
      val n = Option(jobs.get(group)).map(_.get)
      assert(n.contains(1), s"bounded collect ran ${n.getOrElse(0)} jobs")
    } finally sc.removeSparkListener(listener)
  }
}
