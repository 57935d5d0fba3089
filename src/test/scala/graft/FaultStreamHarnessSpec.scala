package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the measurement harness of [[FaultInjectStream]]: the KV end state
  * is the fold-by-`_key` of every POST file, so at-least-once surplus
  * (task retries, replayed epochs re-posting whole batches) must be
  * absorbed — two post histories with the same logical records but
  * different duplication MUST digest identically, and a single changed
  * record MUST NOT. If this harness ever stopped distinguishing those, the
  * fault run's "byte-identical KV state" pass would be vacuous. */
class FaultStreamHarnessSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def post(dir: String, records: Seq[String]): Unit =
    new KvFileTransport(dir).post("https://kv.example/batch_save",
      "[" + records.mkString(", ") + "]")

  private def kvDigest(dir: String): (String, Long, Long) =
    FaultInject.digest(FaultInjectStream.kvState(spark, dir))

  private def rec(k: String, ioc: String): String =
    s"""{"_key":"$k","ioc":"$ioc","type":"ip"}"""

  test("duplicate posts (retry/replay surplus) fold to the same KV digest") {
    val clean = Files.createTempDirectory("kvspec_clean").toString
    val dup = Files.createTempDirectory("kvspec_dup").toString
    val records = (1 to 50).map(i => rec(s"k$i", s"10.0.0.$i"))
    // clean history: two posts covering the records once
    post(clean, records.take(30))
    post(clean, records.drop(30))
    // faulted history: same records, one chunk re-posted twice (task
    // retry) and one whole "epoch" replayed
    post(dup, records.take(30))
    post(dup, records.take(30))
    post(dup, records.drop(30))
    post(dup, records)
    assert(kvDigest(clean) ===
      kvDigest(dup))
  }

  test("a single divergent record changes the digest (the pass is not vacuous)") {
    val a = Files.createTempDirectory("kvspec_a").toString
    val b = Files.createTempDirectory("kvspec_b").toString
    val records = (1 to 20).map(i => rec(s"k$i", s"10.0.0.$i"))
    post(a, records)
    post(b, records.init :+ rec("k20", "10.0.0.99"))
    val (da, db) = (kvDigest(a),
      kvDigest(b))
    assert(da !== db)
    assert(da._3 === db._3) // same cardinality — the VALUES differ
  }

  test("kv row count equals distinct keys, not raw posted records") {
    val dir = Files.createTempDirectory("kvspec_n").toString
    val records = (1 to 10).map(i => rec(s"k$i", s"10.0.0.$i"))
    post(dir, records)
    post(dir, records.take(7)) // surplus
    assert(kvDigest(dir)._3 === 10L)
    // raw post files really do carry the surplus the fold absorbs
    val raw = spark.read.json(dir + "/*.json")
    assert(raw.count() === 17L)
    assert(raw.select(countDistinct(col("_key"))).head().getLong(0) === 10L)
  }
}
