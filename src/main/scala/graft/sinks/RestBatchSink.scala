package graft.sinks

import org.apache.spark.sql.DataFrame

/** Batched REST sink — the Spark re-expression of the reference's Splunk KV
  * writer (SURVEY.md §2.1 S8): rows are serialized to JSON, buffered to
  * `batchSize`, and POSTed as a JSON array `[r1, r2, …]`, flushing the
  * remainder at the end (payload framing per /root/reference/h-isac.py:31-43,
  * 1000-record cap per /root/reference/h-isac.py:34-36). The reference's
  * streaming path posts one record per IOC (firehose.py:131-133) — we batch
  * there too, deliberately (SURVEY.md §2.1 S9).
  *
  * Transport is pluggable: tests use a file transport; production supplies
  * an HTTP client. The sink runs per PARTITION on executors — no data moves
  * to the driver, each task opens one transport, and throughput scales with
  * executor count. Delivery is at-least-once (task retries re-post) —
  * pass `keyed = true` so records carry a deterministic `_key` and the
  * KV endpoint's upsert makes retries idempotent.
  */
trait Transport extends Serializable {
  def post(endpoint: String, payload: String): Unit
}

object RestBatchSink {

  val DefaultBatchSize = 1000 // Splunk batch_save server cap (h-isac.py:34-36)

  /** Serialize every row to JSON and POST in `batchSize` chunks, flushing the
    * remainder — executor-side, partition-parallel.
    *
    * `keyed = true` adds a deterministic `_key` (md5 of the full row JSON)
    * to every record, which is what actually MAKES the at-least-once
    * contract safe: a KV batch_save with `_key` present upserts, so a
    * retried task re-posting its chunks is idempotent. Without it the
    * server generates a fresh key per POST and every retry duplicates —
    * the reference never hits this only because single-threaded CPython
    * has no task retries. Default false preserves the reference's exact
    * payload framing for parity tests. */
  def write(df: DataFrame, endpoint: String, transport: Transport,
            batchSize: Int = DefaultBatchSize, keyed: Boolean = false): Unit = {
    import org.apache.spark.sql.functions._
    val out =
      if (keyed) df.withColumn("_key", md5(to_json(struct(df.columns.map(col): _*))))
      else df
    out.toJSON.foreachPartition { (it: Iterator[String]) =>
      it.grouped(batchSize).foreach { chunk =>
        transport.post(endpoint, "[" + chunk.mkString(", ") + "]")
      }
    }
  }
}
