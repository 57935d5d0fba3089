package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import graft.sinks.Transport

/** The benchmark's REST transport: keeps every payload for the ground-truth
  * check and counts posts and bytes, instead of sending them. Spark runs it
  * on executor threads of this JVM (`local[N]`), so the state is static. */
final class CountingTransport extends Transport {
  def post(endpoint: String, payload: String): Unit = {
    val t0 = System.nanoTime()
    CountingTransport.payloads.add(payload)
    CountingTransport.bytes.addAndGet(payload.length.toLong)
    CountingTransport.posts.incrementAndGet()
    CountingTransport.postNanos.addAndGet(System.nanoTime() - t0)
  }
}

object CountingTransport {
  val Endpoint = "storage/collections/data/iocs/batch_save"
  private[perfbench] val payloads = new ConcurrentLinkedQueue[String]()
  val posts = new AtomicLong
  val bytes = new AtomicLong
  val postNanos = new AtomicLong

  /** Payloads posted since the last drain. */
  def drain(): Vector[String] = {
    val b = Vector.newBuilder[String]
    var p = payloads.poll()
    while (p != null) { b += p; p = payloads.poll() }
    b.result()
  }

  def reset(): Unit = {
    payloads.clear(); posts.set(0); bytes.set(0); postNanos.set(0)
  }
}
