package graft.operators

import org.apache.spark.sql.SparkSession

/** One-call warm-up of every memoized shared intermediate ([[graft.Memo]]):
  * the MinHash pair graph and its component labels, the IVF cell
  * assignment, the synthesized partsupp view, and the RFM per-user
  * profile.
  *
  * Production analog: these are PERSISTED tables (index builds, profile
  * roll-ups) written by their own pipeline stage and READ by the
  * dashboards — a fresh session that pays an index build inside the
  * first query that happens to touch it is measuring the build, not the
  * query. The bench calls this after session warm-up so per-query
  * timings reflect the steady state a production reader sees; each
  * build is still a real job, just attributed to setup where it
  * belongs.
  *
  * Returns the per-build wall seconds in chain/dependency order — each
  * build reads the previous memoized stages of ITS chain, so a timing is
  * that stage's INCREMENTAL cost, exactly what the production snapshot
  * pipeline pays per stage. [[graft.Bench]] emits this ledger as the
  * `"warm"` map so an index-build regression is as visible as a query
  * regression. Since r15 the independent chains run CONCURRENTLY
  * ([[PoolSize]]-thread pool, guide §2.6) — per-build rows are wall time
  * under that contention (see the `_ledger` note), and the warm phase's
  * true cost is the wall clock Bench measures around the whole call.
  */
object Warm {

  /** Concurrent chains in flight. 2-3 is the guide's own guidance (§2.6):
    * enough that a finished chain's executors are back-filled by the next,
    * not so many that the stages fight for the cores. Declared before
    * [[notes]], which interpolates it during object initialization. */
  val PoolSize = 3

  /** Reader-facing annotations for ledger rows whose cost is NOT simply
    * additive — emitted by [[graft.Bench]] as the `"warm_notes"` map in the
    * bench_last.json mirror so the file is self-describing: the IVF rows
    * carry the √n index sizing whose build cost grew O(n^1.5) → the r10
    * √n fix pinned it. */
  val notes: Seq[(String, String)] = Seq(
    "ivf_assign" -> ("index build at nlist≈√n (post-r10 sizing fix): " +
      "cost scales O(n^1.5); amortized across every sim_ivf_* query"),
    "ivf_probes" -> ("probe-set materialization over the √n-sized index; " +
      "incremental on ivf_assign — its timing is the marginal cost only"),
    "_ledger" -> ("since r15 the independent build CHAINS run on a " +
      s"$PoolSize-thread pool (guide §2.6 — the next chain's tasks " +
      "back-fill the tail of the current one); per-build seconds are " +
      "wall time UNDER THAT CONTENTION, so their sum exceeds the warm " +
      "phase's true wall clock — read warm_total (now the measured " +
      "wall) for the phase cost and the per-build rows for relative " +
      "attribution only"))

  def all(s: SparkSession, d: String): Seq[(String, Double)] = run(s, chains(s, d))

  private[graft] def chains(s: SparkSession, d: String): Seq[Seq[(String, () => Any)]] = {
    // Builds grouped into DEPENDENCY CHAINS: within a chain each build
    // READS the previous memoized stage (the snapshot-pipeline shape the
    // ledger prices), so a chain is strictly sequential; ACROSS chains
    // there are no dependencies (a stray cross-chain read would still be
    // correct — [[graft.Memo]]'s per-key locks make the reader block on
    // the owning chain's build — it would only skew that row's timing).
    // Chains are declared longest-first (r14 ledger minutes) so the pool
    // packs well. Guide §2.6: actions are only sequential because driver
    // code calls them sequentially — independent index builds back-fill
    // each other's stage tails.
    Seq(
      // perceptual-hash label family (documents)
      Seq(
        "phash_pairs" -> (() => Multimodal.phashPairs(s, d)),
        "phash_labels" -> (() => Multimodal.phashClusterLabels(s, d))),
      // co-purchase graph labels (lineitem)
      Seq(
        "graph_edges" -> (() => Graph.edges(s, d)),
        "graph_cc_labels" -> (() => Graph.ccLabels(s, d))),
      // canonical indicator store → sighting rollup → campaign labels
      Seq(
        "unified_feed" -> (() => graft.SparkEntry.unifiedFeed(s, d)),
        "ioc_sightings" -> (() => graft.SparkEntry.iocSightings(s, d)),
        "campaign_labels" -> (() => Threat.campaignLabels(s, d))),
      // shingle index family, in dependency order: 3-gram occurrences →
      // distinct set → K-minima signatures → banded pair graph → labels
      Seq(
        "shingle_occ" -> (() => Dedup.shingleOcc(s, d)),
        "shingle_rows_idx" -> (() => Dedup.shingleRowsIdx(s, d)),
        "minhash_sig" -> (() => Dedup.minhashSigCols(s, d)),
        "minhash_pairs" -> (() => Dedup.minhashPairs(s, d)),
        "cluster_labels" -> (() => Dedup.clusterLabels(s, d)),
        "pair_scored" -> (() => Dedup.pairScored(s, d))),
      // embedding index family: IVF cells → probes → LSH → the PQ store
      // (codes = the 8-bytes/vector relation every ADC query scans; lut =
      // the query-sample distance table the PQ queries broadcast;
      // pqr_codes reads the IVF assignment for residuals — same chain)
      Seq(
        "ivf_assign" -> (() => Similarity.ivfAssign(s, d)),
        "ivf_probes" -> (() => Similarity.ivfProbesAll(s, d)),
        "lsh_assign" -> (() => Similarity.lshAssign(s, d)),
        "pq_codes" -> (() => Similarity.pqCodes(s, d)),
        "pq_lut" -> (() => Similarity.pqLut(s, d)),
        "pqr_codes" -> (() => Similarity.pqrCodes(s, d)),
        // recall-gate artifacts (r15): the exact L2 + cosine ground
        // truths for the fixed query sample and the twin-class map —
        // persisted once per snapshot like a FAISS GT file; the eight
        // recall gauges score against them
        "recall_gt" -> (() => Similarity.recallGt(s, d)),
        "recall_gt_cos" -> (() => Similarity.recallGtCos(s, d)),
        "recall_cls" -> (() => Similarity.recallCls(s, d))),
      // independent per-document indexes
      Seq(
        "simhash_fp" -> (() => Dedup.simhashFp(s, d)),
        "shingle_occ5" -> (() => Corpus.shingleOcc5(s, d)),
        "token_tf" -> (() => graft.functions.TextStats.tokenTf(s, d))),
      // independent smalls
      Seq(
        "partsupp" -> (() => graft.sources.Tables.partsupp(s, d)),
        "rfm_per_user" -> (() => Events.rfmPerUser(s, d))))
  }

  /** Runs the chains on a [[PoolSize]]-thread pool and returns the ledger.
    * Every job a chain starts carries one per-call job tag, so the FIRST
    * build failure stops the whole warm: the pool is interrupted, the
    * siblings' in-flight jobs are cancelled (only this warm's, never the
    * session's other work), and the failure is rethrown unwrapped — a
    * silently-failed warm would push the index build into the first timed
    * query, and a sibling left running would hold the cores for minutes. */
  private[graft] def run(s: SparkSession,
                         chains: Seq[Seq[(String, () => Any)]]): Seq[(String, Double)] = {
    import java.util.concurrent.{Callable, ExecutionException, Executors,
      ExecutorCompletionService, TimeUnit}
    val sc = s.sparkContext
    val tag = s"graft-warm-${java.util.UUID.randomUUID()}"
    val ledger = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val pool = Executors.newFixedThreadPool(PoolSize)
    val done = new ExecutorCompletionService[Unit](pool)
    try {
      chains.foreach { chain =>
        done.submit(new Callable[Unit] {
          def call(): Unit = {
            sc.addJobTag(tag) // thread-local: tags every job this chain starts
            chain.foreach { case (name, build) =>
              val t0 = System.nanoTime()
              build()
              ledger.put(name, (System.nanoTime() - t0) / 1e9)
            }
          }
        })
      }
      // completion order, not submission order: a late chain's failure
      // must not wait behind an early chain's long build
      chains.indices.foreach { _ =>
        try done.take().get()
        catch { case e: ExecutionException =>
          pool.shutdownNow()
          sc.cancelJobsWithTag(tag)
          // a chain interrupted between two jobs may have submitted one
          // more; once every chain thread has exited, cancel again
          pool.awaitTermination(30, TimeUnit.SECONDS)
          sc.cancelJobsWithTag(tag)
          throw e.getCause
        }
      }
    } finally pool.shutdown()
    chains.flatten.map { case (name, _) => name -> ledger.get(name).doubleValue() }
  }
}
