package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Similarity search over the `embeddings` table (64-dim float vectors) —
  * cosine top-k through the IVF inverted file (each query probes its
  * nearest cells), plus an SRP-LSH bucketed variant as the alternative
  * index (BASELINE.json north star).
  *
  * Numeric determinism: all arithmetic is IEEE double with a FIXED operand
  * order — elements are widened float→double (exact), multiplied pairwise,
  * and summed by a sequential left fold. Spark's `aggregate` HOF and
  * DuckDB's `list_sum` are both sequential left folds (verified with
  * order-sensitive probes), so results are bit-identical across engines with
  * no decimal machinery and full codegen speed.
  *
  * Scale design: brute force is O(n²·d) — correct at any n but quadratic,
  * so only the fixed-sample ground truth runs it; every search buckets
  * first. `sim_lsh_buckets` computes
  * sign-random-projection buckets (md5-derived hyperplane signs, so the
  * oracle reproduces them); candidate generation then joins within buckets
  * only — the same shuffle-on-bucket shape as Dedup's MinHash LSH. Top-k
  * ranking is a single window over the candidate pairs, shuffled by query id.
  * Each pipeline is written once as a private kernel — IVF probe search
  * ([[ivfSearch]]), capped LSH search ([[lshCapped]], [[lshTopK]]),
  * recall scoring ([[recallAt]]), ADC ranking ([[adcTopK]]) — and every
  * query instantiates it; the DuckDB oracle has one SQL builder per kernel.
  * The quantization stack (scalar int8, IVF-PQ with ADC scoring) trades
  * exactness for the 4-32× storage/IO cut that makes the vector store
  * scannable at all; `embed_label_centroids` is the distributed
  * vector-mean (class centroids) over the same fixed-point discipline.
  */
object Similarity {

  /** Sequential-left-fold dot product in double — bit-stable given a fixed
    * element order (the array order). Backed by the codegen'd [[
    * graft.functions.ArrayDot]] expression: identical operand order to the
    * `aggregate(zip_with(...))` HOF formulation (so oracle results are
    * unchanged) but compiled to a tight loop — the interpreted HOF was the
    * whole similarity benchmark cost. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.array_dot(a, b)

  def normSq(a: Column): Column = dot(a, a)

  val TopK = 5

  /** Cosine threshold for `sim_range_search` — the "everything at least
    * this similar" cut. Tuned to the synthetic embedding geometry (top-k
    * cosines top out ≈ 0.51); production sets it from the duplicate/
    * related boundary of the real embedding space. */
  val RangeTau = 0.35

  /** Sign-random-projection bucket: for H pseudo-hyperplanes, the sign of
    * dot(v, h_j) where h_j components are ±1 derived from md5(j:i) parity —
    * reproducible in SQL, no RNG.
    *
    * The hyperplane matrix is CONSTANT — it depends only on (plane, dim) —
    * so the md5 parities are computed once on the driver ([[srpSigns]])
    * and each plane becomes one codegen [[graft.functions.ArrayDot]]
    * against a ±1 literal vector; the expression formulation re-derived
    * the matrix per ROW (Hyperplanes × dims md5 calls per vector — pure
    * waste at any scale). Bit-equality with the md5-expression
    * formulation (x·(±1.0) ≡ ±x in IEEE, same fold order) is asserted in
    * OperatorsSpec, and the DuckDB oracle still derives the signs from
    * md5 in SQL. */
  val Hyperplanes = 8

  /** Embedding width (the PQ geometry covers it exactly: PqM·PqSub). */
  val Dim = 64

  /** ±1 hyperplane components: parity of the first hex digit of
    * md5("j:i") — the identical derivation the oracle runs in SQL. */
  private lazy val srpSigns: Array[Array[Double]] =
    Array.tabulate(Hyperplanes, Dim) { (j, i) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$j:$i".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      if (Integer.parseInt(hex.substring(0, 1), 16) % 2 == 0) 1.0 else -1.0
    }

  def srpBucket(emb: Column): Column =
    concat_ws("", (0 until Hyperplanes).map { j =>
      when(dot(emb, lit(srpSigns(j))) > 0, "1").otherwise("0")
    }: _*)

  /** The md5-expression twin of [[srpBucket]] — kept as the reference
    * formulation OperatorsSpec equality-checks the literal-matrix fast
    * path against (and the shape the oracle mirrors). */
  private[graft] def srpBucketExpr(emb: Column): Column =
    concat_ws("", transform(sequence(lit(0), lit(Hyperplanes - 1)), j => {
      val s = aggregate(
        zip_with(emb, sequence(lit(0), size(emb) - 1),
          (x, i) => when(
            conv(substring(md5(concat(j.cast("string"), lit(":"), i.cast("string"))), 1, 1), 16, 10)
              .cast("int") % 2 === 0, x.cast("double")).otherwise(-x.cast("double"))),
        lit(0.0), (acc, v) => acc + v)
      when(s > 0, "1").otherwise("0")
    }))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ANN cosine top-k for every vector, via the IVF inverted file: probe
    // each query's 2 nearest cells, exact-re-rank only the vectors assigned
    // to those cells. Candidate volume is n·probes·cellsize (~128 per
    // query), never n² — the pair join shuffles on `cell`, the re-rank
    // window on `qid`. Recall is the IVF trade (a true neighbor living in
    // an unprobed cell is missed); the oracle mirrors the identical probe
    // restriction, so both engines agree exactly. The pre-round-2
    // brute-force crossJoin formulation is gone: at 100 TB the bucketed
    // path must BE the path, with brute force at most a per-bucket step.
    // DELIBERATE exact baseline: all n queries × probed cells is n^1.5
    // by construction — it ships to PRICE the exhaustive answer against
    // the serving paths (`sim_ivf_probe`, `sim_lsh_topk`) and to feed
    // the fixed-sample recall gates. The pairing is machine-checked in
    // PlanShapeSpec ("deliberate exact baselines"): the sublinear twin
    // must stay shipped and faster at the measured 10× point.
    "sim_cosine_topk" -> ((s, d) =>
      topPerQuery(ivfSearch(s, d, qcap = None), TopK, byCosine: _*)
        .select(col("qid"), col("vec_id").as("nid"), col("cosine"), col("rank"))
        .orderBy(col("qid"), col("rank"))),

    // FILTERED vector search — ANN under a metadata predicate (here:
    // neighbors must share the query's label, the "similar items in my
    // category" query every vector store now fields). The filter is a
    // PRE-filter: applied to candidates before ranking, so the top-k are
    // the best k *qualifying* neighbors — a post-filter would return
    // fewer than k whenever the filter is selective. Same IVF probe
    // machinery and cost; the selectivity trap is documented in
    // DEPLOYMENT.md (a 1%-selective filter needs ~100× more probes for
    // the same effective k — probe count must scale with 1/selectivity).
    // First 50 queries (the sim_recall sample discipline) keep the
    // oracle's candidate CTE cheap.
    "sim_filtered_topk" -> ((s, d) =>
      topPerQuery(ivfSearch(s, d, Some(50), carry = Seq("label"))
          .filter(col("n_label") === col("q_label")), TopK, byCosine: _*)
        .select(col("qid"), col("vec_id").as("nid"),
          col("n_label").as("label"), col("cosine"), col("rank"))
        .orderBy(col("qid"), col("rank"))),

    // RANGE search — every neighbor with cosine ≥ τ, not the best k:
    // the dedup/compliance question ("find ALL near-matches") where
    // top-k silently truncates. Same IVF probe machinery as the top-k
    // path (candidates are n·probes·cellsize, never n²); the threshold
    // replaces the rank window entirely, so the plan is join + filter
    // with NO window — cheaper than top-k at the same probe budget. The
    // result-set size is τ-controlled, not k-controlled: DEPLOYMENT's
    // selectivity discipline applies (a loose τ on a dense space can
    // return O(cellsize) rows per query by design). First-50 query
    // sample, the sim_recall oracle discipline.
    "sim_range_search" -> ((s, d) =>
      ivfSearch(s, d, Some(50))
        // integer-ppm discipline (same as the rest of the suite): emit
        // floor(cosine·1e6) and threshold on the INTEGER, so a cosine
        // within a few ulps of τ can't flip inclusion between engines
        // if evaluation order ever differs (codegen vs row-at-a-time)
        .withColumn("cosine_ppm", floor(col("cosine") * 1e6).cast("long"))
        .filter(col("cosine_ppm") >= (RangeTau * 1e6).toLong)
        .select(col("qid"), col("vec_id").as("nid"), col("cosine_ppm"))
        .orderBy(col("qid"), col("nid"))),

    // scale path: SRP-LSH bucket population — the index-health inventory
    // (reads the ONE memoized assignment table the search serves from;
    // a bucket approaching LshMaxBucket here is the signal to raise H).
    "sim_lsh_buckets" -> ((s, d) =>
      lshAssign(s, d)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("min_vec_id"))
        .orderBy(col("bucket"))),

    // LSH-bucketed ANN top-k — the hash-table alternative to the IVF
    // probe path: candidates are exactly the query's own-bucket cohabitants
    // (Σ_b n_b² pairs, never n²; expected n_b = n/2^H, skew capped by
    // LshMaxBucket), re-ranked by exact cosine. Unlike IVF there is no
    // centroid training step — the index is one narrow projection pass —
    // which is the trade: recall comes only from probe multiplicity
    // (sim_lsh_recall measures it), not from data-adaptive cells. The pair
    // join shuffles on the H-bit bucket string; the rank window on qid.
    "sim_lsh_topk" -> ((s, d) =>
      lshTopK(s, d, qcap = None)
        .select(col("qid"), col("vec_id").as("nid"), col("cosine"), col("rank"))
        .orderBy(col("qid"), col("rank"))),

    // The SRP-LSH recall gate, with the MULTIPROBE tuning curve folded in:
    // per query (first-RecallQueries sample, the sim_recall discipline),
    // what fraction of the TRUE cosine top-k is reachable (a) in the
    // query's own bucket, (b) adding the H one-bit-flip probe buckets.
    // Candidate recall is the metric the H/probe knobs directly control —
    // re-rank cannot recover a neighbor the probe set never reaches.
    // Exact ground truth is the same one-pass corpus × broadcast-sample
    // join sim_recall uses; the probe side joins the tiny probe list to
    // the memoized assignment on bucket, so nothing here is quadratic.
    "sim_lsh_recall" -> ((s, d) => {
      // a neighbor lives in exactly ONE bucket, but min(lvl) keeps the
      // per-(qid, nid) row unique by construction even if probe lists
      // ever overlap (e.g. a future multi-table variant).
      // The candidate side reads the CAPPED postings sim_lsh_topk serves
      // from: the gate must measure the recall the capped index can
      // actually reach, not uncapped probe reachability the serving path
      // never sees.
      val cand = lshProbes(s, d)
        .join(lshCapped(s, d).select(col("vec_id").as("nid"), col("bucket").as("pbucket")),
          Seq("pbucket"))
        .filter(col("nid") =!= col("qid"))
        .groupBy(col("qid"), col("nid")).agg(min(col("lvl")).as("lvl"))
      recallGtCos(s, d).join(cand, Seq("qid", "nid"), "left")
        .groupBy(col("qid"))
        .agg(count(when(col("lvl") === 0, lit(1))).as("n_hits_own"),
          count(col("lvl")).as("n_hits_mp"))
        .select(col("qid"),
          col("n_hits_own"),
          (col("n_hits_own").cast("double") / lit(TopK)).as("recall_own"),
          col("n_hits_mp"),
          (col("n_hits_mp").cast("double") / lit(TopK)).as("recall_mp"))
        .orderBy(col("qid"))
    }),

    // Incremental vector-index admission — the vector-store twin of
    // dedup_incremental: today's arrivals (vec_id % 10 = 0, the suite's
    // split convention) probe the EXISTING index (own bucket + one-bit
    // flips) and are admitted unless a probed old vector clears the
    // cosine duplicate threshold. Only new×old is ever compared — the
    // old×old work was done when those vectors arrived, and the per-probe
    // candidate list is bucket-capped exactly like the MinHash admission
    // index (a hot bucket degrades recall, never cost). Admission joins
    // back to ALL arrivals so admitted vectors surface with dup_of NULL.
    // The batch gate IS the streaming gate ([[lshAdmitted]] over
    // [[lshOldIndex]]) run over the whole day's arrivals at once.
    "sim_incremental" -> ((s, d) =>
      lshAdmitted(Tables.embeddings(s, d).filter(isArrival), lshOldIndex(s, d))
        .orderBy(col("vec_id"))),

    // Index-migration A/B gate: per query (the recall-sample discipline),
    // how much of the IVF 2-probe top-k the SRP-LSH own-bucket top-k
    // reproduces — the agreement metric a team watches while switching
    // index technology (both recall gates score each index against exact
    // ground truth; THIS query scores them against each other, which is
    // what an online A/B actually observes). Both sides read their
    // memoized index tables; the comparison is a full outer join of two
    // ≤k-row-per-query lists — nothing corpus-sized moves.
    "sim_index_agreement" -> ((s, d) => {
      val ivf = topPerQuery(ivfSearch(s, d, Some(RecallQueries)), TopK, byCosine: _*)
        .select(col("qid"), col("vec_id").as("nid"), lit(1).as("in_ivf"))
      val lsh = lshTopK(s, d, Some(RecallQueries))
        .select(col("qid"), col("vec_id").as("nid"), lit(1).as("in_lsh"))
      ivf.join(lsh, Seq("qid", "nid"), "full")
        .groupBy(col("qid"))
        .agg(count(col("in_ivf")).as("n_ivf"),
          count(col("in_lsh")).as("n_lsh"),
          count(when(col("in_ivf") === 1 && col("in_lsh") === 1, lit(1))).as("n_common"))
        .withColumn("agreement_ppm", expr(s"n_common * 1000000 div $TopK"))
        .orderBy(col("qid"))
    }),

    // IVF coarse quantization: deterministic seed centroids (every 64th
    // vector), each vector assigned to its nearest centroid by exact L2
    // (nsq_v − 2·dot + nsq_c, all left-fold doubles → bit-stable).
    // At 100 TB: centroids broadcast, assignment is one narrow pass; the
    // inverted file is the shuffle key for search.
    "sim_ivf_cells" -> ((s, d) => {
      val asg = ivfAssign(s, d)
      asg.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("min_vec_id"))
        .orderBy(col("cell"))
    }),

    // per-label mean embedding (class centroids) — the distributed
    // vector-mean: posexplode to (label, dim, x), fixed-point quantize
    // (floor(x·10⁴) — unambiguous in both engines, same trick as the
    // int8 codes below), ONE (label, dim) aggregation whose map-side
    // partials absorb the 64× dimension fan-out before the shuffle, then
    // an exact integer-sum → IEEE division. The output is (labels × dims)
    // rows — tiny at any corpus size.
    // One Lloyd refinement round of k-means (seed → assign → update →
    // re-assign) — the index-training step IVF presupposes (`MaxCentroids`
    // documents "train k-means offline"; this IS that trainer, expressed
    // Spark-first). Every stage is the established bit-stable machinery:
    // assignment is the exact-L2 argmin of the IVF path; the centroid
    // update quantizes components to floor(x·10⁴) BEFORE summing (integer
    // sums — order-free at any partitioning), and the mean sxq/(n·10⁴) is
    // one correctly-rounded double division, so updated centroids are
    // bit-identical in both engines. The K-row centroid table is
    // localCheckpoint'ed (it feeds both the re-assignment broadcast and
    // the fingerprint join — without the cut its corpus-wide subtree
    // would run twice) — in production each iteration persists its
    // centroids exactly like this. Per-iteration cost: 2 narrow corpus
    // passes (assign, update partials) + a K×dim shuffle of partials;
    // more rounds = the same query iterated, K scales like MaxCentroids.
    "embed_kmeans" -> ((s, d) => {
      val e = embeddingsNsq(s, d)
      def nearest(cents: DataFrame): DataFrame = {
        val w = Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("sid"))
        e.crossJoin(broadcast(cents))
          .withColumn("dist",
            col("nsq") - lit(2.0) * dot(col("embedding"), col("se")) + col("snsq"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("vec_id"), col("sid").as("cell"))
      }
      val seeds0 = e.filter(isSeed(KmeansK.toLong, 64L))
        .select(col("vec_id").as("sid"), col("embedding").as("se"),
          col("nsq").as("snsq"))
      val upd = nearest(seeds0).join(e, Seq("vec_id"))
        .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .withColumn("xq", floor(col("x").cast("double") * 10000).cast("long"))
        .groupBy(col("cell"), col("dim"))
        .agg(sum(col("xq")).as("sxq"), count(lit(1)).as("n"))
        .withColumn("c", col("sxq").cast("double") / (col("n") * lit(10000.0)))
      val cents1 = upd.groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("ds"),
          sum(floor(col("c") * 1000000).cast("long")).as("centroid_fp"))
        .select(col("cell").as("sid"),
          transform(col("ds"), x => x("c")).as("se"), col("centroid_fp"))
        .withColumn("snsq", normSq(col("se")))
        .localCheckpoint()
      nearest(cents1.select(col("sid"), col("se"), col("snsq")))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("min_vec_id"))
        .join(broadcast(cents1.select(col("sid").as("cell"), col("centroid_fp"))),
          Seq("cell"))
        .orderBy(col("cell"))
    }),

    "embed_label_centroids" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .withColumn("xq", floor(col("x").cast("double") * 10000).cast("long"))
        .groupBy(col("label"), col("dim"))
        .agg(count(lit(1)).as("n"), sum(col("xq")).as("sxq"))
        .select(col("label"), col("dim"),
          (col("sxq").cast("double") / (col("n") * lit(10000.0))).as("centroid"))
        .orderBy(col("label"), col("dim"))),

    // Per-DIMENSION variance ranking — the feature-selection/whitening
    // diagnostic next to the per-label views: a near-constant dimension
    // carries no retrieval signal (PQ codebooks waste bits on it), a
    // runaway one dominates unnormalized L2. All integer: q = floor(x·1e4)
    // per element, one (dim)-keyed agg of (n, Σq, Σq²) with map-side
    // partials absorbing the 64× fan-out, variance as the scaled integer
    // n·Σq² − (Σq)² — order-free, bit-identical on both engines, and the
    // ranking it exists for is monotone in it (divide by n² off-engine
    // for the real variance). Accumulation is DECIMAL(38,0): long sums
    // wrap silently where DuckDB widens to HUGEINT, so the decimal path
    // is what keeps the engines agreeing past the tested SFs (same
    // rationale as events_cov_value_hour).
    "sim_dim_variance" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .withColumn("q", floor(col("x").cast("double") * 10000).cast("long"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n"),
          sum(col("q").cast("decimal(38,0)")).as("sqd"),
          sum((col("q") * col("q")).cast("decimal(38,0)")).as("sq2d"))
        .select(col("dim"), col("n"),
          col("sqd").cast("long").as("sq"), col("sq2d").cast("long").as("sq2"),
          (col("n").cast("decimal(38,0)") * col("sq2d") - col("sqd") * col("sqd"))
            .cast("long").as("var_scaled"))
        .orderBy(col("dim"))),

    // Centroid DRIFT between two halves of the corpus (vec_id parity is
    // the deterministic stand-in for before/after-re-embed snapshots) —
    // the retrain-the-IVF-index trigger: when per-label centroids move,
    // the coarse quantizer's cells no longer fit the data and recall
    // decays silently (sim_recall measures the symptom; this measures the
    // cause). Statistic: Σ_dims |sq_a·n_b − sq_b·n_a| over fixed-point
    // (1e-4) per-dim sums — the cross-scaled L1 shift, DIVISION-FREE so
    // both engines agree exactly (an integer mean would need floor-div
    // sign conventions; a double mean would need IEEE luck). At 100 TB
    // swap the long products for DECIMAL(38,0) accumulators — the bound
    // here (|sq| ≤ n·2e4, n ≤ 1e5) keeps the product well inside int64.
    "sim_centroid_shift" -> ((s, d) => {
      val g = Tables.embeddings(s, d)
        .select(col("label"), (col("vec_id") % 2).as("half"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .withColumn("q", floor(col("x").cast("double") * 10000).cast("long"))
        .groupBy(col("label"), col("dim"))
        .agg(coalesce(sum(when(col("half") === 0, col("q"))), lit(0L)).as("sq_a"),
          coalesce(sum(when(col("half") === 1, col("q"))), lit(0L)).as("sq_b"),
          sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_b"))
      g.withColumn("dshift", abs(col("sq_a") * col("n_b") - col("sq_b") * col("n_a")))
        .groupBy(col("label"))
        .agg(min(col("n_a")).as("n_a"), min(col("n_b")).as("n_b"),
          sum(col("dshift")).as("l1_shift_scaled"))
        .orderBy(col("label"))
    }),

    // 1-NN label agreement through the served IVF index — the embedding-
    // QUALITY measurement (a kNN-classifier probe): if nearest neighbors
    // don't share labels, the encoder (or the index's recall) is failing
    // before any downstream model sees the vectors. Reuses the exact
    // sim_cosine_topk machinery at k=1 and rolls up per label; accuracy
    // is a small-integer ratio — bit-stable. Run next to sim_recall after
    // every re-embedding: recall isolates the INDEX, this isolates the
    // GEOMETRY.
    // The labels ride the search as carried columns, so the roll-up needs
    // no join back to the embeddings.
    "sim_knn_acc" -> ((s, d) =>
      topPerQuery(ivfSearch(s, d, qcap = None, carry = Seq("label")), 1, byCosine: _*)
        .groupBy(col("q_label"))
        .agg(count(lit(1)).as("n_queries"),
          count(when(col("q_label") === col("n_label"), true)).as("n_agree"))
        .select(col("q_label"), col("n_queries"), col("n_agree"),
          (col("n_agree").cast("double") / col("n_queries")).as("knn_acc"))
        .orderBy(col("q_label"))),

    // Inverted-file balance report — the count-of-cell-sizes histogram.
    // IVF probe cost and recall both assume roughly even cells; a drifting
    // corpus concentrates into few cells (this report's tail grows) and
    // the fix is retraining centroids, not more probes. Two tiny
    // aggregations over the assignment relation; at 100 TB this reads the
    // PERSISTED inverted file, so the report is seconds, not a scan.
    "sim_ivf_balance" -> ((s, d) =>
      ivfAssign(s, d)
        .groupBy(col("cell")).agg(count(lit(1)).as("cell_size"))
        .groupBy(col("cell_size")).agg(count(lit(1)).as("n_cells"))
        .orderBy(col("cell_size"))),

    // Embedding-store health stats per label — the drift dashboard an ML
    // platform reads after every re-embedding run (collapsed norms = a
    // broken encoder; label-wise norm shifts = train/serve skew). One
    // narrow pass + one |labels|-sized aggregation. Determinism: min/max
    // are selections over the bit-stable norm; the MEAN goes through the
    // same fixed-point trick as embed_label_centroids (floor(norm·10⁴)
    // summed exactly as integers, one final division) because a float SUM's
    // order is engine-dependent but an integer sum is not.
    "embed_norm_stats" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), sqrt(normSq(col("embedding"))).as("norm"))
        .withColumn("nq", floor(col("norm") * 10000).cast("long"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vectors"),
          min(col("norm")).as("min_norm"),
          max(col("norm")).as("max_norm"),
          sum(col("nq")).as("snq"))
        .select(col("label"), col("n_vectors"), col("min_norm"), col("max_norm"),
          (col("snq").cast("double") / (col("n_vectors") * lit(10000.0)))
            .as("mean_norm"))
        .orderBy(col("label"))),

    // Scalar int8 quantization of the embedding store — the 4× memory/IO
    // reduction a 100 TB embedding corpus applies before anything else.
    // Per-dimension [lo, hi] ranges come from ONE dim-keyed aggregation
    // (64 rows → broadcast back); codes and reconstruction error are
    // computed per (vector, dim) and reassembled with a vec-keyed agg whose
    // error sum folds over the DIM-SORTED array — the same sequential-fold
    // determinism contract as the dot product, so DuckDB's ordered
    // list_sum reproduces it bit-for-bit.
    "sim_sq_int8" -> ((s, d) => {
      val dims = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
        .withColumn("x", col("xf").cast("double")).drop("xf")
      val stats = dims.groupBy(col("dim"))
        .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      val coded = dims.join(broadcast(stats), Seq("dim"))
        .withColumn("code",
          when(col("hi") === col("lo"), lit(0L))
            .otherwise(least(floor((col("x") - col("lo")) / (col("hi") - col("lo")) * 255), lit(255L))))
        .withColumn("e",
          col("x") - (col("lo") + (col("code").cast("double") + 0.5) * (col("hi") - col("lo")) / 256))
      coded.groupBy(col("vec_id"))
        .agg(array_sort(collect_list(struct(col("dim"), col("code"), col("e")))).as("vs"))
        .select(col("vec_id"),
          concat_ws(",", transform(col("vs"), v => v("code").cast("string"))).as("codes"),
          aggregate(transform(col("vs"), v => v("e") * v("e")), lit(0.0), (a, e) => a + e)
            .as("sq_err"))
        .orderBy(col("vec_id"))
    }),

    // Product-quantization ADC search through the IVF probes — the full
    // 100 TB ANN stack (IVF-PQ): 8 subspaces × 8 dims, codebooks from the
    // deterministic seed vectors, every vector encoded to 8 centroid ids
    // (argmin per subspace), and each query scored against candidates from
    // its 2 probed IVF cells by Asymmetric Distance Computation — the
    // query⋈centroid distance table IS the lookup table, so scoring a
    // candidate is 8 LUT fetches + a fold, never a full-dimension scan.
    // The codes relation is 8 small ints per vector (the 32× compressed
    // store PQ exists for); the LUT side is |queries|·8·K rows → broadcast.
    // ADC sums fold over the SUBSPACE-SORTED array for cross-engine
    // determinism.
    "sim_pq_adc" -> ((s, d) =>
      pqAdcTopK(s, d, qcap = 20, k = 3)
        .orderBy(col("qid"), col("rank"))),

    // Quantization-quality measurement — recall@k of the IVF-PQ ADC search
    // against exact L2 ground truth over the fixed query sample. ADC
    // approximates SQUARED L2 (the PQ codebooks are L2-trained), so the
    // ground truth here is the exact L2 top-k — comparing against the
    // cosine ground truth would conflate metric mismatch with quantization
    // loss. Together with `sim_recall` (IVF-only) this separates the two
    // recall costs a 100 TB vector store tunes independently: cell-probe
    // misses (nlist/nprobe) vs code coarseness (M/K).
    "sim_recall_pq" -> ((s, d) =>
      recallAt(recallGt(s, d), pqAdcTopK(s, d, qcap = RecallQueries, k = TopK))),

    // The production IVF-PQ-refine stack: ADC shortlist of [[refineR]]
    // (= √n, one cell's worth) candidates per query (cheap, code-domain),
    // then EXACT L2 re-rank of only the shortlist, then top-k — the
    // standard refine step every real PQ deployment runs (FAISS
    // IndexRefineFlat). Exists because round 12's recall-at-scale
    // measurement caught pure ADC collapsing at the 100× corpus (mean
    // recall 0.75 at 10× → 0.05 at 100×): replica twins sit closer
    // together than the codebook can resolve, so ADC rank order inside
    // the true-neighbor cluster is noise. Exact re-ranking of the √n
    // shortlist restores recall while keeping exact-distance work O(√n)
    // per query instead of O(n) — the corpus scan stays code-domain,
    // only the shortlist pays float arithmetic. Output shape identical
    // to `sim_recall_pq` (per-query recall vs exact L2 ground truth), so
    // the two rows read together: quantization loss (ADC-only) vs served
    // quality (refined).
    "sim_recall_refined" -> ((s, d) => {
      val e = embeddingsNsq(s, d)
      val q = e.filter(col("vec_id") < RecallQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nsq").as("qn"))
      val reranked = pqAdcTopK(s, d, qcap = RecallQueries, k = refineR(e))
        .select(col("qid"), col("nid"))
        .join(broadcast(q), Seq("qid"))
        .join(e.select(col("vec_id").as("nid"), col("embedding").as("ne"),
          col("nsq").as("nn")), Seq("nid"))
        .withColumn("dist",
          col("nn") - lit(2.0) * dot(col("qe"), col("ne")) + col("qn"))
      recallAt(recallGt(s, d), topPerQuery(reranked, TopK, col("dist"), col("nid")))
    }),

    // Residual-PQ quantization gauge (IVF-PQ on x − centroid): same
    // output shape and ground truth as `sim_recall_pq`, ADC scored over
    // RESIDUAL codes ([[pqrCodes]]) with the per-probed-cell LUT. The
    // three rows now read as a ladder: raw-ADC (quantization loss of the
    // naive codebook) → residual-ADC (loss after the standard residual
    // trick) → refined (served quality). New query so the existing PQ
    // oracle rows stay bit-stable (r12 verdict task 4).
    "sim_recall_pqr" -> ((s, d) =>
      recallAt(recallGt(s, d), pqrAdcTopK(s, d, qcap = RecallQueries, k = TopK))),

    // Twin-aware (equivalence-class) twins of the two ADC gauges (r13
    // verdict task 1): same searchers, same exact ground truth, but a
    // returned replica twin of a true neighbor counts as a hit — recall
    // over distinct true-neighbor classes ([[recallClassesAt]]).
    // Read against their positional twins, the pair separates the two
    // things the positional floor conflates at the 100× corpus: tie luck
    // among embedding-identical replicas (gone here) vs genuine codebook
    // resolution loss (all that remains here). New queries so the
    // existing gauge rows stay bit-stable (same discipline as
    // `sim_recall_pqr` in r13).
    "sim_recall_pq_eq" -> ((s, d) =>
      recallClassesAt(s, d, pqAdcTopK(s, d, qcap = RecallQueries, k = TopK))),
    "sim_recall_pqr_eq" -> ((s, d) =>
      recallClassesAt(s, d, pqrAdcTopK(s, d, qcap = RecallQueries, k = TopK))),

    // IVF probe search, narrowed to a demo query set (vec_id < 20): the
    // same machinery as sim_cosine_topk but top-3 — kept as the
    // cell-inspection query. The qid filter sits above the probe window on
    // its partition key, so Catalyst pushes it below the window and the
    // seed-distance pass only runs for the 20 queries.
    "sim_ivf_probe" -> ((s, d) =>
      topPerQuery(ivfSearch(s, d, Some(20)), 3, byCosine: _*)
        .select(col("qid"), col("vec_id").as("nid"), col("cosine"), col("rank"))
        .orderBy(col("qid"), col("rank"))),

    // ANN quality measurement — recall@k of the IVF 2-probe search against
    // exact brute-force ground truth, per query. This is how a real ANN
    // deployment tunes (nlist, nprobe): recall is measured on a FIXED SMALL
    // query sample (here vec_id < RecallQueries) for which exact top-k is
    // affordable — the ground-truth pass broadcasts the query sample and
    // makes ONE narrow pass over the corpus (O(n·|sample|), linear in n,
    // never n²), then a per-qid top-k window that Spark 3.5+'s
    // WindowGroupLimit executes as map-side partial top-k. The approximate
    // side reuses the identical IVF probe machinery as `sim_cosine_topk`,
    // so this query measures exactly the index the engine serves. Output:
    // per-query hit count and recall — the operator a 100 TB vector store
    // runs after every index rebuild.
    "sim_recall" -> ((s, d) =>
      recallAt(recallGtCos(s, d),
        topPerQuery(ivfSearch(s, d, Some(RecallQueries)), TopK, byCosine: _*)
          .withColumnRenamed("vec_id", "nid"))),

    // The nprobe TUNING CURVE: mean recall@k of the served index at
    // 1, 2 and 4 probes in one report — how the probes knob gets set
    // before a deploy (DEPLOYMENT.md: more probes = linearly more
    // candidate volume for logarithmically more recall). Exact ground
    // truth is the SAME one-pass corpus × broadcast-sample join
    // sim_recall uses; the three levels differ only in the tiny probe
    // table, and hit counting rides one inner join + per-level agg.
    "sim_probe_sweep" -> ((s, d) => {
      import s.implicits._
      val approxAll = ProbeSweepLevels.map { p =>
        topPerQuery(ivfSearch(s, d, Some(RecallQueries), probes = p), TopK, byCosine: _*)
          .select(col("qid"), col("vec_id").as("nid"), lit(p).as("n_probes"))
      }.reduce(_ unionByName _)
      val hits = recallGtCos(s, d).join(approxAll, Seq("qid", "nid"))
        .groupBy(col("n_probes")).agg(count(lit(1)).as("n_hits"))
      ProbeSweepLevels.toDF("n_probes")
        .join(broadcast(hits), Seq("n_probes"), "left")
        .select(col("n_probes"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") /
            lit(RecallQueries * TopK)).as("recall"))
        .orderBy(col("n_probes"))
    })
  )

  /** Probe counts measured by the `sim_probe_sweep` tuning curve. */
  val ProbeSweepLevels = Seq(1, 2, 4)

  /** Size of the fixed recall-measurement query sample (`sim_recall`). The
    * deployment knob trades ground-truth cost (one corpus scan × sample
    * size) against recall-estimate variance; it does NOT grow with corpus
    * size — that is what keeps exact ground truth affordable at 100 TB. */
  val RecallQueries = 50

  /** ADC shortlist size for the refine pass (`sim_recall_refined`) —
    * scaled to the corpus like the IVF stride: R = max(64, ⌊√n⌋), i.e.
    * exactly one cell's worth of exact re-rank per query, so the refine
    * adds O(√n·d) per query on top of the O(√n·M) code-domain scan and
    * the total stays the same asymptotic as the IVF probe itself. A FIXED
    * R is the same frozen-knob mistake as the fixed PQ codebook: the
    * synthesized corpus carries ~n/2000 near-identical replica twins per
    * query whose ADC distances tie, so any constant shortlist silently
    * truncates the true-neighbor cluster once replicas outnumber it
    * (measured: R=32 → refined recall 0.75 at 100× where R=√n → 0.95+).
    * DuckDB mirrors the rule via the ivfp stride CTE. */
  private[operators] def refineR(e: DataFrame): Int =
    ivfStride(e).toInt

  /** Exact-L2 top-[[TopK]] ground truth (qid, nid) for the fixed
    * [[RecallQueries]] query sample — MEMOIZED (r15, warmed as
    * `recall_gt`): the GT relation is the benchmark artifact every recall
    * gauge scores against, and at scale it is THE expensive half of a
    * recall gate (n·|q| exact distances + a top-k per query) — computed
    * once per corpus snapshot and persisted, exactly like a FAISS GT
    * file; the six gauges then price only their own approx pipeline +
    * the scoring join. Before the memo each gauge re-planned AND re-ran
    * the crossJoin+dot+window subtree (~0.3-0.5 s of the sim_recall_pqr*
    * plan time the r14 scaling block flagged). Per-qid rows are
    * independent of qcap (exact over the full corpus), so a smaller-qcap
    * caller filters this relation without changing any row it keeps. */
  private[operators] def recallGt(s: SparkSession, d: String): DataFrame =
    graft.Memo("recall_gt", s, d)(computeRecallGt(s, d).localCheckpoint())

  /** The GT build plan, exposed pre-checkpoint so PlanShapeSpec can keep
    * pinning its shape (corpus scan × BROADCAST sample, never an n²
    * shuffle) now that query plans only see the checkpoint scan. */
  private[graft] def computeRecallGt(s: SparkSession, d: String): DataFrame = {
    val e = embeddingsNsq(s, d)
    val qq = e.filter(col("vec_id") < RecallQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nsq").as("qn"))
    val byQ = Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))
    e.crossJoin(broadcast(qq))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("dist",
        col("nsq") - lit(2.0) * dot(col("qe"), col("embedding")) + col("qn"))
      .withColumn("rank", row_number().over(byQ))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("vec_id").as("nid"))
  }

  /** Cosine twin of [[recallGt]] — the exact cosine top-[[TopK]] ground
    * truth the IVF/LSH-side gauges (sim_recall, sim_lsh_recall,
    * sim_probe_sweep) score against; the three previously each re-ran the
    * identical crossJoin+dot+window subtree. Same persisted-GT-artifact
    * rationale as [[recallGt]]. */
  private[operators] def recallGtCos(s: SparkSession, d: String): DataFrame =
    graft.Memo("recall_gt_cos", s, d)(computeRecallGtCos(s, d).localCheckpoint())

  /** Pre-checkpoint build plan — see [[computeRecallGt]]. */
  private[graft] def computeRecallGtCos(s: SparkSession, d: String): DataFrame = {
    val e = embeddingsNsq(s, d)
    val q = e.filter(col("vec_id") < RecallQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nsq").as("qn"))
    val byQ = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cosine", dot(col("qe"), col("embedding")) / sqrt(col("qn") * col("nsq")))
      .withColumn("rank", row_number().over(byQ))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("vec_id").as("nid"))
  }

  /** Embedding equivalence classes (nid → class id = min vec_id over
    * bit-identical embeddings) — MEMOIZED (r15, warmed as `recall_cls`):
    * the twin map is corpus metadata shared by both `_eq` gauges; each
    * previously re-ran the full-corpus embedding-keyed window. */
  private[operators] def recallCls(s: SparkSession, d: String): DataFrame =
    graft.Memo("recall_cls", s, d) {
      val byEmb = Window.partitionBy(col("embedding"))
      Tables.embeddings(s, d)
        .select(col("vec_id").as("nid"), col("embedding"))
        .withColumn("cls", min(col("nid")).over(byEmb))
        .select(col("nid"), col("cls"))
        .localCheckpoint()
    }

  /** The ONE recall discipline shared by every recall gauge: a memoized
    * exact ground truth (`gt`: [[recallGt]] for the L2 quantization
    * gauges, [[recallGtCos]] for the IVF gauge) left-joined against the
    * gauge's approximate (qid, nid) list → per-query recall@[[TopK]].
    * Factored (r13 review) so a change to the scoring can never apply to
    * one gauge and silently not the others. `qcap` bounds the ground
    * truth to the query sample the approx side was built with (r13
    * ADVICE), so a gauge built at a smaller qcap can never silently score
    * its uncovered qids as zero recall. */
  private def recallAt(gt: DataFrame, approx: DataFrame,
      qcap: Int = RecallQueries): DataFrame = {
    require(qcap <= RecallQueries, s"qcap $qcap exceeds the GT cap $RecallQueries")
    gt.filter(col("qid") < qcap)
      .join(approx.select(col("qid"), col("nid"), lit(1).as("hit")), Seq("qid", "nid"), "left")
      .groupBy(col("qid"))
      .agg(count(col("hit")).as("n_hits"))
      .select(col("qid"), col("n_hits"),
        (col("n_hits").cast("double") / lit(TopK)).as("recall"))
      .orderBy(col("qid"))
  }

  /** Twin-aware (equivalence-class) variant of [[recallAt]] — the
    * r13 verdict's answer to the replica-tie floor: the synthesized corpus
    * carries ~n/2000 embedding-IDENTICAL replica twins per query, so exact
    * ground truth picks one twin arbitrarily (vec_id tie-break) and a
    * quantizer returning the OTHER twin — a perfect answer, the vectors
    * are bit-equal — scores a miss. That floor measures tie luck, not
    * quantization loss. Here ground-truth ids are grouped into
    * equivalence classes BEFORE the overlap join (class id = min vec_id
    * over identical embeddings, one linear shuffle), and recall@k is
    * measured over distinct true-neighbor CLASSES: any returned member of
    * a true class is a hit. Exact top-k construction and tie-breaks are
    * unchanged from [[recallAt]] over [[recallGt]], so the `_eq` gauges
    * differ from their positional twins in the scoring join only. */
  private def recallClassesAt(s: SparkSession, d: String, approxIn: DataFrame,
      qcap: Int = RecallQueries): DataFrame = {
    require(qcap <= RecallQueries, s"qcap $qcap exceeds the GT cap $RecallQueries")
    // same memoized GT + twin map as the positional gauges (r15) — the
    // _eq gauges still differ from their positional twins in the scoring
    // join only (the invariant the r13 rewrite pinned)
    val cls = recallCls(s, d)
    val exact = recallGt(s, d).filter(col("qid") < qcap)
    val gex = exact.join(cls, Seq("nid")).select(col("qid"), col("cls")).distinct()
    val gap = approxIn.select(col("qid"), col("nid"))
      .join(cls, Seq("nid")).select(col("qid"), col("cls")).distinct()
      .withColumn("hit", lit(1))
    gex.join(gap, Seq("qid", "cls"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_classes"), count(col("hit")).as("n_hits"))
      .select(col("qid"), col("n_classes"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_classes").cast("double")).as("recall"))
      .orderBy(col("qid"))
  }

  /** Duplicate threshold for `sim_incremental` admission — aligned with
    * the batch embedding near-dup pass (`dedup_embedding_cosine`'s 0.3),
    * so the incremental gate and the batch sweep agree on what counts as
    * a duplicate; production sets it from the same labeled boundary. */
  val IncrementalSimTau = 0.3

  /** Skew guard for the SRP-LSH bucketed search: buckets holding more than
    * this many vectors are excluded from the pair join (same discipline as
    * [[Dedup.MaxBucketSize]] for the MinHash bands — real embedding spaces
    * are anisotropic, and one dense bucket re-introduces the n² hot key the
    * bucketing exists to prevent). The cap is a deterministic exact-count
    * filter, so both engines agree; at the tested SFs (≤2000 vectors over
    * 2^[[Hyperplanes]] buckets) no bucket reaches it, and at scale the
    * H knob is raised FIRST (expected population n/2^H) with the cap as
    * the backstop the `sim_lsh_buckets` inventory monitors. */
  val LshMaxBucket = 256

  /** IVF list count cap (`nlist` ceiling): seeds are every
    * [[ivfStride]]-th vector (stride = max(64, ⌊√n⌋) → nlist ≈ √n, the
    * standard IVF sizing), BOUNDED to the first [[MaxCentroids]] — the
    * assignment pass is O(n·√n) up to the cap and average cell
    * population is the stride. nlist is the DEPLOYMENT KNOB of every IVF
    * index: keep n/nlist ≈ the cell size you can afford to pair-join or
    * probe — the √n rule holds that automatically until the cap (reached
    * at ~16.8M vectors), past which a 100 TB deployment raises the cap /
    * trains k-means offline; deterministic seed-sampling keeps the
    * oracle reproducible. At the tested SFs the 64 floor keeps the
    * stride, so the rule is bit-invisible to the correctness gate. */
  val MaxCentroids = 4096

  /** k for the `embed_kmeans` Lloyd trainer — small here so the oracle's
    * K×corpus distance CTE stays cheap; scales like [[MaxCentroids]]. */
  val KmeansK = 16

  /** PQ geometry: [[PqM]] subspaces × [[PqSub]] dims (= the 64-dim
    * embedding), codebook of ≤ [[PqK]] centroids per subspace taken from
    * the deterministic seed vectors. K scales with corpus size like
    * [[MaxCentroids]]; at 64 dims, 8×4-bit codes store a vector in 8
    * bytes — 32× under float32. */
  val PqM = 8
  val PqSub = 8

  /** Codebook-size CAP, not the size: the seed predicate
    * (`vec_id % 64 = 0 AND vec_id < PqK·64`) is corpus-limited, so the
    * EFFECTIVE K is min(PqK, ⌈n/64⌉) — 8 at sf0.01, 32 at sf0.1, 256 at
    * the 10×/100× corpora. Round 12 raised the cap 16 → 256 after the
    * recall-at-scale leg measured pure-ADC recall collapsing at 100×
    * (0.05 @ sf10): a 16-centroid/subspace codebook frozen while n grows
    * 100× is exactly the fixed-64-IVF-cells mistake the round-9 stress
    * caught — quantization resolution must track corpus density. 256 is
    * the standard 8-bit PQ codebook size (FAISS default); the floor-64
    * stride keeps small-SF results bit-identical, so the cap raise is
    * invisible to the sf0.01 gate and only changes behavior at scale. */
  val PqK = 256

  /** Subvector slice m (0-based) of a full embedding. */
  private[graft] def pqSlice(v: Column, m: Column): Column =
    slice(v, m * PqSub + 1, lit(PqSub))

  /** Squared L2 over subvector slices — backed by the codegen [[
    * graft.functions.ArrayL2]] (identical arithmetic/order to the
    * interpreted `aggregate(zip_with(...))` fold it replaced, equality
    * asserted in OperatorsSpec; the HOF was the PQ-encode hot-path cost). */
  private def pqL2(a: Column, b: Column): Column =
    graft.functions.VectorExprs.array_l2(a, b)

  /** PQ codebook: the deterministic seed vectors, one row per seed. */
  private[graft] def pqSeeds(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .filter(isSeed(PqK.toLong, 64L))
      .select(col("vec_id").as("sid"), col("embedding").as("se"))

  /** (vector, subspace) × broadcast codebook squared distances — one
    * narrow pass. Since round 13 this feeds ONLY the query-side LUT
    * ([[pqLut]], qcap-bounded — the filter pushes through the explode to
    * the scan), never the full-corpus encode: [[pqCodes]] computes its
    * argmin in array land without materializing n·M·K rows. */
  private[graft] def pqSubDists(s: SparkSession, d: String): DataFrame = {
    val vsub = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      .withColumn("m", explode(sequence(lit(0), lit(PqM - 1))))
      .select(col("vec_id"), col("m"), pqSlice(col("embedding"), col("m")).as("vs"))
    vsub.crossJoin(broadcast(pqSeeds(s, d)))
      .select(col("vec_id"), col("m"), col("sid"),
        pqL2(col("vs"), pqSlice(col("se"), col("m"))).as("dist"))
  }

  /** Query-side ADC lookup table for the first [[RecallQueries]] query
    * vectors: (qid, m, sid, dist). MEMOIZED like [[ivfAssign]] — all
    * three PQ queries broadcast this table, and without the memo each
    * rebuilt it from a fresh embeddings scan. Bounded at RecallQueries ×
    * M × K rows (50·8·256 ≈ 100k) regardless of corpus size; callers
    * narrow with a qid filter. */
  private[operators] def pqLut(s: SparkSession, d: String): DataFrame =
    graft.Memo("pq_lut", s, d)(
      pqSubDists(s, d).filter(col("vec_id") < RecallQueries)
        .select(col("vec_id").as("qid"), col("m"), col("sid"), col("dist"))
        .localCheckpoint())

  /** ADC top-k through the IVF probes for the first `qcap` query vectors —
    * the one scoring pipeline shared by `sim_pq_adc` (inspection query)
    * and `sim_recall_pq` (quality gate), so the measured index is exactly
    * the served index. */
  private def pqAdcTopK(s: SparkSession, d: String, qcap: Int, k: Int): DataFrame = {
    require(qcap <= RecallQueries, s"qcap $qcap exceeds the memoized LUT cap $RecallQueries")
    adcTopK(s, d, ivfProbes(s, d, Some(qcap)), pqCodes(s, d),
      pqLut(s, d).filter(col("qid") < qcap), Seq("qid", "m", "sid"), k)
  }

  /** The ADC fold-and-rank tail shared by raw and residual PQ: every
    * vector in a query's probed cells (`probes`: (qid, cell)) has its
    * code joined to the broadcast lookup table on `lutKeys`, its [[PqM]]
    * subspace distances folded in SUBSPACE order (cross-engine
    * determinism), and the top `k` per query kept by (adc_dist, vec_id):
    * (qid, nid, adc_dist, rank). */
  private def adcTopK(s: SparkSession, d: String, probes: DataFrame, codes: DataFrame,
      lut: DataFrame, lutKeys: Seq[String], k: Int): DataFrame = {
    val adc = probes.join(ivfAssign(s, d), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .join(codes, Seq("vec_id"))
      .join(broadcast(lut), lutKeys)
      .groupBy(col("qid"), col("vec_id"))
      .agg(array_sort(collect_list(struct(col("m"), col("dist")))).as("ds"))
      .select(col("qid"), col("vec_id"),
        aggregate(transform(col("ds"), x => x("dist")), lit(0.0), (a, v) => a + v)
          .as("adc_dist"))
    topPerQuery(adc, k, col("adc_dist"), col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"), col("adc_dist"), col("rank"))
  }

  /** PQ encoding: each vector's nearest centroid id per subspace.
    * MEMOIZED ([[graft.Memo]], warmed as `pq_codes`): the codes relation
    * IS the persisted PQ store — 8 bytes/vector, written once per index
    * build and scanned by every ADC query (DEPLOYMENT.md "PQ" row) —
    * so rebuilding it inside each of the three PQ queries was pricing
    * the index build into query latency 3× per run.
    *
    * The argmin runs in ARRAY LAND: each (vector, subspace) row folds the
    * broadcast sid-sorted codebook array — a K-length `transform` +
    * `array_min`/`array_position` pick — so the encode stays n·M rows
    * end-to-end. The previous formulation materialized the n·M·K
    * cross-join through a row_number window (at the 100× corpus ~410M
    * rows through a sort, rebuilt per query). Bit-identical by
    * construction: [[ArrayL2]]'s eval and codegen paths share one
    * widen-subtract-square-accumulate loop, `array_min` is an exact
    * double compare (dists are finite sums of squares, no NaN/-0.0), and
    * `array_position` returns the FIRST match over the sid-ascending
    * array — the same (dist, sid) tie-break as the window's ORDER BY. */
  private[graft] def pqCodes(s: SparkSession, d: String): DataFrame =
    graft.Memo("pq_codes", s, d)(computePqCodes(s, d).localCheckpoint())

  private[graft] def computePqCodes(s: SparkSession, d: String): DataFrame =
    encodeArrayLand(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("v")),
      pqSeeds(s, d))

  /** The shared array-land encode core (raw and residual builds): per
    * (vector, subspace) row, fold the broadcast codebook and pick the
    * argmin sid. Two allocation hoists measured at the 10× corpus
    * (r13: build 20.4 s → see warm ledger): the vector's subvector is
    * sliced ONCE per (row, m) instead of once per codebook entry, and
    * the codebook is PRESLICED per subspace at build time (`cbm(m+1)` =
    * the sid-sorted (sid, 8-dim subvector) entries for subspace m) —
    * the fold lambda then runs pure [[ArrayL2]] with zero slicing, so
    * per row-m the old 2·K slice allocations disappear. Bit-identical:
    * same slice values, same fold operands/order, same first-match
    * sid-ascending tie-break (equivalence vs the retired window argmin
    * stays pinned in ReformulationSpec). */
  private def encodeArrayLand(vectors: DataFrame, seeds: DataFrame): DataFrame = {
    val cbm = seeds
      .agg(sort_array(collect_list(struct(col("sid"), col("se")))).as("cb"))
      .select(transform(sequence(lit(0), lit(PqM - 1)), m =>
        transform(col("cb"), c =>
          struct(c("sid").as("sid"), pqSlice(c("se"), m).as("se")))).as("cbm"))
    vectors
      .withColumn("m", explode(sequence(lit(0), lit(PqM - 1))))
      .select(col("vec_id"), col("m"), pqSlice(col("v"), col("m")).as("vs"))
      .crossJoin(broadcast(cbm))
      .withColumn("cbe", element_at(col("cbm"), col("m") + 1))
      .withColumn("ds", transform(col("cbe"), c => pqL2(col("vs"), c("se"))))
      .select(col("vec_id"), col("m"),
        element_at(col("cbe"),
          array_position(col("ds"), array_min(col("ds"))).cast("int"))("sid").as("sid"))
  }

  /** Residual frame (vec_id, cell, r): r = x − centroid(cell(x)), exact
    * double subtraction per element. The IVF-PQ residual trick: codebooks
    * trained on RAW vectors spend their resolution re-describing the cell
    * offset every member shares; encoding the offset-from-centroid leaves
    * all K centroids for the within-cell structure ADC actually ranks
    * (the r12 recall-at-scale leg measured raw-vector ADC at 0.14 @ 100×
    * even with K=256 — `sim_recall_pqr` is the measured answer). */
  private def pqResiduals(s: SparkSession, d: String, cents: DataFrame): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      .join(ivfAssign(s, d), Seq("vec_id"))
      .join(broadcast(cents), Seq("cell"))
      .select(col("vec_id"), col("cell"), residual(col("embedding")).as("r"))

  /** x − ce, element-wise in exact double: the residual of a vector
    * against the `ce` centroid column of an [[ivfCentroids]] row. */
  private def residual(x: Column): Column =
    zip_with(x, col("ce"), (a, b) => a.cast("double") - b.cast("double"))

  /** The IVF centroid frame (cell, ce): the seed vectors keyed by the cell
    * each one defines. Building it counts the corpus once ([[ivfStride]]),
    * so each residual pipeline builds it once and threads it through. */
  private def ivfCentroids(s: SparkSession, d: String): DataFrame =
    seedsOf(embeddingsNsq(s, d)).select(col("sid").as("cell"), col("se").as("ce"))

  /** Residual codebook: the SAME deterministic seed convention as
    * [[pqSeeds]], taken over residual vectors — so raw-PQ vs residual-PQ
    * differ in exactly one thing (what the codes describe), and the
    * recall delta between `sim_recall_pq` and `sim_recall_pqr` is
    * attributable to the residual trick alone. */
  private def pqrSeeds(residuals: DataFrame): DataFrame =
    residuals.filter(isSeed(PqK.toLong, 64L))
      .select(col("vec_id").as("sid"), col("r").as("se"))

  /** Residual code store — memoized + warmed like [[pqCodes]] (same
    * persisted-index discipline, same array-land n·M encode). */
  private[operators] def pqrCodes(s: SparkSession, d: String): DataFrame =
    graft.Memo("pqr_codes", s, d)(computePqrCodes(s, d).localCheckpoint())

  private[graft] def computePqrCodes(s: SparkSession, d: String): DataFrame = {
    val res = pqResiduals(s, d, ivfCentroids(s, d))
    encodeArrayLand(res.select(col("vec_id"), col("r").as("v")), pqrSeeds(res))
  }

  /** Residual-ADC top-k through the IVF probes. Differs from
    * [[pqAdcTopK]] in the LUT key only: a query's residual depends on
    * WHICH cell it probes (q − centroid_c), so the lookup table is keyed
    * (qid, cell, m, sid) — |q|·probes·M·K rows (≈200k at the recall
    * sample), still a broadcast. A candidate's code was computed against
    * its OWN cell's centroid, which is exactly the probed cell that
    * surfaced it, so LUT row and code row always agree on `cell`. */
  private def pqrAdcTopK(s: SparkSession, d: String, qcap: Int, k: Int): DataFrame = {
    val cents = ivfCentroids(s, d)
    val qprobes = ivfProbes(s, d, Some(qcap))
    val lut = qprobes
      .join(Tables.embeddings(s, d).select(col("vec_id").as("qid"), col("embedding")),
        Seq("qid"))
      .join(broadcast(cents), Seq("cell"))
      .select(col("qid"), col("cell"), residual(col("embedding")).as("qr"))
      .withColumn("m", explode(sequence(lit(0), lit(PqM - 1))))
      .crossJoin(broadcast(pqrSeeds(pqResiduals(s, d, cents))))
      .select(col("qid"), col("cell"), col("m"), col("sid"),
        pqL2(pqSlice(col("qr"), col("m")), pqSlice(col("se"), col("m"))).as("dist"))
    adcTopK(s, d, qprobes, pqrCodes(s, d), lut, Seq("qid", "cell", "m", "sid"), k)
  }

  /** The seed-selection convention (every-`stride`th vector, capped)
    * shared by the IVF centroid set, the PQ codebook, and the k-means
    * seeds — a single definition so they can never silently drift apart.
    * The k-means/PQ consumers pass the FIXED stride 64 (their seed count
    * is bounded by a small cap, so cost stays linear in n); the IVF
    * centroid set passes [[ivfStride]]. */
  private def isSeed(cap: Long, stride: Long): Column =
    col("vec_id") % stride === 0 && col("vec_id") < cap * stride

  /** IVF seed stride: max(64, ⌊√n⌋) — nlist ≈ √n, the standard IVF
    * sizing (FAISS guidance), which keeps the BUILD at O(n^1.5) instead
    * of the O(n²/64) a fixed stride degenerates to (the round-9 30×
    * scale-stress caught exactly that: ivf_assign/ivf_probes grew 12–18×
    * for 3× data). ⌊√n⌋ via IEEE sqrt is exact for n < 2^52 (correctly
    * rounded sqrt cannot cross an integer boundary), so DuckDB computes
    * the identical stride. At the oracle/bench SFs (n ≤ 2000) the floor
    * of 64 keeps the stride — results there are bit-identical to the
    * fixed-stride rule, so this is invisible to the correctness gate and
    * only changes behavior at scale. */
  private def ivfStride(e: DataFrame): Long =
    math.max(64L, math.floor(math.sqrt(e.count().toDouble)).toLong)

  private def seedsOf(e: DataFrame): DataFrame =
    e.filter(isSeed(MaxCentroids.toLong, ivfStride(e)))
      .select(col("vec_id").as("sid"), col("embedding").as("se"), col("nsq").as("snsq"))

  /** Exact L2 distance of every vector to every (broadcast) centroid —
    * nsq_v − 2·dot + nsq_c, all left-fold doubles → bit-stable. A narrow
    * n × centroids pass; the only wide op downstream is the per-vector
    * window. */
  private def seedDists(s: SparkSession, d: String): DataFrame = {
    val e = embeddingsNsq(s, d)
    e.crossJoin(broadcast(seedsOf(e)))
      .withColumn("dist", col("nsq") - lit(2.0) * dot(col("embedding"), col("se")) + col("snsq"))
  }

  /** Nearest-centroid assignment: (vec_id, cell) — the inverted file.
    * MEMOIZED (localCheckpoint per session × dataset, [[graft.Memo]]):
    * every IVF search ([[ivfSearch]]), both ADC pipelines, the residual
    * encode, the cell inventory and balance reports, SemDeDup, and the
    * embedding near-dup pass consume the assignment — in production the
    * inverted file is a PERSISTED table written once per index build and
    * read by every search and report, exactly like the MinHash pair
    * graph. */
  private[operators] def ivfAssign(s: SparkSession, d: String): DataFrame =
    graft.Memo("sim_ivf_assign", s, d)(computeIvfAssign(s, d).localCheckpoint())

  private def computeIvfAssign(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("sid"))
    seedDists(s, d)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("sid").as("cell"))
  }

  /** SRP-LSH bucket assignment: (vec_id, bucket) — the hash table the
    * sign-random-projection index serves from. MEMOIZED like [[ivfAssign]]
    * (persisted-index stand-in): the bucket inventory, the bucketed top-k
    * search, and the multiprobe recall gate all read this ONE table; in
    * production it is written once per index build, and the H-bit bucket
    * string is the shuffle/join key (expected population n/2^H — H is the
    * knob that keeps per-bucket pair work bounded as n grows). */
  private[operators] def lshAssign(s: SparkSession, d: String): DataFrame =
    graft.Memo("sim_lsh_assign", s, d)(
      Tables.embeddings(s, d)
        .select(col("vec_id"), srpBucket(col("embedding")).as("bucket"))
        .localCheckpoint())

  /** One-bit-flip multiprobe list for the first [[RecallQueries]] query
    * vectors: (qid, lvl, pbucket) — lvl 0 is the vector's own bucket, lvl
    * 1 the [[Hyperplanes]] buckets at Hamming distance 1 (the planes the
    * query was CLOSEST to crossing are the likeliest to hide true
    * neighbors; flipping each buys recall without rebuilding the index). */
  private[graft] def lshProbes(s: SparkSession, d: String): DataFrame =
    lshAssign(s, d).filter(col("vec_id") < RecallQueries)
      .select(col("vec_id").as("qid"), explode(array(probeStructs: _*)).as("pr"))
      .select(col("qid"), col("pr.lvl").as("lvl"), col("pr.pbucket").as("pbucket"))

  /** (lvl, pbucket) probe structs over a `bucket` column: lvl 0 = the
    * bucket itself, lvl 1 = its [[Hyperplanes]] one-bit flips. */
  private def probeStructs: Seq[Column] = {
    val own = struct(lit(0).as("lvl"), col("bucket").as("pbucket"))
    val flips = (0 until Hyperplanes).map { p =>
      struct(lit(1).as("lvl"),
        concat(
          substring(col("bucket"), 1, p),
          when(substring(col("bucket"), p + 1, 1) === "1", "0").otherwise("1"),
          substring(col("bucket"), p + 2, Hyperplanes)).as("pbucket"))
    }
    own +: flips
  }

  /** The `sim_incremental` admission index in join-ready form:
    * (pbucket, old_id, oe, onsq) — bucket-capped old-vector postings
    * carrying the embedding and its squared norm, so an admission pass
    * (batch or stream-static) scores candidates without a second join. */
  private[graft] def lshOldIndex(s: SparkSession, d: String): DataFrame = {
    val wb = Window.partitionBy(col("pbucket")).orderBy(col("old_id"))
    lshAssign(s, d).filter(!isArrival)
      .select(col("bucket").as("pbucket"), col("vec_id").as("old_id"))
      .withColumn("rn", row_number().over(wb))
      .filter(col("rn") <= LshMaxBucket).drop("rn")
      .join(Tables.embeddings(s, d)
        .select(col("vec_id").as("old_id"), col("embedding").as("oe"),
          normSq(col("embedding")).as("onsq")), Seq("old_id"))
  }

  /** Today's arrivals in the incremental-admission split (vec_id % 10 = 0,
    * the suite's convention); everything else is the existing index. */
  private def isArrival: Column = col("vec_id") % 10 === 0

  /** Streaming-compatible LSH admission: arriving (vec_id, embedding)
    * rows are bucketed, probe-expanded WITH their embedding carried (no
    * stream-stream join back), left-joined against the static admission
    * index and admitted unless a probed old vector clears the cosine
    * threshold, compared as integer ppm so an ulp can't flip admission
    * between engines. `sim_incremental` runs this same gate over the whole
    * day's arrivals in one batch, and the parity spec asserts a stream
    * gets its verdicts across arbitrary micro-batch splits. Complete-mode
    * groupBy, like the MinHash streaming gate. */
  def lshAdmitted(vecs: DataFrame, oldIdx: DataFrame): DataFrame = {
    val probes = vecs
      .select(col("vec_id"), col("embedding").as("qe"),
        normSq(col("embedding")).as("qn"),
        srpBucket(col("embedding")).as("bucket"))
      .select(col("vec_id"), col("qe"), col("qn"),
        explode(array(probeStructs: _*)).as("pr"))
      .select(col("vec_id"), col("qe"), col("qn"), col("pr.pbucket").as("pbucket"))
    probes.join(oldIdx, Seq("pbucket"), "left")
      .withColumn("okid",
        when(floor(dot(col("qe"), col("oe")) / sqrt(col("qn") * col("onsq")) * 1e6)
          .cast("long") >= (IncrementalSimTau * 1e6).toLong, col("old_id")))
      .groupBy(col("vec_id"))
      .agg(min(col("okid")).as("dup_of"))
      .select(col("vec_id"), col("dup_of"), col("dup_of").isNull.as("admitted"))
  }

  /** Ranked probe list: each vector's [[ProbeSweepLevels]].max nearest
    * cells, (qid, cell, rn). MEMOIZED like [[ivfAssign]] — the probe
    * list is index METADATA (every search and recall gate reads it), and
    * without the memo each consumer re-ran the corpus × centroids
    * distance pass ([[seedDists]]) just to rank cells already ranked for
    * the assignment. One table at the deepest measured probe level
    * serves every shallower level by an rn filter. */
  private[operators] def ivfProbesAll(s: SparkSession, d: String): DataFrame =
    graft.Memo("sim_ivf_probes", s, d)({
      val w = Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("sid"))
      seedDists(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= ProbeSweepLevels.max)
        .select(col("vec_id").as("qid"), col("sid").as("cell"), col("rn"))
        .localCheckpoint()
    })

  /** n-probe list: each query's `probes` nearest cells, (qid, cell), for
    * the first `qcap` vectors (or all of them). */
  private def ivfProbes(s: SparkSession, d: String, qcap: Option[Int],
      probes: Int = 2): DataFrame = {
    val p = ivfProbesAll(s, d).filter(col("rn") <= probes).select(col("qid"), col("cell"))
    qcap.fold(p)(n => p.filter(col("qid") < n))
  }

  /** (vec_id, embedding, nsq, extra…): the embeddings with their squared
    * norm — the relation every cosine and L2 pipeline starts from. */
  private[operators] def embeddingsNsq(s: SparkSession, d: String, extra: String*): DataFrame =
    Tables.embeddings(s, d).select(
      Seq(col("vec_id"), col("embedding"), normSq(col("embedding")).as("nsq")) ++
        extra.map(col): _*)

  /** Exact cosine of a query (qe, qn) against a neighbor (ne, nn): the
    * column names both search kernels project their two sides to. */
  private def cosine: Column = dot(col("qe"), col("ne")) / sqrt(col("qn") * col("nn"))

  /** The search ranking order: cosine descending, vec_id tie-break. */
  private def byCosine: Seq[Column] = Seq(col("cosine").desc, col("vec_id"))

  /** Per-query top-k: a row_number window over qid in `order`, kept where
    * rank ≤ k, rank as a long — the one ranking step of every search and
    * ADC pipeline. */
  private def topPerQuery(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.withColumn("rank", row_number().over(Window.partitionBy(col("qid")).orderBy(order: _*)))
      .filter(col("rank") <= k)
      .withColumn("rank", col("rank").cast("long"))

  /** IVF probe search — the kernel of every IVF cosine query. Each query of
    * the sample (the first `qcap` vectors, or all of them) meets its
    * `probes` nearest cells ([[ivfProbes]]), the vectors assigned to those
    * cells ([[ivfAssign]]) and their embeddings; the query itself is
    * dropped and each candidate scored by exact cosine: (qid, vec_id,
    * cosine, q_c and n_c for every `carry` column c). Candidate volume is
    * |sample|·probes·cellsize, never n²: the pair join shuffles on `cell`,
    * and a ranking window over the result on `qid`. */
  private def ivfSearch(s: SparkSession, d: String, qcap: Option[Int],
      probes: Int = 2, carry: Seq[String] = Nil): DataFrame = {
    val e = embeddingsNsq(s, d, carry: _*)
    val q = qcap.fold(e)(n => e.filter(col("vec_id") < n)).select(
      Seq(col("vec_id").as("qid"), col("embedding").as("qe"), col("nsq").as("qn")) ++
        carry.map(c => col(c).as(s"q_$c")): _*)
    val nb = e.select(
      Seq(col("vec_id"), col("embedding").as("ne"), col("nsq").as("nn")) ++
        carry.map(c => col(c).as(s"n_$c")): _*)
    q.join(ivfProbes(s, d, qcap, probes), Seq("qid"))
      .join(ivfAssign(s, d), Seq("cell"))
      .join(nb, Seq("vec_id"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cosine", cosine)
  }

  /** The capped LSH postings: (vec_id, bucket) for every vector whose
    * bucket holds at most [[LshMaxBucket]] vectors — the skew cap, built
    * in this one place for the search, the recall gate and the agreement
    * gate. The ok-bucket list is bucket-count sized, so it broadcasts. */
  private def lshCapped(s: SparkSession, d: String): DataFrame = {
    val ok = lshAssign(s, d).groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_b")).filter(col("n_b") <= LshMaxBucket)
      .select(col("bucket"))
    lshAssign(s, d).join(broadcast(ok), Seq("bucket"), "left_semi")
  }

  /** Own-bucket LSH search: each query of the sample (the first `qcap`
    * vectors, or all) against its capped-bucket cohabitants, exact cosine,
    * top [[TopK]] per query: (qid, vec_id, cosine, rank, …). The pair join
    * shuffles on the H-bit bucket string; the rank window on qid. */
  private def lshTopK(s: SparkSession, d: String, qcap: Option[Int]): DataFrame = {
    val e = embeddingsNsq(s, d)
    val bk = lshCapped(s, d)
    val q = qcap.fold(bk)(n => bk.filter(col("vec_id") < n)).join(e, Seq("vec_id"))
      .select(col("bucket"), col("vec_id").as("qid"),
        col("embedding").as("qe"), col("nsq").as("qn"))
    val x = bk.join(e, Seq("vec_id"))
      .select(col("bucket"), col("vec_id"), col("embedding").as("ne"), col("nsq").as("nn"))
    topPerQuery(q.join(x, Seq("bucket")).filter(col("vec_id") =!= col("qid"))
      .withColumn("cosine", cosine), TopK, byCosine: _*)
  }

  private[operators] def dotSql(x: String, y: String) =
    s"list_sum([CAST($x.embedding[i] AS DOUBLE) * CAST($y.embedding[i] AS DOUBLE) for i in range(1, len($x.embedding)+1)])"

  private val nsqSql =
    "list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) for i in range(1, len(embedding)+1)])"

  /** Exact cosine of the `e` rows q (query) and x (neighbor): [[cosine]]. */
  private val cosineSql = s"${dotSql("q", "x")} / sqrt(q.nsq * x.nsq)"

  /** Exact squared L2 of the `e` rows q and x, in the Spark operand order. */
  private val l2Sql = s"x.nsq - CAST(2.0 AS DOUBLE) * ${dotSql("q", "x")} + q.nsq"

  /** `name(…, rank)`: the rows of `from` ranked per `part` in `order`, kept
    * where rank ≤ k — the SQL twin of [[topPerQuery]]. */
  private def topSql(name: String, from: String, order: String,
      k: String = TopK.toString, part: String = "qid"): String =
    s"""$name AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY $part ORDER BY $order) AS rank
       |    FROM $from)
       |  WHERE rank <= $k)""".stripMargin

  /** The bucket-derivation tail of [[lshCtes]] (signed → bk), factored so
    * queries that already carry the `e` CTE (e.g. composed with
    * [[ivfCtes]]) can append just the LSH chain without redefining it. */
  private val lshTailCtes: String =
    s"""signed AS (
       |  SELECT vec_id,
       |    [CASE WHEN list_sum([
       |        CASE WHEN CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(i-1 AS VARCHAR)), 1, 1)) AS INTEGER) % 2 = 0
       |             THEN CAST(embedding[i] AS DOUBLE)
       |             ELSE -CAST(embedding[i] AS DOUBLE) END
       |        for i in range(1, len(embedding)+1)]) > 0
       |      THEN '1' ELSE '0' END
       |     for j in range(0, $Hyperplanes)] AS bits
       |  FROM embeddings),
       |bk AS (SELECT vec_id, array_to_string(bits, '') AS bucket FROM signed)""".stripMargin

  /** Shared SRP-LSH CTE chain (e → signed → bk), DuckDB dialect: the
    * md5-parity sign derivation is the reference formulation
    * [[srpBucketExpr]] mirrors — the Spark fast path uses the identical
    * constant matrix as ±1 literals (equality asserted in OperatorsSpec).
    * e is MATERIALIZED for the same re-expansion reason as [[ivfCtes]]:
    * DuckDB inlines plain CTEs per consumer, and several LSH oracles read
    * e both inside `signed` and again in the outer query — at the 100×
    * corpus each inline expansion re-derives nsq over 59M embeddings. */
  private val lshCtes: String =
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, embedding, $nsqSql AS nsq
       |  FROM embeddings),
       |""".stripMargin + lshTailCtes

  /** Shared IVF CTE chain (e → seeds → dists → assign), DuckDB dialect.
    * e and dists are MATERIALIZED (same lesson as Graph.edgeCte and the
    * pagerank rounds): DuckDB inlines plain CTEs, and the consumers read
    * dists twice (assign + probes) and e up to three times — at the 100×
    * corpus each dists expansion is an n×√n cross join with a per-row
    * 64-dim dot product, and the coexisting expansions pushed the
    * sim_filtered_topk oracle past a 40 GB temp cap. Materialized, dists
    * is ~90M scalar rows computed once. */
  private[operators] val ivfCtes: String =
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, embedding, $nsqSql AS nsq
       |  FROM embeddings),
       |ivfp AS (
       |  SELECT GREATEST(64, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS stride
       |  FROM e),
       |seeds AS (
       |  SELECT vec_id AS sid, embedding, nsq AS snsq FROM e, ivfp
       |  WHERE vec_id % stride = 0 AND vec_id < $MaxCentroids * stride),
       |dists AS MATERIALIZED (
       |  SELECT v.vec_id, s.sid,
       |    v.nsq - CAST(2.0 AS DOUBLE) * ${dotSql("v", "s")} + s.snsq AS dist
       |  FROM e v CROSS JOIN seeds s),
       |assign AS (
       |  SELECT vec_id, sid AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, sid) AS rn
       |    FROM dists)
       |  WHERE rn = 1)""".stripMargin

  /** `probes(qid, cell, rn)` — each query's `probes` nearest cells, for
    * the first `qcap` vectors or all — and `cand(qid, cell, rn, nid)`, the
    * other vectors assigned to those cells: the SQL twin of [[ivfProbes]]
    * ⋈ [[ivfAssign]], shared by the cosine searches and both ADC chains.
    * Assumes [[ivfCtes]] precedes it. */
  private def ivfCandSql(qcap: Option[Int], probes: Int = 2): String = {
    val sample = qcap.fold("")(n => s" WHERE vec_id < $n")
    s"""probes AS (
       |  SELECT vec_id AS qid, sid AS cell, rn FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, sid) AS rn
       |    FROM dists$sample)
       |  WHERE rn <= $probes),
       |cand AS (
       |  SELECT p.qid, p.cell, p.rn, a.vec_id AS nid
       |  FROM probes p JOIN assign a ON a.cell = p.cell
       |  WHERE a.vec_id <> p.qid)""".stripMargin
  }

  /** [[ivfCandSql]] plus `cands(qid, cell, rn, nid, cosine)`, every
    * candidate scored by exact cosine — the SQL twin of [[ivfSearch]]. */
  private def ivfSearchSql(qcap: Option[Int], probes: Int = 2): String =
    ivfCandSql(qcap, probes) + ",\n" +
      s"""cands AS (
         |  SELECT c.*, $cosineSql AS cosine
         |  FROM cand c JOIN e q ON q.vec_id = c.qid JOIN e x ON x.vec_id = c.nid)""".stripMargin

  /** PQ encode + ADC scoring CTE chain (DuckDB dialect) for the first
    * `qcap` query vectors — through the `adc(qid, nid, adc_dist)`
    * relation; composed by concatenation (never stripMargin over embedded
    * SQL). Assumes the [[ivfCtes]] chain precedes it. */
  private def pqAdcCtes(qcap: Int): String =
    s"""seeds_pq AS (
       |  SELECT vec_id AS sid, embedding AS se FROM embeddings
       |  WHERE vec_id % 64 = 0 AND vec_id < ${PqK * 64}),
       |vsub AS (
       |  SELECT vec_id, CAST(r.m AS INTEGER) AS m, embedding
       |  FROM embeddings, range(0, $PqM) r(m)),
       |dists_pq AS (
       |  SELECT v.vec_id, v.m, s.sid,
       |    list_sum([(CAST(v.embedding[v.m*$PqSub+i] AS DOUBLE) - CAST(s.se[v.m*$PqSub+i] AS DOUBLE))
       |              * (CAST(v.embedding[v.m*$PqSub+i] AS DOUBLE) - CAST(s.se[v.m*$PqSub+i] AS DOUBLE))
       |              for i in range(1, $PqSub + 1)]) AS dist
       |  FROM vsub v CROSS JOIN seeds_pq s),
       |codes AS (
       |  SELECT vec_id, m, sid FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, sid) AS rn
       |    FROM dists_pq)
       |  WHERE rn = 1),
       |lut AS (
       |  SELECT vec_id AS qid, m, sid, dist FROM dists_pq WHERE vec_id < $qcap),
       |""".stripMargin + ivfCandSql(Some(qcap)) + ",\n" +
      """adc AS (
        |  SELECT c.qid, c.nid,
        |    list_sum(list(l.dist ORDER BY l.m)) AS adc_dist
        |  FROM cand c
        |  JOIN codes k ON k.vec_id = c.nid
        |  JOIN lut l ON l.qid = c.qid AND l.m = k.m AND l.sid = k.sid
        |  GROUP BY c.qid, c.nid)""".stripMargin

  /** Residual-PQ encode + ADC CTE chain (DuckDB dialect) through `adc_r`;
    * assumes [[ivfCtes]] precedes it (reads e/seeds/dists/assign). Mirrors
    * [[pqResiduals]]/[[pqrCodes]]/[[pqrAdcTopK]]: residuals are exact
    * double subtractions, the LUT is keyed (qid, cell, m, sid). */
  private def pqrCtes(qcap: Int): String =
    s"""res AS MATERIALIZED (
       |  SELECT a.vec_id, a.cell,
       |    [CAST(v.embedding[i] AS DOUBLE) - CAST(s.embedding[i] AS DOUBLE)
       |     for i in range(1, len(v.embedding)+1)] AS r
       |  FROM assign a JOIN e v USING (vec_id) JOIN seeds s ON s.sid = a.cell),
       |rseeds AS (
       |  SELECT vec_id AS sid, r AS se FROM res
       |  WHERE vec_id % 64 = 0 AND vec_id < ${PqK * 64}),
       |rsub AS (
       |  SELECT vec_id, CAST(rm.m AS INTEGER) AS m, r
       |  FROM res, range(0, $PqM) rm(m)),
       |rdists AS MATERIALIZED (
       |  SELECT v.vec_id, v.m, s.sid,
       |    list_sum([(v.r[v.m*$PqSub+i] - s.se[v.m*$PqSub+i])
       |              * (v.r[v.m*$PqSub+i] - s.se[v.m*$PqSub+i])
       |              for i in range(1, $PqSub + 1)]) AS dist
       |  FROM rsub v CROSS JOIN rseeds s),
       |rcodes AS (
       |  SELECT vec_id, m, sid FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, sid) AS rn
       |    FROM rdists)
       |  WHERE rn = 1),
       |""".stripMargin + ivfCandSql(Some(qcap)) + ",\n" +
      s"""rlut AS (
         |  SELECT q.qid, q.cell, CAST(rm.m AS INTEGER) AS m, s.sid,
         |    list_sum([(q.qr[rm.m*$PqSub+i] - s.se[rm.m*$PqSub+i])
         |              * (q.qr[rm.m*$PqSub+i] - s.se[rm.m*$PqSub+i])
         |              for i in range(1, $PqSub + 1)]) AS dist
         |  FROM (
         |    SELECT p.qid, p.cell,
         |      [CAST(v.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)
         |       for i in range(1, len(v.embedding)+1)] AS qr
         |    FROM probes p JOIN e v ON v.vec_id = p.qid
         |    JOIN seeds c ON c.sid = p.cell) q,
         |    range(0, $PqM) rm(m) CROSS JOIN rseeds s),
         |adc_r AS (
         |  SELECT c.qid, c.nid,
         |    list_sum(list(l.dist ORDER BY l.m)) AS adc_dist
         |  FROM cand c
         |  JOIN rcodes k ON k.vec_id = c.nid
         |  JOIN rlut l ON l.qid = c.qid AND l.cell = c.cell AND l.m = k.m AND l.sid = k.sid
         |  GROUP BY c.qid, c.nid)""".stripMargin

  /** `exact(qid, nid, …)` — the exact top-[[TopK]] ground truth of the
    * first [[RecallQueries]] queries over the whole corpus, by cosine
    * (descending) or squared L2 (ascending), nid tie-break: the SQL twin of
    * [[computeRecallGtCos]] / [[computeRecallGt]]. Needs `e` in scope. */
  private def exactSql(cosineGt: Boolean): String = {
    val (score, order) = if (cosineGt) (cosineSql, "score DESC, nid") else (l2Sql, "score, nid")
    s"""ex_cands AS (
       |  SELECT q.vec_id AS qid, x.vec_id AS nid, $score AS score
       |  FROM e q CROSS JOIN e x
       |  WHERE q.vec_id < $RecallQueries AND x.vec_id <> q.vec_id),
       |""".stripMargin + topSql("exact", "ex_cands", order)
  }

  /** The shared recall tail — the ground truth of [[exactSql]] + the
    * per-query recall of the caller's `approx(qid, nid)` CTE: the DuckDB
    * twin of [[recallAt]]. Callers have the `e` CTE in scope and end
    * their CTE list with a trailing comma. */
  private def recallTailSql(cosineGt: Boolean): String =
    exactSql(cosineGt) + "\n" +
      s"""SELECT g.qid, COUNT(a.nid) AS n_hits,
         |  CAST(COUNT(a.nid) AS DOUBLE) / $TopK AS recall
         |FROM exact g
         |LEFT JOIN approx a ON a.qid = g.qid AND a.nid = g.nid
         |GROUP BY g.qid
         |ORDER BY g.qid""".stripMargin

  /** Twin-aware recall tail (DuckDB) — the SQL twin of
    * [[recallClassesAt]]: the exact L2 ground truth, then both sides map
    * nid → equivalence class (min vec_id over identical embeddings) and
    * recall counts distinct matched classes. Same composition contract as
    * [[recallTailSql]]. */
  private def recallClassTailSql: String =
    """cls AS MATERIALIZED (
      |  SELECT vec_id AS nid, MIN(vec_id) OVER (PARTITION BY embedding) AS cls
      |  FROM embeddings),
      |""".stripMargin + exactSql(cosineGt = false) + ",\n" +
      """gex AS (
        |  SELECT DISTINCT g.qid, c.cls FROM exact g JOIN cls c ON c.nid = g.nid),
        |gap AS (
        |  SELECT DISTINCT a.qid, c.cls FROM approx a JOIN cls c ON c.nid = a.nid)
        |SELECT g.qid, COUNT(*) AS n_classes, COUNT(p.cls) AS n_hits,
        |  CAST(COUNT(p.cls) AS DOUBLE) / COUNT(*) AS recall
        |FROM gex g
        |LEFT JOIN gap p ON p.qid = g.qid AND p.cls = g.cls
        |GROUP BY g.qid
        |ORDER BY g.qid""".stripMargin

  /** An ADC recall gauge: the [[ivfCtes]] chain, an ADC `chain` ending in
    * relation `adc`, its top-[[TopK]] as `approx`, then the scoring `tail`. */
  private def adcGaugeSql(chain: String, adc: String, tail: String): String =
    s"WITH $ivfCtes,\n" + chain + ",\n" + topSql("approx", adc, "adc_dist, nid") + ",\n" + tail

  /** IVF cosine top-k over the first `qcap` queries (or all), as
    * (qid, nid, cosine, rank). */
  private def ivfTopSql(qcap: Option[Int], k: Int): String =
    s"WITH $ivfCtes,\n" + ivfSearchSql(qcap) + ",\n" +
      topSql("top", "cands", "cosine DESC, nid", k.toString) + "\n" +
      "SELECT qid, nid, cosine, rank FROM top\nORDER BY qid, rank"

  /** `ok`/`bko`: the capped LSH postings — the SQL twin of [[lshCapped]]. */
  private val lshCappedSql: String =
    s"""ok AS (SELECT bucket FROM bk GROUP BY 1 HAVING COUNT(*) <= $LshMaxBucket),
       |bko AS (SELECT bk.* FROM bk JOIN ok USING (bucket))""".stripMargin

  /** [[lshCappedSql]] plus `lsh(qid, nid, cosine, rank)`: the own-bucket
    * cosine top-[[TopK]] of the first `qcap` vectors (or all) — the SQL
    * twin of [[lshTopK]]. */
  private def lshTopSql(qcap: Option[Int]): String =
    lshCappedSql + ",\n" +
      s"""lsh_c AS (
         |  SELECT bq.vec_id AS qid, bx.vec_id AS nid, $cosineSql AS cosine
         |  FROM bko bq
         |  JOIN e q ON q.vec_id = bq.vec_id
         |  JOIN bko bx ON bx.bucket = bq.bucket AND bx.vec_id <> bq.vec_id
         |  JOIN e x ON x.vec_id = bx.vec_id""".stripMargin +
      qcap.fold("")(n => s"\n  WHERE bq.vec_id < $n") + "),\n" +
      topSql("lsh", "lsh_c", "cosine DESC, nid")

  /** `probes(qid, pbucket, lvl)` for the vectors matching `where`: lvl 0
    * the own bucket, lvl 1 the [[Hyperplanes]] one-bit flips — the SQL
    * twin of [[lshProbes]] and of [[lshAdmitted]]'s probe expansion. */
  private def lshProbesSql(where: String): String =
    s"""probes AS (
       |  SELECT vec_id AS qid, bucket AS pbucket, 0 AS lvl
       |  FROM bk WHERE $where
       |  UNION ALL
       |  SELECT vec_id AS qid,
       |    substr(bucket, 1, CAST(p AS INTEGER)) ||
       |      (CASE WHEN substr(bucket, CAST(p AS INTEGER) + 1, 1) = '1' THEN '0' ELSE '1' END) ||
       |      substr(bucket, CAST(p AS INTEGER) + 2) AS pbucket,
       |    1 AS lvl
       |  FROM bk CROSS JOIN (SELECT unnest(range(0, $Hyperplanes)) AS p) t
       |  WHERE $where)""".stripMargin

  val oracle: Map[String, String] = Map(
    "embed_kmeans" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, $nsqSql AS nsq
         |  FROM embeddings),
         |seeds AS (
         |  SELECT vec_id AS sid, embedding, nsq AS snsq FROM e
         |  WHERE vec_id % 64 = 0 AND vec_id < ${KmeansK * 64}),
         |d1 AS (
         |  SELECT v.vec_id, s.sid,
         |    v.nsq - CAST(2.0 AS DOUBLE) * ${dotSql("v", "s")} + s.snsq AS dist
         |  FROM e v CROSS JOIN seeds s),
         |a1 AS (
         |  SELECT vec_id, sid AS cell FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, sid) AS rn
         |    FROM d1) WHERE rn = 1),
         |ex AS (
         |  SELECT a1.cell,
         |    CAST(generate_subscripts(e.embedding, 1) - 1 AS INTEGER) AS dim,
         |    CAST(floor(CAST(unnest(e.embedding) AS DOUBLE) * 10000) AS BIGINT) AS xq
         |  FROM a1 JOIN e USING (vec_id)),
         |upd AS (
         |  SELECT cell, dim, CAST(SUM(xq) AS DOUBLE) / (COUNT(*) * 10000.0) AS c
         |  FROM ex GROUP BY 1, 2),
         |cn AS (
         |  SELECT cell AS sid, list(c ORDER BY dim) AS ce,
         |    CAST(SUM(CAST(floor(c * 1000000) AS BIGINT)) AS BIGINT) AS centroid_fp
         |  FROM upd GROUP BY cell),
         |cnn AS (
         |  SELECT sid, ce, centroid_fp,
         |    list_sum([ce[i] * ce[i] for i in range(1, len(ce)+1)]) AS snsq
         |  FROM cn),
         |d2 AS (
         |  SELECT v.vec_id, c.sid,
         |    v.nsq - CAST(2.0 AS DOUBLE) *
         |      list_sum([CAST(v.embedding[i] AS DOUBLE) * c.ce[i]
         |        for i in range(1, len(v.embedding)+1)]) + c.snsq AS dist
         |  FROM e v CROSS JOIN cnn c),
         |a2 AS (
         |  SELECT vec_id, sid AS cell FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, sid) AS rn
         |    FROM d2) WHERE rn = 1)
         |SELECT a2.cell, COUNT(*) AS n_vectors, MIN(vec_id) AS min_vec_id,
         |  cnn.centroid_fp
         |FROM a2 JOIN cnn ON cnn.sid = a2.cell
         |GROUP BY a2.cell, cnn.centroid_fp
         |ORDER BY cell""".stripMargin,
    "embed_label_centroids" ->
      """WITH ex AS (
        |  SELECT label,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS xq
        |  FROM embeddings)
        |SELECT label, dim,
        |  CAST(SUM(xq) AS DOUBLE) / (COUNT(*) * 10000.0) AS centroid
        |FROM ex
        |GROUP BY label, dim
        |ORDER BY label, dim""".stripMargin,
    "sim_dim_variance" ->
      """WITH e AS (
        |  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS q
        |  FROM embeddings)
        |SELECT dim, COUNT(*) AS n,
        |  CAST(SUM(q) AS BIGINT) AS sq,
        |  CAST(SUM(q * q) AS BIGINT) AS sq2,
        |  CAST(COUNT(*) * SUM(q * q) - SUM(q) * SUM(q) AS BIGINT) AS var_scaled
        |FROM e GROUP BY dim
        |ORDER BY dim""".stripMargin,
    "sim_centroid_shift" ->
      """WITH e AS (
        |  SELECT label, vec_id % 2 AS half,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS q
        |  FROM embeddings),
        |g AS (
        |  SELECT label, dim,
        |    COALESCE(SUM(CASE WHEN half = 0 THEN q END), 0) AS sq_a,
        |    COALESCE(SUM(CASE WHEN half = 1 THEN q END), 0) AS sq_b,
        |    SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n_a,
        |    SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n_b
        |  FROM e GROUP BY 1, 2)
        |SELECT label, CAST(MIN(n_a) AS BIGINT) AS n_a,
        |  CAST(MIN(n_b) AS BIGINT) AS n_b,
        |  CAST(SUM(ABS(sq_a * n_b - sq_b * n_a)) AS BIGINT) AS l1_shift_scaled
        |FROM g GROUP BY label
        |ORDER BY label""".stripMargin,
    "embed_norm_stats" ->
      s"""WITH normed AS (
         |  SELECT label, sqrt($nsqSql) AS norm FROM embeddings),
         |q AS (
         |  SELECT label, norm, CAST(floor(norm * 10000) AS BIGINT) AS nq FROM normed)
         |SELECT label, COUNT(*) AS n_vectors,
         |  MIN(norm) AS min_norm, MAX(norm) AS max_norm,
         |  CAST(SUM(nq) AS DOUBLE) / (COUNT(*) * 10000.0) AS mean_norm
         |FROM q
         |GROUP BY label
         |ORDER BY label""".stripMargin,
    "sim_knn_acc" ->
      (s"WITH $ivfCtes,\n" + ivfSearchSql(None) + ",\n" +
        topSql("top1", "cands", "cosine DESC, nid", "1") + "\n" +
        """SELECT ql.label AS q_label, COUNT(*) AS n_queries,
          |  COUNT(CASE WHEN ql.label = nl.label THEN 1 END) AS n_agree,
          |  CAST(COUNT(CASE WHEN ql.label = nl.label THEN 1 END) AS DOUBLE) / COUNT(*) AS knn_acc
          |FROM top1 t
          |JOIN embeddings ql ON ql.vec_id = t.qid
          |JOIN embeddings nl ON nl.vec_id = t.nid
          |GROUP BY ql.label
          |ORDER BY q_label""".stripMargin),
    "sim_ivf_balance" ->
      (s"WITH $ivfCtes,\n" +
        """sizes AS (
          |  SELECT cell, COUNT(*) AS cell_size FROM assign GROUP BY cell)
          |SELECT cell_size, COUNT(*) AS n_cells
          |FROM sizes GROUP BY cell_size
          |ORDER BY cell_size""".stripMargin),
    "sim_ivf_cells" ->
      (s"WITH $ivfCtes\n" +
        """SELECT cell, COUNT(*) AS n_vectors, MIN(vec_id) AS min_vec_id
          |FROM assign GROUP BY cell ORDER BY cell""".stripMargin),
    "sim_ivf_probe" -> ivfTopSql(Some(20), 3),
    "sim_cosine_topk" -> ivfTopSql(None, TopK),
    "sim_filtered_topk" ->
      (s"WITH $ivfCtes,\n" + ivfSearchSql(Some(50)) + ",\n" +
        """lab AS (SELECT vec_id, label FROM embeddings),
          |fcands AS (
          |  SELECT c.qid, c.nid, lx.label, c.cosine
          |  FROM cands c
          |  JOIN lab lq ON lq.vec_id = c.qid
          |  JOIN lab lx ON lx.vec_id = c.nid AND lx.label = lq.label),
          |""".stripMargin + topSql("top", "fcands", "cosine DESC, nid") + "\n" +
        "SELECT qid, nid, label, cosine, rank FROM top\nORDER BY qid, rank"),
    "sim_range_search" ->
      (s"WITH $ivfCtes,\n" + ivfSearchSql(Some(50)) + ",\n" +
        s"""ppm AS (
           |  SELECT qid, nid, CAST(FLOOR(cosine * 1e6) AS BIGINT) AS cosine_ppm FROM cands)
           |SELECT qid, nid, cosine_ppm FROM ppm
           |WHERE cosine_ppm >= ${(RangeTau * 1e6).toLong}
           |ORDER BY qid, nid""".stripMargin),
    "sim_sq_int8" ->
      """WITH dims AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |stats AS (
        |  SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM dims GROUP BY dim),
        |coded AS (
        |  SELECT vec_id, d.dim, x, lo, hi,
        |    CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
        |         ELSE least(CAST(floor((x - lo) / (hi - lo) * 255) AS BIGINT), 255) END AS code
        |  FROM dims d JOIN stats s ON d.dim = s.dim),
        |errs AS (
        |  SELECT vec_id, dim, code,
        |    x - (lo + (CAST(code AS DOUBLE) + 0.5) * (hi - lo) / 256) AS e
        |  FROM coded)
        |SELECT vec_id,
        |  array_to_string(list(code ORDER BY dim), ',') AS codes,
        |  list_sum(list(e * e ORDER BY dim)) AS sq_err
        |FROM errs
        |GROUP BY vec_id
        |ORDER BY vec_id""".stripMargin,
    "sim_pq_adc" ->
      (s"WITH $ivfCtes,\n" + pqAdcCtes(20) + ",\n" +
        topSql("top", "adc", "adc_dist, nid", "3") + "\n" +
        "SELECT qid, nid, adc_dist, rank FROM top\nORDER BY qid, rank"),
    "sim_recall_pq" ->
      adcGaugeSql(pqAdcCtes(RecallQueries), "adc", recallTailSql(cosineGt = false)),
    "sim_recall_pqr" ->
      adcGaugeSql(pqrCtes(RecallQueries), "adc_r", recallTailSql(cosineGt = false)),
    "sim_recall_pq_eq" ->
      adcGaugeSql(pqAdcCtes(RecallQueries), "adc", recallClassTailSql),
    "sim_recall_pqr_eq" ->
      adcGaugeSql(pqrCtes(RecallQueries), "adc_r", recallClassTailSql),
    "sim_recall_refined" ->
      (s"WITH $ivfCtes,\n" + pqAdcCtes(RecallQueries) + ",\n" +
        topSql("short", "adc", "adc_dist, nid", "(SELECT stride FROM ivfp)") + ",\n" +
        s"""rr AS (
           |  SELECT s.qid, s.nid, $l2Sql AS dist
           |  FROM short s
           |  JOIN e q ON q.vec_id = s.qid
           |  JOIN e x ON x.vec_id = s.nid),
           |""".stripMargin + topSql("approx", "rr", "dist, nid") + ",\n" +
        recallTailSql(cosineGt = false)),
    "sim_recall" ->
      (s"WITH $ivfCtes,\n" + ivfSearchSql(Some(RecallQueries)) + ",\n" +
        topSql("approx", "cands", "cosine DESC, nid") + ",\n" +
        recallTailSql(cosineGt = true)),
    "sim_probe_sweep" ->
      (s"WITH $ivfCtes,\n" + ivfSearchSql(Some(RecallQueries), ProbeSweepLevels.max) + ",\n" +
        s"""levels AS (SELECT unnest([${ProbeSweepLevels.mkString(",")}]) AS n_probes),
           |apx_cands AS (
           |  SELECT l.n_probes, c.qid, c.nid, c.cosine
           |  FROM cands c JOIN levels l ON c.rn <= l.n_probes),
           |""".stripMargin +
        topSql("approx", "apx_cands", "cosine DESC, nid", part = "n_probes, qid") + ",\n" +
        exactSql(cosineGt = true) + ",\n" +
        s"""hits AS (
           |  SELECT a.n_probes, COUNT(*) AS n_hits
           |  FROM exact g JOIN approx a ON a.qid = g.qid AND a.nid = g.nid
           |  GROUP BY a.n_probes)
           |SELECT l.n_probes, COALESCE(h.n_hits, 0) AS n_hits,
           |  CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / ${RecallQueries * TopK} AS recall
           |FROM levels l LEFT JOIN hits h ON h.n_probes = l.n_probes
           |ORDER BY l.n_probes""".stripMargin),
    "sim_lsh_buckets" ->
      (s"WITH $lshCtes\n" +
        s"""SELECT bucket, COUNT(*) AS n_vectors, MIN(vec_id) AS min_vec_id
           |FROM bk
           |GROUP BY 1
           |ORDER BY bucket""".stripMargin),
    "sim_lsh_topk" ->
      (s"WITH $lshCtes,\n" + lshTopSql(None) + "\n" +
        "SELECT qid, nid, cosine, rank FROM lsh\nORDER BY qid, rank"),
    "sim_lsh_recall" ->
      (s"WITH $lshCtes,\n" + lshProbesSql(s"vec_id < $RecallQueries") + ",\n" +
        lshCappedSql + ",\n" +
        """cand AS (
          |  SELECT p.qid, n.vec_id AS nid, MIN(p.lvl) AS lvl
          |  FROM probes p
          |  JOIN bko n ON n.bucket = p.pbucket AND n.vec_id <> p.qid
          |  GROUP BY 1, 2),
          |""".stripMargin + exactSql(cosineGt = true) + "\n" +
        s"""SELECT g.qid,
           |  COUNT(CASE WHEN c.lvl = 0 THEN 1 END) AS n_hits_own,
           |  CAST(COUNT(CASE WHEN c.lvl = 0 THEN 1 END) AS DOUBLE) / $TopK AS recall_own,
           |  COUNT(c.lvl) AS n_hits_mp,
           |  CAST(COUNT(c.lvl) AS DOUBLE) / $TopK AS recall_mp
           |FROM exact g
           |LEFT JOIN cand c ON c.qid = g.qid AND c.nid = g.nid
           |GROUP BY g.qid
           |ORDER BY g.qid""".stripMargin),
    "sim_incremental" ->
      (s"WITH $lshCtes,\n" +
        s"""old_idx AS (
           |  SELECT pbucket, old_id FROM (
           |    SELECT bucket AS pbucket, vec_id AS old_id,
           |      row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn
           |    FROM bk WHERE vec_id % 10 <> 0)
           |  WHERE rn <= $LshMaxBucket),
           |""".stripMargin + lshProbesSql("vec_id % 10 = 0") + ",\n" +
        s"""dups AS (
           |  SELECT p.qid AS vec_id, MIN(o.old_id) AS dup_of
           |  FROM probes p
           |  JOIN old_idx o ON o.pbucket = p.pbucket
           |  JOIN e q ON q.vec_id = p.qid
           |  JOIN e x ON x.vec_id = o.old_id
           |  WHERE CAST(floor($cosineSql * 1e6) AS BIGINT)
           |    >= ${(IncrementalSimTau * 1e6).toLong}
           |  GROUP BY 1)
           |SELECT n.vec_id, d.dup_of, d.dup_of IS NULL AS admitted
           |FROM (SELECT vec_id FROM bk WHERE vec_id % 10 = 0) n
           |LEFT JOIN dups d ON d.vec_id = n.vec_id
           |ORDER BY n.vec_id""".stripMargin),
    "sim_index_agreement" ->
      (s"WITH $ivfCtes,\n$lshTailCtes,\n" + ivfSearchSql(Some(RecallQueries)) + ",\n" +
        topSql("ivf", "cands", "cosine DESC, nid") + ",\n" +
        lshTopSql(Some(RecallQueries)) + "\n" +
        s"""SELECT COALESCE(i.qid, l.qid) AS qid,
           |  COUNT(i.nid) AS n_ivf,
           |  COUNT(l.nid) AS n_lsh,
           |  COUNT(CASE WHEN i.nid IS NOT NULL AND l.nid IS NOT NULL THEN 1 END) AS n_common,
           |  COUNT(CASE WHEN i.nid IS NOT NULL AND l.nid IS NOT NULL THEN 1 END)
           |    * 1000000 // $TopK AS agreement_ppm
           |FROM ivf i
           |FULL JOIN lsh l ON l.qid = i.qid AND l.nid = i.nid
           |GROUP BY 1
           |ORDER BY qid""".stripMargin)
  )
}
