package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.Tables

/** Deduplication operators over `documents` — exact, n-gram Jaccard, and
  * MinHash+LSH near-dup (BASELINE.json north star; the core of any
  * large-scale training-data pipeline).
  *
  * Scale design (100 TB):
  *  - exact dedup is one hash aggregation on the content key — the shuffle
  *    is by key hash, perfectly balanced unless one document dominates;
  *  - the MinHash path is the scale path: O(docs × K) signature computation
  *    (per-row HOFs, no shuffle), then a shuffle on (band, bandHash) whose
  *    fan-in is only near-duplicate clusters — candidate verification runs
  *    per bucket, never all-pairs;
  *  - the plain n-gram Jaccard join (shingle inverted index) is kept as the
  *    exact baseline; its shuffle grows with shared-shingle frequency, which
  *    is why MinHash banding exists.
  *
  * All hashes are md5-derived so the DuckDB oracle reproduces them exactly.
  */
object Dedup {

  /** Word-3-gram occurrence rows (doc_id, shingle), duplicates preserved —
    * the scan-fused codegen formulation ([[Corpus.shingleOccurrencesN]]:
    * explode of gram start positions + element_at assembly, zero shuffle).
    * Two prior formulations are retired for cause: the array-HOF version
    * is interpreted (CodegenFallback) and was the dominant cost of both
    * dedup joins (each self-join branch re-evaluates its subtree); the
    * posexplode + window-leads version stayed in codegen but paid a
    * doc_id exchange AND a per-partition token sort per index build
    * (removed r14 — guide §2.4). Consumers that need SET semantics read
    * [[shingleRowsIdx]]; duplicate-insensitive aggregations (min-hash
    * minima) consume this directly and skip the distinct's
    * (doc_id, shingle) exchange entirely.
    */
  def shingleOccurrences(docs: DataFrame): DataFrame =
    Corpus.shingleOccurrencesN(docs, 3)

  /** MEMOIZED 3-gram occurrence relation over the corpus — the inverted
    * index's raw postings, built once per (session, dataset) like the pair
    * graph and IVF file ([[graft.Memo]]). Production analog: the shingle
    * relation is persisted once per corpus snapshot and every consumer
    * (signatures, DF stats, vocab growth, trigram LM) reads the table —
    * rebuilding a posexplode+window pass per query was the dominant
    * repeated cost of the dedup family. */
  private[graft] def shingleOcc(s: SparkSession, d: String): DataFrame =
    memoized("shingle_occ", s, d)(
      // repartition by doc_id at BUILD time: the retired window
      // formulation left the checkpoint hash(doc_id)-partitioned as a
      // side effect, and every consumer (signature minima, the distinct/
      // sz-window of shingleRowsIdx) reuses that clustering to skip its
      // own exchange. The r14 scan-fused assembly has no shuffle of its
      // own, so the partitioning is now explicit — same one exchange as
      // before, minus the window's per-partition token SORT (a persisted
      // index is written partitioned for its readers; DEPLOYMENT.md).
      shingleOccurrences(Tables.fanout(Tables.documents(s, d)))
        .repartition(col("doc_id")).localCheckpoint())

  /** MEMOIZED distinct (doc_id, shingle, sz) set — [[shingleOcc]]
    * deduplicated, the SET-semantics face of the same persisted index.
    * `sz` is the document's TRUE distinct-shingle count, computed at
    * index build (one doc_id window, paid once per snapshot) — a real
    * inverted index stores set sizes next to the postings, and carrying
    * it saves every Jaccard-denominator consumer a per-query window
    * exchange over the whole relation. */
  private[graft] def shingleRowsIdx(s: SparkSession, d: String): DataFrame =
    memoized("shingle_rows", s, d) {
      val szw = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      shingleOcc(s, d).distinct()
        .withColumn("sz", count(lit(1)).over(szw))
        .localCheckpoint()
    }

  /** Two 32-bit halves of md5(x) — seeds of the multiplicative MinHash
    * family h_j(x) = ((C_j·h1) mod 2³¹) + ((D_j·h2) mod 2³¹). ONE digest
    * per shingle instead of one per (shingle × signature index): the
    * md5-per-j family cost K=12 digests per occurrence row and dominated
    * the signature aggregation. The multiply gives per-j avalanche —
    * plain h1 + j·h2 (and xor-rotate) leave consecutive-j minima
    * correlated, which inflated band collisions ~7× (a shingle small in
    * both halves stays minimal across a whole band). Products are
    * < 2³¹·2³² = 2⁶³, so the arithmetic overflows in neither engine
    * (DuckDB BIGINT ops are checked, not wrapping; Java longs hold 2⁶³−1). */
  def mhashH1(x: Column): Column = conv(substring(md5(x), 1, 8), 16, 10).cast("long")
  def mhashH2(x: Column): Column = conv(substring(md5(x), 9, 8), 16, 10).cast("long")

  /** Per-index odd 31-bit multiplier pairs (C_j, D_j) — fixed constants so
    * signatures are deterministic and the DuckDB oracle reproduces them. */
  val MhashCD: Seq[(Long, Long)] = Seq(
    (1373158607L, 239081665L), (53710185L, 1592467583L),
    (590620973L, 525901257L), (479341425L, 299655413L),
    (1581559893L, 220106709L), (1453201079L, 1590571867L),
    (1915941033L, 1171165723L), (186699715L, 1268073013L),
    (906070221L, 68252795L), (63989049L, 201209007L),
    (469521479L, 499635469L), (1085242217L, 1292825379L))

  private val M31 = 0x7FFFFFFFL

  /** The j-th family member over precomputed halves. */
  def mhash(j: Int, h1: Column, h2: Column): Column =
    (lit(MhashCD(j)._1) * h1).bitwiseAND(lit(M31)) +
      (lit(MhashCD(j)._2) * h2).bitwiseAND(lit(M31))

  val K = 12        // signature length
  val Rows = 3      // rows per band
  val Bands = K / Rows

  val JaccardThreshold = 0.4

  /** Inverted-index pruning cap: shingles appearing in more than this many
    * documents are dropped BEFORE the self-join. A shingle with document
    * frequency f fans into f² join pairs — one stop-shingle ("of the and")
    * in 1% of a 100 TB corpus is a quadratic hot key that no partitioning
    * fixes. Capping DF bounds per-key fan-in to MaxShingleDf² and is the
    * standard inverted-index trick; the resulting Jaccard is computed over
    * the rare-shingle universe (documented approximation, mirrored exactly
    * in the oracle). At the tested SFs max DF is 25, so results are
    * unchanged vs the uncapped exact join. */
  val MaxShingleDf = 100

  /** LSH bucket-size ceiling: within each (band, hash) bucket only the
    * [[MaxBucketSize]] smallest doc_ids survive (deterministic, mirrored in
    * the oracle). A bucket with m members fans into m²/2 candidate pairs
    * AND gathers into one collect_list row — one byte-identical-spam
    * cluster of 100k docs at 100 TB would concentrate a quadratic blow-up
    * into a single task. The cap trades recall ONLY on pathological buckets
    * (every capped bucket still links its kept members, so the survivors
    * keep clustering together); at the tested SFs the largest bucket is far
    * below the cap, so results equal the uncapped join (asserted by
    * BucketCapSpec). */
  val MaxBucketSize = 64

  /** SemDeDup cosine threshold: a vector is a semantic duplicate of a
    * lower-id IVF cell-mate at or above this cosine. The paper sweeps
    * this per-corpus (0.9+ for real encoder embeddings); the synthetic
    * test embeddings are near-orthogonal, so the tested value sits where
    * the decision actually bites at the tested SFs. Deployment knob —
    * raise it toward 1.0 to drop only the tightest paraphrase clusters. */
  val SemDeDupTau = 0.35

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // exact dedup on a normalized content key: groups with >1 member.
    "dedup_exact" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(substring(col("text"), 1, 40)).as("content_key"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .filter(col("n_dups") > 1)
        .orderBy(col("content_key"))),

    // n-gram Jaccard via a DF-capped shingle inverted index: read the
    // MEMOIZED distinct-shingle relation ([[shingleRowsIdx]] — the
    // persisted inverted index at 100 TB), drop shingles above
    // [[MaxShingleDf]], gather each surviving shingle's posting list with
    // ONE aggregation, and generate doc pairs inside the posting-list
    // array (fan-out per shingle bounded by MaxShingleDf²/2 — the whole
    // point of the cap). The posting-list aggregation reuses the
    // DF-window's shingle exchange, so the query is the index scan + 2
    // data exchanges + the pair agg — the shingle pipeline itself is paid
    // once per corpus snapshot, not per query.
    //
    // Semantics: denominators are the TRUE distinct-shingle set sizes;
    // only the intersection is counted over the capped index. Dropping
    // index entries can only UNDERcount intersections, so the reported
    // Jaccard is a lower bound of the exact one — every emitted pair is a
    // guaranteed true near-dup (no false positives), and at the tested SFs
    // (max DF 25 < cap) the output equals the exact join's.
    "dedup_ngram_jaccard" -> ((s, d) => {
      val dfw = org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))
      val sh = shingleRowsIdx(s, d) // carries the TRUE set size `sz`
        .withColumn("df", count(lit(1)).over(dfw))
        .filter(col("df") <= MaxShingleDf)
        .drop("df")
      // the posting-list gather reuses the DF window's shingle
      // partitioning. The agg keys narrow from 4 columns to the 2 real
      // keys — sz1/sz2 are functionally dependent on the ids and ride
      // along as max() aggregates, so the near-unique-key hash
      // aggregation compares and shuffles half the key bytes.
      bucketPairs(sh, struct(col("doc_id"), col("sz")), "shingle")
        .select(col("x.doc_id").as("id1"), col("x.sz").as("sz1"),
          col("y.doc_id").as("id2"), col("y.sz").as("sz2"))
        .groupBy(col("id1"), col("id2"))
        .agg(count(lit(1)).as("inter"), max(col("sz1")).as("sz1"),
          max(col("sz2")).as("sz2"))
        .withColumn("jaccard",
          col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")))
        .filter(col("jaccard") >= JaccardThreshold)
        .select(col("id1"), col("id2"), col("jaccard"))
        .orderBy(col("id1"), col("id2"))
    }),

    // edit-distance near-dup: blocked candidate generation (equal 20-char
    // prefix key) then Levenshtein verification on a 60-char window — the
    // classic block-then-verify shape; never all-pairs.
    "dedup_levenshtein" -> ((s, d) => {
      val doc = Tables.documents(s, d)
        .select(col("doc_id"), md5(substring(col("text"), 1, 20)).as("blk"),
          substring(col("text"), 1, 60).as("head"))
      Relational.sortedOnce(
        blockPairs(doc, "blk", "doc_id").select(col("id1"), col("id2"),
          levenshtein(col("head1"), col("head2")).cast("long").as("edit_dist")),
        col("id1"), col("id2"))
    }),

    // embedding-cosine near-dup, IVF-bucketed: assign every vector to its
    // nearest coarse centroid (broadcast centroids, one narrow pass), then
    // generate candidate pairs ONLY within a cell and exact-verify the
    // cosine threshold. No cartesian product anywhere in the plan: the pair
    // join shuffles on `cell`, and candidate volume is n·cellsize where
    // cellsize ≈ n / Similarity.MaxCentroids — bounded ONLY as long as the
    // list count is sized to the corpus (see the MaxCentroids scaladoc: it
    // is the IVF deployment knob, raised with n). Recall is approximate (a
    // near-dup pair split across cells is missed) — the documented ANN
    // trade; the oracle mirrors the same cell restriction, so both engines
    // agree exactly.
    "dedup_embedding_cosine" -> ((s, d) =>
      cellCosinePairs(embeddingCells(s, d))
        .filter(col("cosine") >= 0.3)
        .orderBy(col("id1"), col("id2"))),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    // deduplication as a KEEP/DROP decision per vector — cluster the
    // embedding space (the deterministic IVF coarse quantizer doubles as
    // the paper's k-means step), then inside each cluster drop any vector
    // whose cosine to a LOWER-ID cluster-mate exceeds [[SemDeDupTau]];
    // the lowest id of each semantic group survives. Same within-cell
    // candidate shape as dedup_embedding_cosine (pair join shuffles on
    // `cell`, volume n·cellsize, never n²), but aggregated to the
    // per-vector verdict a pipeline actually consumes, with the blame
    // count carried for observability. The left join keeps singletons —
    // every vector gets a row. A pair's higher id is the vector that has
    // a lower-id duplicate, so the blame count groups on id2.
    "dedup_semdedup" -> ((s, d) => {
      val ea = embeddingCells(s, d)
      val dups = cellCosinePairs(ea)
        .filter(col("cosine") >= SemDeDupTau)
        .groupBy(col("id2").as("vec_id"))
        .agg(count(lit(1)).as("n_dups_lower"))
      ea.select(col("vec_id"), col("cell"))
        .join(dups, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("n_dups_lower"), lit(0L)).as("n_dups_lower"),
          col("n_dups_lower").isNull.as("keep"))
        .orderBy(col("vec_id"))
    }),

    // MinHash+LSH: md5 minima signature → band hashes → bucket join →
    // candidate pairs (deduped across bands).
    //
    // Formulated as explode → groupBy(doc).agg(K min's) rather than nested
    // array HOFs: the lambda formulation re-evaluated the shingle array per
    // signature index AND ran interpreted (measured 48 s → ~2 s at sf0.1).
    // Exploded md5s are codegen'd; the shuffle key is doc_id — high
    // cardinality, so the agg balances across 1000 executors at scale.
    //
    // Consumes shingle OCCURRENCES, not the distinct set: min(md5(j:x)) is
    // duplicate-insensitive, so the `.distinct()` exchange on
    // (doc_id, shingle) is pure waste here — and the signature groupBy
    // reuses the doc_id partitioning the shingle window already produced,
    // so the whole signature computation runs in ONE shuffle.
    "dedup_minhash_lsh" -> ((s, d) =>
      minhashPairs(s, d).orderBy(col("id1"), col("id2"))),

    // INCREMENTAL admission — the daily-ingest production shape: a new
    // batch (docs ≡0 mod 10, the synthetic increment) is deduped against
    // the EXISTING corpus only. New-side banded rows equi-join the
    // corpus's banded index on (band, band_hash) — at 100 TB that index
    // is a persisted table written by the last full pass, so the
    // incremental cost is ∝ batch size and old×old pairs are never
    // revisited; within-batch duplicates are the batch pass's job
    // (dedup_minhash_lsh), exactly as production dedupes the increment
    // internally before admission. The corpus side keeps the
    // MaxBucketSize cap ORDERED BY doc_id, which is output-neutral here:
    // the verdict is min(old_id) and the cap keeps the smallest ids.
    "dedup_incremental" -> ((s, d) => {
      val banded = minhashBanded(s, d)
      val isNew = col("doc_id") % 10 === 0
      val oldIdx = capBuckets(banded.filter(!isNew), MaxBucketSize, "band", "band_hash")
        .select(col("band"), col("band_hash"), col("doc_id").as("old_id"))
      banded.filter(isNew)
        .join(oldIdx, Seq("band", "band_hash"), "left")
        .groupBy(col("doc_id"))
        .agg(min(col("old_id")).as("dup_of"))
        .select(col("doc_id"), col("dup_of"), col("dup_of").isNull.as("admitted"))
        .orderBy(col("doc_id"))
    }),

    // MinHash estimator quality gate — the dedup analogue of sim_recall:
    // for every LSH candidate pair, the signature-estimated Jaccard
    // (matching positions / K) next to the EXACT shingle-set Jaccard and
    // the signed error. This is how a deployment tunes K/Rows/Bands: the
    // estimate's error distribution on served candidates tells you whether
    // the signature is long enough BEFORE you commit a 100 TB dedup run to
    // it. Cost shape: the candidate pair set (tiny — near-dups only) joins
    // the signature relation twice (doc-keyed) and the intersection count
    // rides a shingle-keyed join restricted to candidate docs; nothing
    // quadratic, nothing corpus-wide beyond the passes the LSH already
    // ran. Exact Jaccard over DISTINCT shingle sets (the standard
    // definition) — ratios of small ints, bit-stable in both engines.
    // Consumes the MEMOIZED scored-candidate relation ([[pairScored]] —
    // shared with dedup_lsh_precision, which aggregates the same rows to
    // its decision-quality verdict): the per-pair arithmetic here is a
    // pure projection over it.
    "dedup_minhash_est" -> ((s, d) =>
      pairScored(s, d)
        .select(col("id1"), col("id2"), col("n_matches"),
          (col("n_matches").cast("double") / K).as("est_jaccard"),
          (col("ni0").cast("double") / (col("n1") + col("n2") - col("ni0")))
            .as("jaccard"),
          abs(col("n_matches").cast("double") / K -
            col("ni0").cast("double") / (col("n1") + col("n2") - col("ni0")))
            .as("abs_err"))
        .orderBy(col("id1"), col("id2"))),

    // Shingle document-frequency histogram in exact log2 buckets — THE
    // table MaxShingleDf is tuned from (DEPLOYMENT.md says "set from a
    // DF histogram"; this ships it): how many shingles live at each DF
    // magnitude, so the cap lands above the content mass and below the
    // stop-shingle head. One shingle-keyed agg over the MEMOIZED
    // distinct-shingle index ([[shingleRowsIdx]] — the same persisted
    // relation the dedup/contamination family reads) + a histogram-sized
    // bucket agg.
    "dedup_shingle_df_hist" -> ((s, d) =>
      shingleRowsIdx(s, d)
        .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .withColumn("bucket", length(bin(col("df"))).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_shingles"), min(col("df")).as("min_df"),
          max(col("df")).as("max_df"))
        .orderBy(col("bucket"))),

    // LSH threshold-decision quality — one rung up from dedup_minhash_est's
    // per-pair errors: at the dedup decision threshold (Jaccard ≥ 0.5),
    // how often does the K-hash ESTIMATE agree with exact truth across the
    // candidate set? TP/FP/FN + precision/recall in exact ppm, every
    // comparison INTEGER (est ≥ ½ ⇔ 2·matches ≥ K; exact ≥ ½ ⇔ 2·∩ ≥ ∪)
    // so both engines cut identically. FP = wasted verification work,
    // candidate-set FN = pairs the estimate would wrongly release — the
    // two numbers that size K before a 100 TB run (band-stage misses are
    // dedup_bucket_overflow's jurisdiction). Single-row output. Rides the
    // MEMOIZED [[pairScored]] relation (shared with dedup_minhash_est) —
    // the query itself is one scalar aggregation over the scored pairs,
    // down from the 8-exchange/6-scan plan that rebuilt the shingle AND
    // signature pipelines per run.
    "dedup_lsh_precision" -> ((s, d) =>
      pairScored(s, d)
        .withColumn("est_hi", col("n_matches") * 2 >= K)
        .withColumn("ex_hi", col("ni0") * 2 >= col("n1") + col("n2") - col("ni0"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("est_hi") && col("ex_hi"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("est_hi") && !col("ex_hi"), 1L).otherwise(0L)).as("fp"),
          sum(when(!col("est_hi") && col("ex_hi"), 1L).otherwise(0L)).as("fn"))
        .withColumn("precision_ppm",
          expr("CASE WHEN tp + fp = 0 THEN 0 ELSE tp * 1000000 div (tp + fp) END"))
        .withColumn("recall_ppm",
          expr("CASE WHEN tp + fn = 0 THEN 0 ELSE tp * 1000000 div (tp + fn) END"))),

    // SimHash near-dup: 60-bit fingerprints banded into 4 × 15-bit chunks.
    // By pigeonhole, any pair within Hamming distance 3 has at least one
    // UNTOUCHED chunk, so the banded bucket join has PERFECT recall at this
    // threshold (unlike MinHash banding, which is probabilistic) — the
    // standard multi-index Hamming search. Candidate pairs are generated
    // inside (band, chunk) buckets — never all-pairs, bounded by
    // [[MaxBucketSize]] — and verified with a single integer xor +
    // popcount. Two shuffles total: the doc_id signature agg (same integer
    // bit-sum shape as text_fingerprint) and the (band, chunk) bucket agg.
    "dedup_simhash" -> ((s, d) =>
      simhashPairs(s, d, MaxBucketSize).orderBy(col("id1"), col("id2"))),

    // Bucket-overflow REPORT: the observability twin of [[MaxBucketSize]].
    // A silent cap reads as "covered everything" when it didn't — this
    // per-band diagnostic (bucket count, largest bucket, buckets over the
    // cap, members the cap would drop) is what a 100 TB operator watches to
    // size the cap and to catch a byte-identical-spam cluster forming. Two
    // hash aggs over the banded rows; the second groups on `band` (4 rows).
    "dedup_bucket_overflow" -> ((s, d) =>
      minhashBanded(s, d)
        .groupBy(col("band"), col("band_hash")).agg(count(lit(1)).as("m"))
        .groupBy(col("band")).agg(
          count(lit(1)).as("n_buckets"),
          max(col("m")).as("max_bucket"),
          count(when(col("m") > MaxBucketSize, true)).as("n_over_cap"),
          sum(when(col("m") > MaxBucketSize, col("m") - MaxBucketSize)
            .otherwise(lit(0L))).as("members_dropped"))
        .select(col("band").cast("long").as("band"), col("n_buckets"),
          col("max_bucket"), col("n_over_cap"), col("members_dropped"))
        .orderBy(col("band"))),

    // Cross-document SUBSTRING duplication — the scalable stand-in for
    // suffix-array exact-substring dedup (Lee et al.'s "Deduplicating
    // Training Data" pass): a document's word-10-grams that also appear in
    // ANY other document, reported as per-doc duplicated coverage. Shape:
    // posexplode → 9 window leads over ONE doc_id window (gram assembly,
    // exchange #1) → 60-bit md5 gram keys (fixed-width keys, never
    // 10-word strings, cross the wire) → per-doc distinct (free — reuses
    // the doc_id partitioning) → document-frequency as a count over the
    // gram-key window (exchange #2, the df-as-window trick from
    // text_tfidf) → per-doc roll-up (exchange #3). All keys are
    // high-cardinality; a boilerplate gram shared by millions of docs
    // at 100 TB concentrates its window partition — the hardened
    // deployment puts a DF cap on grams first (the [[MaxShingleDf]]
    // discipline), which also drops exactly the grams a dedup pass
    // would treat as boilerplate rather than evidence.
    "dedup_substring" -> ((s, d) => {
      val grams = Corpus.shingleOccurrencesN(Tables.fanout(Tables.documents(s, d)), 10)
        .select(col("doc_id"),
          conv(substring(md5(col("shingle")), 1, 15), 16, 10)
            .cast("long").as("h"))
      // document frequency WITHOUT a join-back (which would evaluate the
      // gram subtree twice) and WITHOUT a gram-keyed window (which sorts
      // every row by h): the per-pair DISTINCT is FOLDED INTO the posting
      // aggregation (r15) — collect_set dedups (doc, gram) pairs map-side
      // AND gathers each gram's posting list in the same pass, so the
      // standalone distinct's (doc_id, h) exchange and its two agg passes
      // are gone: gram rows shuffle ONCE (by h), not twice (guide §2.4).
      // Posting sets stay docfreq-sized (the boilerplate cap bounds them
      // at scale, same discipline as the LSH buckets); n_docs is the set
      // size. Hash aggs only; no sort before the final output order.
      val perGram = grams.groupBy(col("h"))
        .agg(collect_set(col("doc_id")).as("docs"))
      perGram.select(size(col("docs")).as("n_docs"), explode(col("docs")).as("doc_id"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_dup_grams"))
        .select(col("doc_id"), col("n_grams"), col("n_dup_grams"),
          (col("n_dup_grams").cast("double") / col("n_grams")).as("dup_frac"))
        .orderBy(col("doc_id"))
    }),

    // Near-dup CLUSTERING: connected components over the MinHash candidate
    // graph, labeling every clustered document with its component's min
    // doc_id (the canonical survivor a dedup pass keeps). NOTE: unlike
    // every other queries entry, this builder EXECUTES jobs eagerly (the
    // driver-side union-find, or the distributed convergence loop with
    // its checkpoints, cannot be expressed as one lazy plan) — the
    // returned DataFrame is the final labels. [[componentLabels]] picks
    // the path from the pair graph's size: a graph that fits the driver
    // is collected and labeled by union-find; a larger one runs
    // min-label propagation with path shortcutting, where every round is
    // a node-keyed join + min agg (the shape that runs on 1000
    // executors) and the lineage is CUT each round with localCheckpoint
    // (the label map is referenced 3× per round, so an uncut plan tree
    // grows 3^R copies of the whole MinHash subtree).
    "dedup_clusters" -> ((s, d) =>
      clusterLabels(s, d).orderBy(col("doc_id"))),

    // Cluster-size distribution over the near-dup components — the dedup
    // health report: a fat tail here means template/boilerplate families
    // (or an LSH threshold set too loose) and predicts exactly how much
    // the survivor pass will remove. Rides the MEMOIZED label map like
    // dedup_keep/corpus_report — at scale this reads the persisted label
    // table, two tiny aggregations, no corpus scan.
    "dedup_cluster_stats" -> ((s, d) =>
      clusterLabels(s, d)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("cluster_size"))),

    // The dedup APPLICATION: which documents survive near-dup removal —
    // every unclustered document plus each cluster's canonical (min
    // doc_id) member — reported as per-language total/kept counts. The
    // left join is doc-keyed; the label side is only the clustered docs
    // (small), so at scale it broadcasts and the scan stays narrow.
    "dedup_keep" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"), col("lang"))
        .join(clusterLabels(s, d), Seq("doc_id"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
          count(when(col("cluster_id").isNull || col("cluster_id") === col("doc_id"), true))
            .as("n_kept"))
        .orderBy(col("lang"))),

    // SOFT dedup — duplicate-aware loss/sampling weights instead of
    // dedup_keep's hard drop: every document trains, but a document in a
    // near-dup cluster of size c carries weight 1/c (exact ppm), so each
    // distinct content unit contributes equally to the loss no matter how
    // often it was crawled. Both joins broadcast (labels and sizes are
    // pair-graph-sized — KBs at any corpus); the corpus rides ONE scan
    // with no shuffle. At 100 TB this is the weight column the packing
    // manifest carries next to each sequence.
    "dedup_soft_weights" -> ((s, d) => {
      val labels = clusterLabels(s, d)
      val sizes = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("csize"))
      Tables.documents(s, d).select(col("doc_id"))
        .join(broadcast(labels), Seq("doc_id"), "left")
        .join(broadcast(sizes), Seq("cluster_id"), "left")
        .withColumn("cluster_size", coalesce(col("csize"), lit(1L)))
        .withColumn("weight_ppm", expr("1000000 div cluster_size"))
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          col("cluster_size"), col("weight_ppm"))
        .orderBy(col("doc_id"))
    })
  )

  /** Materialized-intermediate cache — see [[graft.Memo]]. Several queries
    * consume the MinHash candidate graph and its component labels — a
    * production dedup pipeline computes each ONCE per corpus snapshot and
    * persists it (at 100 TB you write the pair graph and label map to
    * storage; recomputing a 12-hash signature pass per downstream report
    * triples the most expensive scan in the pipeline). */
  private def memoized(key: String, s: SparkSession, d: String)(mk: => DataFrame): DataFrame =
    graft.Memo(s"dedup_$key", s, d)(mk)

  /** Connected-component labels (doc_id → min doc_id of its component)
    * over [[minhashPairs]] — the body of `dedup_clusters` sans sort. */
  def clusterLabels(s: SparkSession, d: String): DataFrame =
    memoized("labels", s, d)(computeClusterLabels(s, d))

  private def computeClusterLabels(s: SparkSession, d: String): DataFrame = {
    val pairs = minhashPairs(s, d)
    componentLabels(pairs.select(col("id1"), col("id2")))
      .select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** Largest pair graph, in edges, that [[componentLabels]] labels on the
    * driver. Sized against driver heap: a string graph at the cap (~35-byte
    * IOCs, JDK 17) held 216 B per collected edge and peaked under 2.1 KB
    * per edge while labeling, garbage included — ≤ ~0.5 GB per build, so
    * [[Warm]]'s three concurrent chains fit a 3 GB driver. The largest
    * build on the 10× corpus (campaign, ~121k edges) is under half the
    * cap. */
  private[graft] final val DriverCcMaxEdges = 250000

  /** Node types the driver path orders exactly as Spark's `min` does. */
  private val driverCcNodeTypes: Set[DataType] = Set(LongType, StringType)

  /** Connected components over an (id1, id2) pair list (any orderable
    * node type — long doc ids here, ioc strings in [[Threat]]). Returns
    * (node, lbl) for every node incident to an edge; lbl = the
    * component's minimum node.
    *
    * One observed property picks the path: a graph of at most
    * [[DriverCcMaxEdges]] edges is collected (one bounded `limit` job)
    * and labeled by [[driverComponentLabels]]; a larger one runs
    * [[distributedComponentLabels]]. Every label build is small at the
    * test and bench corpora, where the distributed loop's cost is fixed
    * per-job scheduling (three shuffled jobs a round), not data; the
    * 100 TB pair graphs keep the loop. */
  private[graft] def componentLabels(pairs: DataFrame): DataFrame =
    smallPairGraph(pairs).fold(distributedComponentLabels(pairs))(driverComponentLabels(pairs, _))

  /** The pair graph's edges, if it fits the driver path: both endpoint
    * columns of one supported type, at most [[DriverCcMaxEdges]] edges,
    * and no null endpoint (nulls keep the distributed loop's semantics).
    *
    * The collect reads one partition, so it is ONE job: over n partitions
    * `limit` scans in rounds, a job each. The one task stops after
    * cap + 1 rows. The near-dup, graph and campaign pair graphs are
    * checkpointed, so that task is a scan; the phash pairs' last stage
    * is their distinct, which the one task then merges alone. */
  private[graft] def smallPairGraph(pairs: DataFrame): Option[Array[Row]] = {
    val types = pairs.schema.map(_.dataType).distinct
    if (types.size != 1 || !driverCcNodeTypes(types.head)) None
    else {
      val edges = pairs.coalesce(1).limit(DriverCcMaxEdges + 1).collect()
      if (edges.length > DriverCcMaxEdges || edges.exists(r => r.isNullAt(0) || r.isNullAt(1))) None
      else Some(edges)
    }
  }

  /** Union-find over collected edges, returned as a checkpointed
    * (node, lbl) frame. Nodes are indexed in the order Spark's `min`
    * uses — numeric for long ids, UTF-8 byte order for strings
    * (`UTF8String`; `java.lang.String.compareTo` compares UTF-16 units
    * and disagrees on supplementary characters) — and every union keeps
    * the smaller root, so a root is always its component's minimum. */
  private[graft] def driverComponentLabels(pairs: DataFrame, edges: Array[Row]): DataFrame = {
    val nodeType = pairs.schema.head.dataType
    val strings = nodeType == StringType
    def key(v: Any): Comparable[Any] =
      (if (strings) UTF8String.fromString(v.asInstanceOf[String]) else v).asInstanceOf[Comparable[Any]]
    val ends = edges.map(r => (key(r.get(0)), key(r.get(1))))
    val nodes = ends.flatMap(e => Array(e._1, e._2)).distinct
      .sorted(Ordering.fromLessThan[Comparable[Any]]((x, y) => x.compareTo(y) < 0))
    val index = scala.collection.mutable.HashMap.from(nodes.iterator.zipWithIndex)
    val parent = Array.range(0, nodes.length)
    def root(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var j = i
      while (parent(j) != r) { val next = parent(j); parent(j) = r; j = next }
      r
    }
    ends.foreach { case (a, b) =>
      val (ra, rb) = (root(index(a)), root(index(b)))
      if (ra < rb) parent(rb) = ra else parent(ra) = rb
    }
    def value(k: Comparable[Any]): Any = if (strings) k.toString else k
    val rows = nodes.indices.map(i => Row(value(nodes(i)), value(nodes(root(i)))))
    val schema = StructType(Seq(StructField("node", nodeType, nullable = false),
      StructField("lbl", nodeType, nullable = false)))
    // a slice per 10k rows keeps a task near Spark's 1 MB task-size advice
    val spark = pairs.sparkSession
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1 + rows.length / 10000), schema)
      .localCheckpoint()
  }

  /** Distributed connected components: min-label propagation with path
    * shortcutting, run to convergence. Rounds grow with component
    * diameter and with how node ids are laid out along it — the shortcut
    * step makes a sorted path converge in ~log₂(diameter) rounds (7 for
    * 64 nodes), but it bounds nothing in general: the 665-node
    * co-sighting graph of a 300-document corpus took 11. The per-round
    * label map is pair-graph-sized (KBs..MBs at any corpus), never
    * corpus-sized. */
  private[graft] def distributedComponentLabels(
      pairs: DataFrame, maxRounds: Int = CcMaxRounds): DataFrame = {
    val Seq(c1, c2) = pairs.columns.toSeq.map(col)
    val edges = pairs.select(c1.as("src"), c2.as("dst"))
      .unionByName(pairs.select(c2.as("src"), c1.as("dst")))
    var lbl = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
      .localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val prop = edges.join(lbl.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), col("lbl"))
      // checkpoint m BEFORE the self-join below: both branches reference
      // it, and Spark replans self-join branches independently — uncut,
      // the prop-join + min agg would execute twice per round
      val m = prop.unionByName(lbl).groupBy(col("node")).agg(min(col("lbl")).as("lbl"))
        .localCheckpoint()
      // shortcut: follow each node's label to THAT node's label (labels
      // are always members of the node set, so the inner join is total).
      val next = m.join(m.select(col("node").as("lbl"), col("lbl").as("lbl2")), Seq("lbl"))
        .select(col("node"), col("lbl2").as("lbl"))
        .localCheckpoint()
      changed = next.join(lbl.withColumnRenamed("lbl", "prev"), Seq("node"))
        .filter(col("lbl") =!= col("prev")).count()
      lbl = next
      rounds += 1
    }
    // non-convergence must be OBSERVABLE, not a silent mislabel: this loop
    // also labels Threat campaigns, where a long-diameter component hitting
    // the round cap would ship wrong campaign ids with no signal. Reaching
    // the cap (about twice the worst round count measured, 11) is a bug or
    // adversarial input — fail loudly.
    if (changed > 0)
      throw new IllegalStateException(
        s"componentLabels: not converged after $rounds rounds ($changed labels still changing)")
    // superseded label maps stay in block storage until session end —
    // acceptable: they are per-round copies of the PAIR-GRAPH labels
    // (KBs..MBs at any corpus size), not corpus-sized data
    lbl
  }

  /** SimHash banding: 4 bands × 15 bits over the 60-bit fingerprint; the
    * Hamming radius 3 < number of bands, so banded candidate generation is
    * exact by pigeonhole, not probabilistic. */
  val SimhashBands = 4
  val SimhashBandBits = 15
  val MaxHamming = 3

  /** MinHash+LSH candidate pairs (id1 < id2, distinct) — the body of
    * `dedup_minhash_lsh` sans final sort, shared with `dedup_clusters`.
    *
    * Bucket members are gathered with ONE aggregation on (band, hash) and
    * pairs are generated inside each bucket array — not via a banded⋈banded
    * self-join, which would re-run the whole shingle+signature subtree for
    * the second branch (Spark plans each self-join branch independently;
    * this was half the query's round-1 cost). A pathological giant
    * bucket (byte-identical spam) is bounded by [[MaxBucketSize]] before
    * the gather.
    */
  def minhashPairs(s: SparkSession, d: String): DataFrame =
    memoized("mh_pairs", s, d)(computeMinhashPairs(s, d, MaxBucketSize).localCheckpoint())

  /** Per-document MinHash signature as K `m0..m{K-1}` columns — the one
    * signature computation shared by banding ([[minhashBanded]]) and the
    * estimator gate (`dedup_minhash_est`). md5 evaluated ONCE per
    * occurrence row; the K minima are integer multiply-adds over its
    * halves. MEMOIZED: the signature table is the second half of the
    * persisted dedup index (next to [[shingleOcc]]) — banding, the
    * incremental admission gate, and both estimator gates read it, and
    * at 100 TB it is written once per corpus snapshot. Consumes the
    * memoized occurrence relation, so warm-up builds occurrences →
    * signatures → pairs as one pipeline stage. */
  private[graft] def minhashSigCols(s: SparkSession, d: String): DataFrame =
    memoized("sig", s, d) {
      val hashed = shingleOcc(s, d)
        .select(col("doc_id"),
          mhashH1(col("shingle")).as("h1"), mhashH2(col("shingle")).as("h2"))
      hashed.groupBy(col("doc_id")).agg(
        min(mhash(0, col("h1"), col("h2"))).as("m0"),
        (1 until K).map(j =>
          min(mhash(j, col("h1"), col("h2"))).as(s"m$j")): _*)
        .localCheckpoint()
    }

  /** MEMOIZED scored LSH-candidate relation (id1, id2, n_matches, ni0,
    * n1, n2): every candidate pair with its signature match count, exact
    * shingle-set intersection, and the two set sizes — the estimate-vs-
    * truth table BOTH quality gates (`dedup_minhash_est`,
    * `dedup_lsh_precision`) are projections/aggregations of. Cost shape:
    * the pair set (near-dups only — tiny) joins the memoized signature
    * and shingle indexes doc-keyed; nothing quadratic, nothing
    * corpus-wide beyond the persisted relations it reads. */
  private[graft] def pairScored(s: SparkSession, d: String): DataFrame =
    memoized("pair_scored", s, d) {
      val sig = minhashSigCols(s, d).select(col("doc_id"),
        array((0 until K).map(j => col(s"m$j")): _*).as("sig"))
      val p = minhashPairs(s, d)
      val sh = shingleRowsIdx(s, d)
      val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = p
        .join(sh.select(col("doc_id").as("id1"), col("shingle")), Seq("id1"))
        .join(sh.select(col("doc_id").as("id2"), col("shingle")), Seq("id2", "shingle"))
        .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("ni"))
      p.join(sig.select(col("doc_id").as("id1"), col("sig").as("sig1")), Seq("id1"))
        .join(sig.select(col("doc_id").as("id2"), col("sig").as("sig2")), Seq("id2"))
        .join(inter, Seq("id1", "id2"), "left")
        .join(sz.select(col("doc_id").as("id1"), col("n").as("n1")), Seq("id1"))
        .join(sz.select(col("doc_id").as("id2"), col("n").as("n2")), Seq("id2"))
        .withColumn("n_matches",
          aggregate(zip_with(col("sig1"), col("sig2"),
            (a, b) => when(a === b, 1L).otherwise(0L)), lit(0L), (acc, x) => acc + x))
        .withColumn("ni0", coalesce(col("ni"), lit(0L)))
        .select(col("id1"), col("id2"), col("n_matches"),
          col("ni0"), col("n1"), col("n2"))
        .localCheckpoint()
    }

  /** Pre-cap banded rows (doc_id, band, band_hash) — the signature pipeline
    * shared by pair generation ([[computeMinhashPairs]]), the incremental
    * admission gate and the bucket-overflow diagnostic
    * (`dedup_bucket_overflow`). Mirrored by the oracle's `mh_banded0` CTE. */
  private[graft] def minhashBanded(s: SparkSession, d: String): DataFrame = {
    val sig = minhashSigCols(s, d)
    sig.select(col("doc_id"),
      posexplode(array((0 until Bands).map(b =>
        md5(concat_ws("|", (0 until Rows).map(r =>
          col(s"m${b * Rows + r}").cast("string")): _*))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
  }

  /** `cap` = bucket-size ceiling (see [[MaxBucketSize]]); package-visible
    * so BucketCapSpec can compare capped vs effectively-uncapped output. */
  private[graft] def computeMinhashPairs(s: SparkSession, d: String, cap: Int): DataFrame =
    bucketPairs(capBuckets(minhashBanded(s, d), cap, "band", "band_hash"),
      col("doc_id"), "band", "band_hash")
      .select(col("x").as("id1"), col("y").as("id2")).distinct()

  /** The rows of `rows` whose doc_id is among the `cap` smallest of their
    * `key` bucket — the bucket-size ceiling ([[MaxBucketSize]]) of both
    * LSH pair builds and of the incremental gate's corpus side. Applied
    * BEFORE the gather: the rank rides the same key exchange the
    * aggregation needs anyway, so the cap costs one in-partition sort,
    * and no collect_list row can exceed `cap`. */
  private[graft] def capBuckets(rows: DataFrame, cap: Int, key: String*): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key.map(col): _*).orderBy(col("doc_id"))
    rows.withColumn("rn", row_number().over(w)).filter(col("rn") <= cap).drop("rn")
  }

  /** Every (i < j) pair of `member` values within each `key` bucket, as
    * columns `x` and `y`: the members are gathered with ONE aggregation on
    * the key into a sorted array, and paired inside it by [[memberPairs]]
    * — the MinHash band buckets, the SimHash and phash chunk buckets and
    * the n-gram posting lists all pair this way. */
  private[graft] def bucketPairs(rows: DataFrame, member: Column, key: String*): DataFrame =
    memberPairs(rows.groupBy(key.map(col): _*)
      .agg(array_sort(collect_list(member)).as("ms")))

  /** Every (i < j) pair of the DISTINCT `member` values within each `key`
    * group, as columns `x` and `y` — [[bucketPairs]] over a sorted set:
    * the co-purchase part pairs, the campaign IOC pairs and the IOC type
    * pairs. SQL twin: [[pairsSql]] over the distinct (key, member) rows. */
  private[graft] def setPairs(rows: DataFrame, member: Column, key: String*): DataFrame =
    memberPairs(rows.groupBy(key.map(col): _*)
      .agg(sort_array(collect_set(member)).as("ms")))

  /** The (i < j) pairs `x` = ms[i], `y` = ms[j] of each array `ms`, as TWO
    * codegen explodes of index ranges + element_at picks (r15). The
    * nested transform-over-slice it replaces built the full m²/2
    * pair-struct array per bucket in INTERPRETED array land (HOFs are
    * CodegenFallback — SQLMetrics attributed 1.56 s task-summed to that
    * stage on the posting lists) before exploding it; the index-explode
    * shape never materializes the pair array and stays inside
    * WholeStageCodegen. Arrays of fewer than two members are dropped
    * first: Spark's `sequence(1, 0)` descends. Package-visible so
    * ReformulationSpec can compare it with the nested-transform form. */
  private[graft] def memberPairs(buckets: DataFrame): DataFrame =
    buckets.filter(size(col("ms")) > 1)
      .select(col("ms"), explode(sequence(lit(1), size(col("ms")) - 1)).as("i"))
      .select(col("ms"), col("i"), explode(sequence(col("i") + 1, size(col("ms")))).as("j"))
      .select(element_at(col("ms"), col("i")).as("x"), element_at(col("ms"), col("j")).as("y"))

  /** Every embedding with its squared norm and IVF cell
    * (vec_id, embedding, nsq, cell) — the within-cell candidate space of
    * both embedding dedup passes. */
  private def embeddingCells(s: SparkSession, d: String): DataFrame =
    Similarity.embeddingsNsq(s, d).join(Similarity.ivfAssign(s, d), Seq("vec_id"))

  /** (id1 < id2, cosine) for every two vectors of [[embeddingCells]] that
    * share a cell. The dot product is symmetric bit for bit, so the cosine
    * does not depend on which of the two ids comes first. */
  private def cellCosinePairs(ea: DataFrame): DataFrame =
    blockPairs(ea, "cell", "vec_id").select(col("id1"), col("id2"),
      (Similarity.dot(col("embedding1"), col("embedding2")) /
        sqrt(col("nsq1") * col("nsq2"))).as("cosine"))

  /** Every unordered pair of `rel` rows that share a `key` value, once:
    * the rows' `id` values as id1 < id2, and every other column c as c1
    * and c2 — the within-block self-join of the Levenshtein prefix blocks
    * and the IVF cells. The join shuffles on the key, so candidate
    * volume is n·blocksize, never n². */
  private def blockPairs(rel: DataFrame, key: String, id: String): DataFrame = {
    def side(n: Int) = rel.select(rel.columns.toSeq.map(c =>
      if (c == key) col(c) else if (c == id) col(c).as(s"id$n") else col(c).as(s"$c$n")): _*)
    side(1).join(side(2), Seq(key)).filter(col("id1") < col("id2"))
  }

  /** MEMOIZED per-document 60-bit SimHash fingerprint (doc_id, sh) — the
    * per-bit majority vote over token md5s, computed as 60 codegen bit-sum
    * columns in ONE doc-keyed aggregation. THE fingerprint table: the
    * banded near-dup search (`dedup_simhash`), the fingerprint export
    * (`text_fingerprint`), and the bit-health check
    * (`text_simhash_bit_balance`) all read it, so index, export, and
    * health check can never disagree — and the token-explode vote pass
    * runs once per corpus snapshot, not three times per dashboard
    * refresh. n_docs rows × 16 bytes — tiny at any SF. */
  private[graft] def simhashFp(s: SparkSession, d: String): DataFrame =
    memoized("simhash_fp", s, d) {
      val hash60 = (t: Column) => conv(substring(md5(t), 1, 15), 16, 10).cast("long")
      val bits = Tables.fanout(Tables.documents(s, d))
        .select(col("doc_id"),
          explode(transform(graft.functions.TextStats.tokens(col("text")), hash60)).as("b"))
      val sums = bits.groupBy(col("doc_id")).agg(
        count(lit(1)).as("n"),
        (1 to 60).map(p =>
          sum(shiftright(col("b"), 60 - p).bitwiseAND(lit(1L))).as(s"c$p")): _*)
      sums.select(col("doc_id"),
        (1 to 60).map(p =>
          when(col(s"c$p") * 2 > col("n"), lit(1L << (60 - p))).otherwise(lit(0L)))
          .reduce(_ + _).as("sh"))
        .localCheckpoint()
    }

  /** Body of `dedup_simhash` sans final sort — `cap` as in
    * [[computeMinhashPairs]]. Reads the MEMOIZED fingerprint table
    * ([[simhashFp]]); note the cap means the pigeonhole-exactness
    * claim holds per KEPT bucket members — overflowed members trade recall
    * for a bounded task, like the MinHash cap. */
  private[graft] def simhashPairs(s: SparkSession, d: String, cap: Int): DataFrame = {
    val fp = simhashFp(s, d)
    val banded = fp.select(col("doc_id"), col("sh"),
      posexplode(array((0 until SimhashBands).map(b =>
        shiftright(col("sh"), b * SimhashBandBits).bitwiseAND(lit(0x7FFFL))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")
    bucketPairs(capBuckets(banded, cap, "band", "chunk"),
      struct(col("doc_id"), col("sh")), "band", "chunk")
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).cast("long").as("hamming"))
      .filter(col("hamming") <= MaxHamming)
      .distinct()
  }

  val oracle: Map[String, String] = Map(
    "dedup_levenshtein" ->
      ("""WITH doc AS (
        |  SELECT doc_id, md5(substr(text, 1, 20)) AS blk, substr(text, 1, 60) AS head
        |  FROM documents)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
        |""".stripMargin + pairsSql("doc", "doc_id", "blk") + "\nORDER BY id1, id2"),
    "dedup_embedding_cosine" ->
      (cellPairsCtes +
        """
          |SELECT id1, id2, cosine FROM cpairs
          |WHERE cosine >= 0.3
          |ORDER BY id1, id2""".stripMargin),
    "dedup_semdedup" ->
      (cellPairsCtes +
        s""",
           |dups AS (
           |  SELECT id2 AS vec_id, COUNT(*) AS n_dups_lower
           |  FROM cpairs WHERE cosine >= $SemDeDupTau
           |  GROUP BY id2)
           |SELECT ec.vec_id, ec.cell,
           |  COALESCE(d.n_dups_lower, 0) AS n_dups_lower,
           |  d.n_dups_lower IS NULL AS keep
           |FROM ec LEFT JOIN dups d ON d.vec_id = ec.vec_id
           |ORDER BY ec.vec_id""".stripMargin),
    "dedup_exact" ->
      """SELECT md5(substr(text, 1, 40)) AS content_key,
        |  MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
        |FROM documents
        |GROUP BY 1 HAVING COUNT(*) > 1
        |ORDER BY content_key""".stripMargin,
    "dedup_ngram_jaccard" ->
      (s"WITH ${shinglesSql("sh0")},\n" +
        s"""sh AS (
         |  SELECT doc_id, shingle FROM (
         |    SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df
         |    FROM sh0)
         |  WHERE df <= $MaxShingleDf),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh0 GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
         |""".stripMargin + s"  ${pairsSql("sh", "doc_id", "shingle")}\n" +
        s"""  GROUP BY 1, 2)
         |SELECT id1, id2,
         |  CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) AS jaccard
         |FROM pairs JOIN sizes s1 ON s1.doc_id = id1 JOIN sizes s2 ON s2.doc_id = id2
         |WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= $JaccardThreshold
         |ORDER BY id1, id2""".stripMargin),
    "dedup_minhash_lsh" ->
      s"WITH $minhashPairCtes\nSELECT id1, id2 FROM mh_pairs\nORDER BY id1, id2",
    "dedup_incremental" ->
      (s"WITH $minhashPairCtes,\n" +
        cappedSql("old_idx", "doc_id, band, band_hash", "band, band_hash",
          "mh_banded0 WHERE doc_id % 10 <> 0") +
        s""",
           |verdict AS (
           |  SELECT n.doc_id, MIN(o.doc_id) AS dup_of
           |  FROM mh_banded0 n
           |  LEFT JOIN old_idx o
           |    ON o.band = n.band AND o.band_hash = n.band_hash
           |  WHERE n.doc_id % 10 = 0
           |  GROUP BY n.doc_id)
           |SELECT doc_id, dup_of, dup_of IS NULL AS admitted
           |FROM verdict
           |ORDER BY doc_id""".stripMargin),
    "dedup_minhash_est" ->
      (scoredCtes +
        s"""
           |SELECT id1, id2, n_matches,
           |  CAST(n_matches AS DOUBLE) / $K AS est_jaccard,
           |  CAST(ni0 AS DOUBLE) / (n1 + n2 - ni0) AS jaccard,
           |  abs(CAST(n_matches AS DOUBLE) / $K
           |    - CAST(ni0 AS DOUBLE) / (n1 + n2 - ni0)) AS abs_err
           |FROM scored
           |ORDER BY id1, id2""".stripMargin),
    "dedup_shingle_df_hist" ->
      (s"WITH ${shinglesSql("sh")},\n" +
        """df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1)
          |SELECT CAST(length(bin(df)) AS BIGINT) AS bucket,
          |  COUNT(*) AS n_shingles, MIN(df) AS min_df, MAX(df) AS max_df
          |FROM df GROUP BY 1
          |ORDER BY bucket""".stripMargin),
    "dedup_lsh_precision" ->
      (scoredCtes +
        s""",
           |flags AS (
           |  SELECT n_matches * 2 >= $K AS est_hi,
           |    ni0 * 2 >= n1 + n2 - ni0 AS ex_hi
           |  FROM scored),
           |agg AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           |    CAST(SUM(CASE WHEN est_hi AND ex_hi THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           |    CAST(SUM(CASE WHEN est_hi AND NOT ex_hi THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           |    CAST(SUM(CASE WHEN NOT est_hi AND ex_hi THEN 1 ELSE 0 END) AS BIGINT) AS fn
           |  FROM flags)
           |SELECT n_pairs, tp, fp, fn,
           |  CAST(CASE WHEN tp + fp = 0 THEN 0 ELSE tp * 1000000 // (tp + fp) END AS BIGINT)
           |    AS precision_ppm,
           |  CAST(CASE WHEN tp + fn = 0 THEN 0 ELSE tp * 1000000 // (tp + fn) END AS BIGINT)
           |    AS recall_ppm
           |FROM agg""".stripMargin),
    "dedup_bucket_overflow" ->
      (s"WITH $minhashPairCtes,\n" +
        s"""m AS (
           |  SELECT band, band_hash, COUNT(*) AS m
           |  FROM mh_banded0 GROUP BY band, band_hash)
           |SELECT CAST(band AS BIGINT) AS band,
           |  COUNT(*) AS n_buckets,
           |  MAX(m) AS max_bucket,
           |  COUNT(CASE WHEN m > $MaxBucketSize THEN 1 END) AS n_over_cap,
           |  CAST(SUM(CASE WHEN m > $MaxBucketSize THEN m - $MaxBucketSize ELSE 0 END) AS BIGINT)
           |    AS members_dropped
           |FROM m GROUP BY band ORDER BY band""".stripMargin),
    "dedup_substring" ->
      ("""WITH pairs AS (
        |  SELECT DISTINCT doc_id,
        |    CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT doc_id, unnest(s) AS gram
        |""".stripMargin + s"    FROM ${Corpus.gramListsSql(10)})),\n" +
        """df AS (SELECT h, COUNT(*) AS n_docs FROM pairs GROUP BY h)
        |SELECT p.doc_id,
        |  COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
        |  CAST(SUM(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_frac
        |FROM pairs p JOIN df f USING (h)
        |GROUP BY p.doc_id
        |ORDER BY p.doc_id""".stripMargin),
    "dedup_simhash" ->
      (s"""WITH toks AS (
         |  SELECT doc_id, unnest(${Corpus.SqlToks}) AS tok FROM documents),
         |hashed AS (
         |  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
         |  FROM toks),
         |bits AS (
         |  SELECT doc_id, r.p,
         |    SUM(CASE WHEN (h >> CAST(60 - r.p AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
         |  FROM hashed, range(1, 61) r(p) GROUP BY doc_id, r.p),
         |shs AS (
         |  SELECT doc_id,
         |    CAST(SUM(CASE WHEN sgn > 0 THEN CAST(1 AS BIGINT) << CAST(60 - p AS INTEGER) ELSE 0 END) AS BIGINT) AS sh
         |  FROM bits GROUP BY doc_id),
         |banded0 AS (
         |  SELECT doc_id, sh, b, (sh >> CAST(b * $SimhashBandBits AS INTEGER)) & ${(1 << SimhashBandBits) - 1} AS chunk
         |  FROM shs, range(0, $SimhashBands) r(b)),
         |""".stripMargin + cappedSql("banded", "doc_id, sh, b, chunk", "b, chunk", "banded0") +
        """
          |SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
          |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
          |""".stripMargin + pairsSql("banded", "doc_id", "b", "chunk") +
        s"\nWHERE bit_count(xor(a.sh, b.sh)) <= $MaxHamming\nORDER BY id1, id2"),
    "dedup_clusters" ->
      (s"WITH $minhashPairCtes,\n$clusterCtes\n" +
        """SELECT doc_id, cluster_id FROM labels
          |ORDER BY doc_id""".stripMargin),
    "dedup_keep" ->
      (s"WITH $minhashPairCtes,\n$clusterCtes\n" +
        """SELECT lang, COUNT(*) AS n_total,
          |  COUNT(CASE WHEN l.cluster_id IS NULL OR l.cluster_id = d.doc_id
          |             THEN 1 END) AS n_kept
          |FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
          |GROUP BY lang
          |ORDER BY lang""".stripMargin),
    "dedup_cluster_stats" ->
      (s"WITH $minhashPairCtes,\n$clusterCtes,\n" +
        """sizes AS (
          |  SELECT cluster_id, COUNT(*) AS cluster_size FROM labels GROUP BY 1)
          |SELECT cluster_size, COUNT(*) AS n_clusters
          |FROM sizes GROUP BY cluster_size
          |ORDER BY cluster_size""".stripMargin),
    "dedup_soft_weights" ->
      (s"WITH $minhashPairCtes,\n$clusterCtes,\n" +
        """sizes AS (
          |  SELECT cluster_id, COUNT(*) AS csize FROM labels GROUP BY 1)
          |SELECT d.doc_id,
          |  COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
          |  CAST(COALESCE(s.csize, 1) AS BIGINT) AS cluster_size,
          |  CAST(1000000 // COALESCE(s.csize, 1) AS BIGINT) AS weight_ppm
          |FROM documents d
          |LEFT JOIN labels l ON l.doc_id = d.doc_id
          |LEFT JOIN sizes s ON s.cluster_id = l.cluster_id
          |ORDER BY d.doc_id""".stripMargin)
  )

  /** Round cap of connected components by label propagation: the
    * engine's [[distributedComponentLabels]] loop stops at it (and throws
    * if labels still change), and the oracle's [[ccRoundsCtes]] unrolls
    * exactly this many rounds, so any graph the loop labels, the oracle
    * labels too. Both run the same rounds, and the count they need is not
    * ~log₂(diameter): a 665-node co-sighting graph took 11. A chain still
    * changing labels after the last round fails the query
    * ([[ccRoundsCtes]]' guard), so a short oracle can never pass.
    * `final` + literal = a compile-time constant, inlined at use sites:
    * Dedup's own `oracle` val initializes BEFORE this declaration, and a
    * plain val would read 0 there (object-init order), silently emitting
    * a rounds-free chain — which is exactly what happened on first
    * wiring. */
  private[graft] final val CcMaxRounds = 20

  /** Unrolled min-label propagation + pointer-jump rounds over a
    * symmetric `(src, dst)` edge CTE — the LINEAR connected-components
    * oracle shape shared by the dedup/graph/campaign/media cluster
    * oracles. The recursive-CTE closure it replaces materializes
    * Σ component² (node, ancestor) reach pairs; at the 10× corpus the
    * campaign closure spilled >60 GB of DuckDB temp — a quadratic ORACLE
    * pricing a linear engine. Each round is one |E| propagate join (min
    * over neighbors) + one |V| shortcut self-join (l(l(node))). Round
    * CTEs are `AS MATERIALIZED`: DuckDB inlines plain CTEs, and each
    * round references the previous twice, so inlining would expand round
    * k into 2^k copies of the base scans (observed as fd exhaustion).
    * The chain ends in `<prefix>lfinal(node, lbl)`: the last round,
    * guarded by DuckDB's `error()` if any edge still joins two different
    * labels (one more round would change a label). `prefix` keeps
    * multi-family WITH chains collision-free. Composed by concatenation,
    * never stripMargin-over-interpolation. */
  private[graft] def ccRoundsCtes(edgesRel: String, prefix: String): String = {
    val rounds = (1 to CcMaxRounds).map { k =>
      s"${prefix}p$k AS MATERIALIZED (\n" +
        s"  SELECT l.node, LEAST(l.lbl, COALESCE(MIN(m.lbl), l.lbl)) AS lbl\n" +
        s"  FROM ${prefix}l${k - 1} l\n" +
        s"  LEFT JOIN $edgesRel e ON e.src = l.node\n" +
        s"  LEFT JOIN ${prefix}l${k - 1} m ON m.node = e.dst\n" +
        s"  GROUP BY l.node, l.lbl),\n" +
        s"${prefix}l$k AS MATERIALIZED (\n" +
        s"  SELECT p.node, LEAST(p.lbl, COALESCE(q.lbl, p.lbl)) AS lbl\n" +
        s"  FROM ${prefix}p$k p LEFT JOIN ${prefix}p$k q ON q.node = p.lbl)"
    }.mkString(",\n")
    val last = s"${prefix}l$CcMaxRounds"
    s"${prefix}l0 AS MATERIALIZED (\n" +
      s"  SELECT DISTINCT src AS node, src AS lbl FROM $edgesRel),\n" +
      rounds + ",\n" +
      s"${prefix}lfinal AS MATERIALIZED (\n" +
      s"  SELECT l.node, CASE WHEN g.unsettled > 0 THEN error(" +
      s"'connected components not converged after $CcMaxRounds rounds') ELSE l.lbl END AS lbl\n" +
      s"  FROM $last l CROSS JOIN (\n" +
      s"    SELECT COUNT(*) AS unsettled FROM $edgesRel e\n" +
      s"    JOIN $last a ON a.node = e.src JOIN $last b ON b.node = e.dst\n" +
      s"    WHERE a.lbl <> b.lbl) g)"
  }

  /** Connected components over `mh_pairs` → `labels(doc_id, cluster_id)`,
    * mirroring [[clusterLabels]] — unrolled rounds ([[ccRoundsCtes]]),
    * not a recursive closure. */
  private[graft] def clusterCtes: String =
    "edges AS MATERIALIZED (\n" +
      "  SELECT id1 AS src, id2 AS dst FROM mh_pairs\n" +
      "  UNION ALL\n" +
      "  SELECT id2, id1 FROM mh_pairs),\n" +
      ccRoundsCtes("edges", "c") + ",\n" +
      "labels AS (\n  SELECT node AS doc_id, lbl AS cluster_id FROM clfinal)"

  /** Shared DuckDB CTE chain ending in `mh_pairs(id1, id2)` — the MinHash
    * banded candidate pairs, mirrored by [[minhashPairs]]. */
  private[graft] def minhashPairCtes: String =
    s"""sig AS (
       |  SELECT doc_id,
       |    [${MhashCD.map { case (c, dd) =>
             s"list_min([(($c * CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)) & 2147483647) + (($dd * CAST(('0x' || substr(md5(x), 9, 8)) AS BIGINT)) & 2147483647) for x in s])"
           }.mkString(",\n     ")}] AS sig
       |""".stripMargin + s"  FROM ${Corpus.gramListsSql(3)}),\n" +
      s"""mh_banded0 AS (
         |  SELECT doc_id, b AS band,
         |    md5(array_to_string(sig[b*$Rows+1:b*$Rows+$Rows], '|')) AS band_hash
         |  FROM sig, range(0, $Bands) r(b)),
         |""".stripMargin +
      cappedSql("mh_banded", "doc_id, band, band_hash", "band, band_hash", "mh_banded0") +
      ",\nmh_pairs AS (\n  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2\n  " +
      pairsSql("mh_banded", "doc_id", "band", "band_hash") + ")"

  /** `name`: the `cols` rows of `from` whose doc_id is among the
    * [[MaxBucketSize]] smallest of their `key` bucket — the SQL twin of
    * [[capBuckets]]. */
  private[graft] def cappedSql(name: String, cols: String, key: String, from: String): String =
    s"$name AS (\n  SELECT $cols FROM (\n    SELECT $cols,\n" +
      s"      row_number() OVER (PARTITION BY $key ORDER BY doc_id) AS rn\n" +
      s"    FROM $from)\n  WHERE rn <= $MaxBucketSize)"

  /** `FROM rel a JOIN rel b` on every `key` column, a.id < b.id: each
    * unordered pair of rows sharing a bucket once — the SQL twin of
    * [[bucketPairs]], [[setPairs]] and [[blockPairs]]. */
  private[graft] def pairsSql(rel: String, id: String, key: String*): String =
    s"FROM $rel a JOIN $rel b ON ${key.map(k => s"a.$k = b.$k").mkString(" AND ")} AND a.$id < b.$id"

  /** `name(doc_id, shingle)`: each document's distinct word 3-grams — the
    * SQL twin of [[shingleRowsIdx]]. */
  private def shinglesSql(name: String): String =
    s"$name AS (\n  SELECT doc_id, unnest(s) AS shingle\n  FROM ${Corpus.gramListsSql(3)})"

  /** `WITH …` ending in `scored(id1, id2, n_matches, ni0, n1, n2)` over
    * [[minhashPairCtes]] — the SQL twin of [[pairScored]], read by both
    * LSH quality gates. */
  private def scoredCtes: String =
    s"WITH $minhashPairCtes,\n${shinglesSql("sh")},\n" +
      s"""sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT p.id1, p.id2, COUNT(*) AS ni
         |  FROM mh_pairs p
         |  JOIN sh a ON a.doc_id = p.id1
         |  JOIN sh b ON b.doc_id = p.id2 AND b.shingle = a.shingle
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT p.id1, p.id2,
         |    CAST(list_sum([CASE WHEN sa.sig[j] = sb.sig[j] THEN 1 ELSE 0 END
         |                   for j in range(1, $K + 1)]) AS BIGINT) AS n_matches,
         |    COALESCE(i.ni, 0) AS ni0, za.n AS n1, zb.n AS n2
         |  FROM mh_pairs p
         |  JOIN sig sa ON sa.doc_id = p.id1
         |  JOIN sig sb ON sb.doc_id = p.id2
         |  LEFT JOIN inter i ON i.id1 = p.id1 AND i.id2 = p.id2
         |  JOIN sz za ON za.doc_id = p.id1
         |  JOIN sz zb ON zb.doc_id = p.id2)""".stripMargin

  /** `WITH …` ending in `ec(vec_id, embedding, nsq, cell)` and
    * `cpairs(id1, id2, cosine)` — the SQL twin of [[embeddingCells]] and
    * [[cellCosinePairs]]. */
  private def cellPairsCtes: String =
    s"WITH ${Similarity.ivfCtes},\n" +
      "ec AS (\n  SELECT e.vec_id, e.embedding, e.nsq, a.cell\n" +
      "  FROM e JOIN assign a ON a.vec_id = e.vec_id),\n" +
      s"cpairs AS (\n  SELECT a.vec_id AS id1, b.vec_id AS id2,\n" +
      s"    ${Similarity.dotSql("a", "b")} / sqrt(a.nsq * b.nsq) AS cosine\n" +
      s"  ${pairsSql("ec", "vec_id", "cell")})"
}
