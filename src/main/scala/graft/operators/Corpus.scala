package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Training-corpus preparation operators — the pipeline stages between a
  * deduplicated document set and a training run: sequence packing, PII
  * redaction, and benchmark decontamination.
  *
  * Scale design (100 TB):
  *  - packing runs per shard ((lang, doc_id % PackShards) here) — a
  *    single window cumsum per shard, never a global single-partition
  *    window, so 1000 executors each pack their own stream exactly like
  *    per-worker packers in a real loader;
  *  - PII scrubbing is per-row regexp_replace — shuffle-free, one scan;
  *  - decontamination broadcasts the benchmark's n-gram set (benchmarks
  *    are KBs-MBs; the corpus is the big side and is never shuffled —
  *    the overlap count is one doc-keyed aggregation).
  */
object Corpus {

  /** Tokens per packed training sequence. */
  val PackBudget = 512

  /** Packing shards per language — the window's unit of parallelism and
    * of single-task memory. Scale with the corpus (DEPLOYMENT.md). */
  val PackShards = 4

  /** RAG chunking: window size and stride in characters (overlap =
    * ChunkSize − ChunkStride). */
  val ChunkSize = 256
  val ChunkStride = 192

  /** Every chunk of every non-empty document, one row per chunk `start`
    * (a 1-based char offset), with its text in `chunk` — the explode both
    * docs_chunk queries read. SQL twin: [[chunkCtes]]. */
  private def chunks(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .filter(col("len") > 0)
      .withColumn("start", explode(sequence(lit(1), col("len"), lit(ChunkStride))))
      .withColumn("chunk", col("text").substr(col("start"), lit(ChunkSize)))

  /** Document-frequency threshold above which a 5-gram counts as
    * boilerplate (`text_boilerplate`). Scale with corpus size — at 100 TB
    * set it from the DF histogram tail, like [[graft.operators.Dedup.MaxShingleDf]]. */
  val BoilerplateDf = 3

  /** Word n-gram occurrence rows (doc_id, shingle), fully scan-fused:
    * explode the gram START POSITIONS (`sequence`) and assemble each gram
    * with n codegen `element_at` lookups into the per-row token array —
    * no window, so the doc_id exchange AND the per-partition token sort
    * the old posexplode+window-leads path paid are gone (r14, guide §2.4:
    * "remove shuffles outright"). Unlike the array-HOF `transform`
    * formulation (CodegenFallback — the r12 lesson on the 3-gram path),
    * Generate-over-sequence and element_at both stay inside
    * WholeStageCodegen, so this keeps the per-row cost of the window path
    * while deleting its shuffle: at 100 TB the n-gram index build becomes
    * one narrow pass over the corpus. Multiset-identical to the window
    * path (OperatorsSpec pins it against the HOF slice formulation;
    * EdgeCasesSpec pins the <n-token guard). */
  def shingleOccurrencesN(docs: DataFrame, n: Int): DataFrame =
    docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .filter(size(col("t")) >= n) // also guards sequence(1, x<1) descending
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")) - (n - 1))).as("p"))
      .select(col("doc_id"),
        concat_ws(" ", (0 until n).map(k =>
          element_at(col("t"), col("p") + k)): _*).as("shingle"))

  /** The oracle's word split: lower-cased text on single spaces, the
    * DuckDB twin of [[graft.functions.TextStats.tokens]]. */
  private[operators] final val SqlToks = "string_split(lower(text), ' ')"

  /** `(doc_id, s)`: each document's distinct word n-grams as a list, over
    * `documents` narrowed by `where` — the oracle twin of
    * [[shingleOccurrencesN]] (as a per-document set), shared by the 3-gram
    * dedup index, the 5-gram contamination pair and the 10-gram
    * substring pass. `greatest(…, 0)` keeps the range empty for documents
    * shorter than n. */
  private[operators] def gramListsSql(n: Int, where: String = ""): String =
    s"(SELECT doc_id, list_distinct([array_to_string(t[i:i+${n - 1}], ' ') " +
      s"for i in range(1, greatest(len(t)-${n - 1}, 0)+1)]) AS s " +
      s"FROM (SELECT doc_id, $SqlToks AS t FROM documents$where))"

  /** MEMOIZED full-corpus 5-gram occurrence relation — the
    * contamination/boilerplate/leakage index, persisted once per corpus
    * snapshot at 100 TB exactly like the 3-gram dedup index
    * ([[Dedup.shingleOcc]]). Consumers filter it by doc_id (shingles are
    * per-doc, so filtering the index ≡ filtering the docs first); a
    * checkpoint scan + filter beats re-running the posexplode+window
    * pipeline per query side. */
  private[graft] def shingleOcc5(s: SparkSession, d: String): DataFrame =
    graft.Memo("corpus_occ5", s, d)(
      // explicit doc_id partitioning at build — same rationale as
      // [[Dedup.shingleOcc]]: the scan-fused assembly no longer leaves a
      // doc_id clustering behind, and the index's consumers filter/
      // aggregate per doc_id (one exchange at build, no sort; readers
      // skip theirs).
      shingleOccurrencesN(Tables.fanout(Tables.documents(s, d)), 5)
        .repartition(col("doc_id")).localCheckpoint())

  /** Shared scrub patterns — plain (not defanged) PII shapes; the defanged
    * variants are the IOC-extraction surface in [[graft.extract.Iocs]]. */
  val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlPat = "https?://[^ ]+"
  val IpPat = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** Bloom-filter bits (m) for the scale decontamination path. Sized for
    * the test benchmark set; at 100 TB set m ≈ 1.44·k·|bench n-grams| /
    * ln(2) for the target false-positive rate (DEPLOYMENT.md) — the
    * bitmap relation is m/64 longs regardless of benchmark string size. */
  val BloomBits = 65536L

  /** Bloom probe count (k). FP rate ≈ (1 - e^(-k·n/m))^k. */
  val BloomK = 3

  /** Per-source document ceiling for `docs_source_cap` — the
    * source-diversity cap (RefinedWeb/C4 keep at most N pages per domain
    * so one crawler-friendly site can't dominate the mixture). Deployment
    * knob: scale with corpus size and the target mixture entropy. */
  val SourceCap = 15

  /** A shingle's bloom hash halves (h1, h2): the same two-md5-half
    * multiplicative family [[Dedup.mhashH1]] uses — one digest per
    * shingle, h1 + j·h2 probe spread (independence across j is irrelevant
    * here: probes of one key SHOULD differ, not be uncorrelated across
    * keys). */
  private def md5Halves(shingle: Column): Seq[Column] = Seq(
    conv(substring(md5(shingle), 1, 8), 16, 10).cast("long").as("h1"),
    conv(substring(md5(shingle), 9, 8), 16, 10).cast("long").as("h2"))

  /** The rows of `probe` whose hash halves (h1, h2) hit all [[BloomK]]
    * bits of the bloom bitmap of `build`'s (h1, h2) rows — the probe
    * positions are (h1 + j·h2) mod [[BloomBits]]. The build side folds its
    * positions into (word_idx, bit_or) rows with one aggregation, then
    * into ONE map row (m/64 longs, KBs regardless of key count) that
    * broadcasts; the probe is k map lookups of integer algebra per row,
    * no join on the key. Superset semantics: hits = matches + false
    * positives (the m/k sizing knob). Each caller brings its own hash
    * family (`join_bloom_semi` xxhash64 halves, `text_contamination_bloom`
    * [[md5Halves]]). */
  private[graft] def bloomProbe(build: DataFrame, probe: DataFrame): DataFrame = {
    val pos = (j: Int) => (col("h1") + lit(j.toLong) * col("h2")) % BloomBits
    val bloomRow = build
      .select(explode(array((0 until BloomK).map(pos): _*)).as("pos"))
      .groupBy((col("pos") / 64).cast("long").as("word_idx"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)))").as("bits"))
      .agg(map_from_arrays(collect_list(col("word_idx")), collect_list(col("bits"))).as("bloom"))
    val hit = (j: Int) => {
      val mask = call_function("shiftleft", lit(1L), (pos(j) % 64).cast("int"))
      coalesce(element_at(col("bloom"), (pos(j) / 64).cast("long")), lit(0L))
        .bitwiseAND(mask) =!= 0
    }
    probe.crossJoin(broadcast(bloomRow)).filter((0 until BloomK).map(hit).reduce(_ && _))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // sequence packing: assign documents to fixed-token-budget training
    // sequences (greedy in doc_id order, per shard), report per-bin
    // document counts and token totals. A document whose tokens straddle
    // a boundary starts in the bin its first token falls in — the
    // deterministic "pack then split at budget" layout. The shard key is
    // (lang, doc_id % PackShards), NOT lang alone: the window's partition
    // is the unit of parallelism AND of single-task memory, so it must be
    // fine-grained — each shard packs its own stream exactly like one
    // worker of a distributed loader, and PackShards scales with the
    // corpus (see DEPLOYMENT.md).
    "docs_pack" -> ((s, d) => {
      val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), (col("doc_id") % PackShards).as("shard"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("bin", floor((col("cum") - col("n_tokens")) / PackBudget))
        .groupBy(col("lang"), col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("bin_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("lang"), col("shard"), col("bin"))
    }),

    // PII redaction: synthesize PII-bearing text from the corpus (the
    // synthetic documents carry none), then scrub URLs, emails, and IPs
    // with typed placeholders. URL first — an email or IP inside a URL
    // should disappear with the URL, not leave a partial token behind.
    "text_pii_scrub" -> ((s, d) => {
      val id = col("doc_id")
      val synth = concat(
        substring(col("text"), 1, 40),
        lit(" contact user"), id.cast("string"), lit("@corp.example or 10.2."),
        (id % 256).cast("string"), lit("."), (id % 7).cast("string"),
        lit(" visit https://evil-"), id.cast("string"), lit(".example.com/p now"))
      val scrubbed =
        regexp_replace(
          regexp_replace(
            regexp_replace(synth, UrlPat, "<URL>"),
            EmailPat, "<EMAIL>"),
          IpPat, "<IP>")
      Relational.sortedOnce(
        Tables.documents(s, d).select(
          id,
          scrubbed.as("scrubbed"),
          (size(regexp_extract_all(synth, lit(UrlPat), lit(0))) +
            size(regexp_extract_all(synth, lit(EmailPat), lit(0))) +
            size(regexp_extract_all(synth, lit(IpPat), lit(0))))
            .cast("long").as("n_pii")),
        id)
    }),

    // corpus health report: the composed dashboard a pipeline operator
    // reads per language — document/token volume, quality-filter pass
    // count, near-dup cluster membership, and post-dedup survivor count,
    // all in one row per language. Composes the quality formula (shared
    // with text_quality) and the MEMOIZED cluster labels (shared with
    // dedup_clusters/dedup_keep — at scale this is precisely why the
    // label map is a persisted intermediate: every report reads it, none
    // recompute it). All outputs are counts: deterministic by
    // construction. One broadcast-ish join + one lang aggregation.
    "corpus_report" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"))
        .join(Dedup.clusterLabels(s, d), Seq("doc_id"), "left")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"),
          count(when(graft.functions.TextStats.qualityKeep(col("text")), true))
            .as("n_quality_keep"),
          count(when(col("cluster_id").isNotNull, true)).as("n_clustered"),
          count(when(col("cluster_id").isNull || col("cluster_id") === col("doc_id"), true))
            .as("n_dedup_survivors"))
        .orderBy(col("lang"))),

    // The capstone composition — the MATERIALIZED TRAINING MANIFEST: what
    // actually ships to the trainer after the whole pipeline runs. One
    // query chains the shared quality cut (TextStats.qualityKeep), the
    // memoized dedup survivors (cluster canonical members), the
    // per-source diversity cap (rank over survivors — the cap applies to
    // what REMAINS, pipeline order matters), and the deterministic
    // training shuffle ((shard, pos) addressing, Sampling.docs_shuffle's
    // exact convention). Every stage is the SAME code its standalone
    // query runs, so the manifest can never disagree with the
    // dashboards; everything is md5-deterministic, so re-running the
    // manifest after a crash yields byte-identical shard files.
    "corpus_manifest" -> ((s, d) => {
      val surv = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
        .join(Dedup.clusterLabels(s, d), Seq("doc_id"), "left")
        .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
        .filter(graft.functions.TextStats.qualityKeep(col("text")))
      val wSrc = Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      val h = md5(col("doc_id").cast("string"))
      val wShard = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
      surv
        .withColumn("rk", row_number().over(wSrc))
        .filter(col("rk") <= SourceCap)
        .select(col("doc_id"), col("lang"), col("source"),
          Sampling.hashBucket(col("doc_id"), Sampling.NumShards).as("shard"),
          h.as("h"))
        .withColumn("pos", row_number().over(wShard).cast("long"))
        .select(col("doc_id"), col("lang"), col("source"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))
    }),

    // source-diversity cap: keep at most [[SourceCap]] documents per
    // source, chosen by a DETERMINISTIC md5 rank (an unbiased per-source
    // sample, reproducible across engines and reruns — never rand()).
    // One window keyed on `source`; per-partition volume is the cap
    // rank's only state, so the window streams. At 100 TB the giant-domain
    // skew (one source = billions of rows in one window partition) is
    // handled by the two-phase variant documented in DEPLOYMENT.md: a
    // per-source count agg picks an md5 keep-threshold per source, then a
    // shuffle-free filter applies it — the window form here IS the exact
    // semantics the two-phase form approximates.
    "docs_source_cap" -> ((s, d) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Relational.sortedOnce(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"))
          .withColumn("rk", row_number().over(w).cast("long"))
          .withColumn("kept", col("rk") <= SourceCap),
        col("doc_id"))
    }),

    // benchmark decontamination: documents sharing any word 5-gram with
    // the benchmark set (here: doc_id < 10 stands in for an eval set).
    // The benchmark's distinct shingles broadcast; the corpus side streams
    // its occurrence rows through the broadcast join and aggregates once
    // on doc_id — the corpus is never shuffled on the shingle.
    "text_contamination" -> ((s, d) => {
      val occ = shingleOcc5(s, d)
      // benchmark side assembled from the SOURCE table with the doc_id
      // predicate pushed to the parquet scan (r15): shingles are per-doc,
      // so grams(docs WHERE id<10) ≡ occ5 WHERE id<10 — but the memoized
      // occ5 is a checkpoint with no pushdown, so filtering IT scanned the
      // full occurrence index (1 M rows at sf0.1) to keep 10 docs' grams;
      // at 100 TB the difference is a full index scan vs a pruned read of
      // the tiny eval set (guide §6: make predicate pushdown reach the scan)
      val bench = shingleOccurrencesN(
          Tables.documents(s, d).filter(col("doc_id") < 10), 5)
        .select(col("shingle")).distinct()
      occ.filter(col("doc_id") >= 10)
        .join(broadcast(bench), Seq("shingle"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("shingle")).as("n_overlap"))
        .orderBy(col("doc_id"))
    }),

    // decontamination at 100 TB: when the benchmark suite itself is huge
    // (eval + held-out + contamination blocklists can be TBs of n-grams),
    // its string set no longer broadcasts. Compress it to an m-bit bloom
    // bitmap that does ([[bloomProbe]]); the corpus side stays exactly
    // like `text_contamination`: stream occurrence rows through k map
    // probes and aggregate once on doc_id. Bloom hits = exact overlaps +
    // false positives (the FP rate is the m/k sizing knob, DEPLOYMENT.md)
    // — candidates then re-check exactly against the benchmark shard that
    // owns them, which is the standard two-phase shape; the bitmap is
    // what keeps phase 1 broadcastable.
    "text_contamination_bloom" -> ((s, d) => {
      // benchmark side from the source table, same rationale (and same
      // equivalence) as text_contamination above
      val bench = shingleOccurrencesN(
          Tables.documents(s, d).filter(col("doc_id") < 10), 5)
        .select(col("shingle")).distinct()
      // h1/h2 computed ONCE per occurrence row (one md5), probes are pure
      // integer algebra on them; the contamination predicate filters
      // BEFORE the doc aggregation, so the exchange carries rows
      // proportional to CONTAMINATION, not to the corpus.
      bloomProbe(bench.select(md5Halves(col("shingle")): _*),
          shingleOcc5(s, d).filter(col("doc_id") >= 10)
            .select(Seq(col("doc_id"), col("shingle")) ++ md5Halves(col("shingle")): _*))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("shingle")).as("n_bloom"))
        .orderBy(col("doc_id"))
    }),

    // Snapshot diff — the incremental-crawl primitive every refresh
    // pipeline starts from: which documents were added, removed, or
    // changed between corpus snapshots. Snapshot B is synthesized
    // deterministically from the table (docs ≡0 mod 11 removed, ≡0 mod 7
    // re-crawled with changed text, ≡0 mod 13 re-appear as new ids) so
    // the oracle sees the identical pair. The diff itself is the scale
    // pattern: project each side to (doc_id, md5) FIRST, full-outer join
    // on the id — only 16-byte digests ever shuffle, never document
    // bodies; at 100 TB this is a co-partitioned merge of two manifest
    // tables, and `agg_incremental`-style partials refresh only the
    // 'added'/'changed' slice downstream.
    "corpus_snapshot_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val a = docs.select(col("doc_id"), md5(col("text")).as("h_a"))
      val bOld = docs.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))).as("h_b"))
      // synthetic "new" ids live in the negative namespace — disjoint from
      // any real (non-negative) doc_id at EVERY corpus size, where an
      // additive offset would collide once the corpus outgrows it
      val bNew = docs.filter(col("doc_id") % 13 === 0)
        .select((-col("doc_id") - 1L).as("doc_id"), md5(col("text")).as("h_b"))
      a.join(bOld.unionByName(bNew), Seq("doc_id"), "full")
        .withColumn("status",
          when(col("h_a").isNull, "added")
            .when(col("h_b").isNull, "removed")
            .when(col("h_a") =!= col("h_b"), "changed")
            .otherwise("unchanged"))
        .select(col("doc_id"), col("status"))
        .orderBy(col("doc_id"))
    }),

    // Span-corruption plan (T5/UL2 objective preprocessing): which token
    // spans each document masks, decided BEFORE training and stored — so
    // every epoch, retry, and re-shard masks identically (the
    // reproducibility property rand() can never give). Candidate starts
    // are md5(doc:pos) hash draws (≈8% of positions), each covering 3
    // tokens; overlapping candidates merge into maximal spans via the
    // gaps-and-islands pass (position − row_number names the island —
    // events_streaks' machinery on synthetic intervals). Everything is
    // per-doc integer algebra: one doc-keyed window, no corpus joins.
    "docs_spans" -> ((s, d) => {
      // n_toks is size(split(text)) — a per-ROW projection carried through
      // the explode, NOT a count window over the exploded token table
      // (which would shuffle EVERY token just to recover a number the doc
      // row already knows; at 100 TB that window was the query's only
      // full-corpus exchange). The DuckDB oracle has always used the
      // projection form (len(string_split(...))) — this matches it.
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("int").as("n_toks"),
          posexplode(col("toks")).as(Seq("pos", "tok")))
      val cand = toks.filter(
        conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
          col("pos").cast("string"))), 1, 8), 16, 10).cast("long") % 100 < 8)
      val covered = cand
        .select(col("doc_id"),
          explode(sequence(col("pos"),
            least(col("pos") + 2, col("n_toks") - 1))).as("cpos"))
        .distinct()
      val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("cpos"))
      val spans = covered
        .withColumn("anchor", col("cpos") - row_number().over(byDoc))
        .groupBy(col("doc_id"), col("anchor"))
        .agg(min(col("cpos")).cast("long").as("span_start"),
          count(lit(1)).as("span_len"))
      spans
        .withColumn("span_id", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("span_start"))).cast("long"))
        .select(col("doc_id"), col("span_id"), col("span_start"), col("span_len"))
        .orderBy(col("doc_id"), col("span_id"))
    }),

    // Train/test split-leakage gate — decontamination's eval-hygiene
    // application: the SAME 5-gram overlap machinery as
    // text_contamination, but the "benchmark" is the held-out test split,
    // and the split assignment is character-for-character
    // `sample_split`'s hash rule — splitter and gate share one
    // definition, so they can never disagree about which side a document
    // is on. Per train doc: shingle count, overlap with ANY test-split
    // shingle, leakage in exact ppm. Same scale shape: the test-split
    // shingle set broadcasts (test is the small split by construction);
    // the train side never shuffles on the shingle; the bloom bitmap is
    // the documented escalation when test outgrows a broadcast.
    "dq_split_leakage" -> ((s, d) => {
      val split = Sampling.hashBucket(col("doc_id"), 10)
      val occ = shingleOcc5(s, d)
      val testShingles = occ.filter(split >= 9)
        .select(col("shingle")).distinct()
        .select(col("shingle"), lit(1).as("leak"))
      occ.filter(split < 9)
        .join(broadcast(testShingles), Seq("shingle"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(coalesce(col("leak"), lit(0))).as("n_leaked"))
        .withColumn("leak_ppm", expr("n_leaked * 1000000 div n_shingles"))
        .orderBy(col("doc_id"))
    }),

    // N-gram-vocabulary growth (Heaps-law curve) — distinct word
    // trigrams seen after each tenth of the corpus in doc_id order: the
    // contamination-index / n-gram-LM sizing planner (if the curve is
    // still steep at 100%, the shingle universe hasn't saturated and
    // every index sized off this sample will under-provision). Trigrams,
    // not unigrams: the synthetic corpus's word vocabulary saturates in
    // the first bucket, and at scale unigram vocab saturates in the
    // first shards too — the n-gram space is what keeps growing. Scale
    // shape: each shingle contributes only its FIRST bucket (one
    // shingle-keyed agg — no per-prefix distinct scans), per-bucket news
    // rolls up to ≤10 rows, and the cumulative runs over those 10 via
    // the array fold — the prefix structure costs nothing corpus-wide.
    "docs_vocab_growth" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val mx = docs.agg(max(col("doc_id")).as("mx"))
      val firstB = Dedup.shingleOcc(s, d)
        .crossJoin(broadcast(mx))
        .select(expr("least(9L, doc_id * 10 div (mx + 1))").as("bucket"),
          col("shingle"))
        .groupBy(col("shingle")).agg(min(col("bucket")).as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("n_new"))
      firstB.agg(collect_list(struct(col("b"), col("n_new"))).as("bs"))
        .select(explode(col("bs")).as("x"), col("bs"))
        .withColumn("cum_vocab", expr(
          "aggregate(filter(bs, y -> y.b <= x.b), 0L, (a, y) -> a + y.n_new)"))
        .select(col("x.b").as("bucket"), col("x.n_new").as("n_new"), col("cum_vocab"))
        .orderBy(col("bucket"))
    }),

    // Per-language document-length spectrum — log2 character buckets
    // (whole-bit trick: bucket = bit-length of len+1, exact integers, no
    // IEEE log), the view that tunes short-doc filters and chunk sizes
    // per language BEFORE committing a 100 TB pass: CJK-style languages
    // pack more content per char, so one global length cutoff is always
    // wrong for someone. Scan-fused projection + one histogram-sized agg.
    "docs_length_hist" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), length(col("text")).cast("long").as("len"))
        .withColumn("bucket", length(bin(col("len") + 1)).cast("long"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("sum_chars"))
        .orderBy(col("lang"), col("bucket"))),

    // Token-budget corpus cut — "train on the best N tokens": which
    // quality strata fit an exact token budget (here total/2, computed
    // FROM the data so the query scales with SF). The naive formulation
    // sorts the whole corpus by quality and takes a running-sum prefix —
    // a partitionless window this engine BANS (PlanShapeSpec sweep). The
    // scale-right shape quantizes quality to 101 ppm-derived buckets
    // (the agg_histogram discipline): ONE bucket agg over the corpus,
    // then the cumulative runs over the ≤101-row histogram packed into a
    // single array row (the dq_drift fold trick — O(101²) driver-side
    // nothing, corpus never re-shuffled). The cut is bucket-granular by
    // design: a production run resolves the boundary bucket with one
    // more pass over JUST that bucket (agg_exact_quantile's narrowing).
    "docs_token_budget" -> ((s, d) => {
      val q = graft.functions.TextStats.qualityScore(col("text"))
      val b = Tables.fanout(Tables.documents(s, d))
        .select(col("doc_id"),
          size(split(lower(col("text")), " ")).cast("long").as("n_toks"),
          floor(q * 100).cast("long").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("sum_toks"))
      b.agg(collect_list(struct(col("bucket"), col("n_docs"), col("sum_toks"))).as("bs"))
        .withColumn("total", expr("aggregate(bs, 0L, (a, y) -> a + y.sum_toks)"))
        .withColumn("budget", expr("total div 2"))
        .select(col("bs"), col("total"), col("budget"), explode(col("bs")).as("x"))
        .withColumn("cum_toks", expr(
          "aggregate(filter(bs, y -> y.bucket >= x.bucket), 0L, (a, y) -> a + y.sum_toks)"))
        .select(col("x.bucket").as("bucket"), col("x.n_docs").as("n_docs"),
          col("x.sum_toks").as("sum_toks"), col("cum_toks"),
          col("budget"), col("total"),
          (col("cum_toks") <= col("budget")).as("kept"))
        .orderBy(col("bucket").desc)
    }),

    // Cross-document boilerplate measurement — the C4/RefinedWeb cleaning
    // signal text_repetition can't see (repetition is WITHIN a doc;
    // boilerplate is the same 5-gram across MANY docs: headers, footers,
    // cookie banners). Phase 1 is one shingle-keyed agg for document
    // frequency; shingles at DF ≥ BoilerplateDf form the boilerplate set,
    // which is small BY DEFINITION (high-DF strings are the Zipf head) and
    // broadcasts — the corpus-side occurrence stream never shuffles on the
    // shingle, exactly the text_contamination discipline. Phase 2 is a
    // per-doc fold: boilerplate fraction in exact ppm. The occurrence
    // relation is the MEMOIZED per-snapshot index ([[shingleOcc5]]) — DF,
    // the vocab, contamination, and this gate all read it, and this
    // query's two consumers (DF agg + join-back) share ONE
    // materialization instead of re-running the pipeline per branch.
    "text_boilerplate" -> ((s, d) => {
      val occ = shingleOcc5(s, d)
      val boiler = occ.groupBy(col("shingle"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= BoilerplateDf)
        .select(col("shingle"), lit(1).as("is_b"))
      occ.join(broadcast(boiler), Seq("shingle"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(coalesce(col("is_b"), lit(0))).as("n_boiler"))
        .withColumn("boiler_ppm", expr("n_boiler * 1000000 div n_shingles"))
        .withColumn("flagged", col("boiler_ppm") > 500000)
        .orderBy(col("doc_id"))
    }),

    // Corpus-wide top-50 word trigrams — the n-gram LM / template-mining
    // twin of text_vocab's unigram table, over the SAME shingle relation
    // the dedup/contamination family reads (persist it once per snapshot
    // at 100 TB and every consumer shares the scan). One shingle-keyed agg
    // with map-side partials absorbs the corpus; the top-50 rides
    // orderBy+limit, which Spark plans as TakeOrderedAndProject — per-
    // partition heaps merged on the driver, never a full vocab sort. The
    // (n_occur DESC, shingle) tie-break is a total order, so the cut is
    // deterministic in both engines.
    "text_trigrams" -> ((s, d) =>
      Dedup.shingleOcc(s, d)
        .groupBy(col("shingle"))
        .agg(count(lit(1)).as("n_occur"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n_occur").desc, col("shingle"))
        .limit(50)),

    // RAG/context chunking: fixed-size overlapping character windows
    // (size ChunkSize, stride ChunkStride — adjacent chunks share
    // ChunkSize−ChunkStride chars so no retrieval boundary splits a
    // passage without a copy that contains it whole). Pure per-row
    // explode: the array of starts is arithmetic on length(text), the
    // chunk is one substring — shuffle-free, fuses into the scan, and
    // parallelism is inherited from input splits exactly like a loader's
    // chunker. Chunks are emitted as (start, len, md5) — the hash is the
    // retrieval-index key and keeps this result corpus-metadata-sized;
    // the chunk text itself is recomputable from (doc_id, start).
    // Curriculum plan — the ORDER-side counterpart of docs_spans' stored
    // masking plan: train on high-quality documents first. Phase is a
    // fixed ppm threshold on the SHARED quality score (no rank windows —
    // a rank-based tercile would put the whole corpus through 3 giant
    // partitions), the within-phase order is an md5 draw, and consumers
    // sort by (phase, order_key) at read exactly like docs_shuffle.
    // Pure per-row projection: fuses into the scan, deterministic across
    // retries/epochs, and the plan is STORED so every re-run trains in
    // the identical order.
    "docs_curriculum" -> ((s, d) => {
      val q = graft.functions.TextStats.qualityScore(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), floor(q * 1000000).cast("long").as("q_ppm"))
        .withColumn("phase",
          when(col("q_ppm") >= 600000, 1L)
            .when(col("q_ppm") >= 400000, 2L).otherwise(3L))
        .withColumn("order_key",
          concat(col("phase").cast("string"), lit(":"),
            md5(concat(col("doc_id").cast("string"), lit(":curriculum")))))
        .orderBy(col("doc_id"))
    }),

    "docs_chunk" -> ((s, d) =>
      chunks(s, d)
        .select(col("doc_id"),
          ((col("start") - 1) / ChunkStride).cast("long").as("chunk_id"),
          col("start").cast("long").as("chunk_start"),
          length(col("chunk")).cast("long").as("chunk_len"),
          md5(col("chunk")).as("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_id"))),

    // Chunk-granularity dedup over the RAG index — which exact chunks
    // repeat across the corpus (shared headers, licenses, templates):
    // the retrieval-time twin of text_boilerplate (a duplicated chunk
    // wastes index space AND floods retrieval with identical passages).
    // Only 16-byte md5 digests ever shuffle — the chunk text stays in
    // the scan; one digest-keyed agg + TakeOrderedAndProject top-100.
    "docs_chunk_dedup" -> ((s, d) =>
      chunks(s, d)
        .select(col("doc_id"), md5(col("chunk")).as("chunk_hash"))
        .groupBy(col("chunk_hash"))
        .agg(count(lit(1)).as("n_occur"), countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_occur") > 1)
        .orderBy(col("n_occur").desc, col("chunk_hash"))
        .limit(100)),

    // Language-balanced training interleave — the ORDER half of data
    // mixing (sample_mixture/sample_temperature decide HOW MUCH of each
    // language; this decides WHEN): round-robin across languages, one
    // document per language per round, in deterministic md5 order within
    // each language. global_step = (rn−1)·n_langs + lang_rank−1 is pure
    // arithmetic — rank within language × a broadcast 5-row language
    // index — so there is NO global window: uniqueness is algebraic
    // (distinct (rn, lang) ⇒ distinct step), and when a small language
    // exhausts, its later slots are gaps the loader closes by sorting.
    // One lang-partitioned window is the only corpus-sized sort, the
    // same cost class as docs_shuffle's shard windows.
    "docs_interleave" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // the language index is ONE extra corpus pass: distinct langs fold
      // to a single sorted array, rank + n_langs are array algebra on
      // that one row, posexplode restores the 5-row dimension. (A
      // lang×lang rank self-join would re-scan the corpus per reference;
      // a rank window over the distinct would be a partitionless
      // WindowExec. This shape is both single-scan and warning-free.)
      val idx = docs.select(col("lang")).distinct()
        .agg(sort_array(collect_list(col("lang"))).as("ls"))
        .select(size(col("ls")).cast("long").as("n_langs"),
          posexplode(col("ls")).as(Seq("i", "lang")))
        .select(col("lang"), (col("i") + 1).cast("long").as("lang_rank"),
          col("n_langs"))
      val byLang = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
      docs.select(col("doc_id"), col("lang"))
        .withColumn("h", md5(col("doc_id").cast("string")))
        .withColumn("rn", row_number().over(byLang).cast("long"))
        .join(broadcast(idx), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("rn"),
          ((col("rn") - 1) * col("n_langs") + col("lang_rank") - 1)
            .cast("long").as("global_step"))
        .orderBy(col("global_step"), col("doc_id"))
    })
  )

  /** The contamination oracles' two sides: the benchmark documents'
    * 5-grams and the candidate documents'. */
  private val bench = gramListsSql(5, " WHERE doc_id < 10")
  private val cand = gramListsSql(5, " WHERE doc_id >= 10")

  /** SQL twin of [[chunks]]: `d` (the non-empty documents) and `s`, one
    * row per chunk (doc_id, start, chunk). */
  private val chunkCtes: String =
    s"""d AS (
       |  SELECT doc_id, text, LENGTH(text) AS len
       |  FROM documents WHERE LENGTH(text) > 0),
       |s AS (
       |  SELECT doc_id, start, SUBSTR(text, CAST(start AS INTEGER), $ChunkSize) AS chunk
       |  FROM (SELECT doc_id, text,
       |          unnest(generate_series(1, len, $ChunkStride)) AS start
       |        FROM d))""".stripMargin

  val oracle: Map[String, String] = Map(
    "docs_pack" ->
      s"""WITH sized AS (
         |  SELECT doc_id, lang, doc_id % $PackShards AS shard,
         |    len(string_split(text, ' ')) AS n_tokens,
         |    SUM(len(string_split(text, ' '))) OVER (PARTITION BY lang, doc_id % $PackShards
         |      ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM documents)
         |SELECT lang, shard, CAST(floor(CAST(cum - n_tokens AS DOUBLE) / $PackBudget) AS BIGINT) AS bin,
         |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM sized
         |GROUP BY 1, 2, 3
         |ORDER BY lang, shard, bin""".stripMargin,
    "text_pii_scrub" ->
      (s"""WITH synth AS (
          |  SELECT doc_id,
          |    substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
          |      || '@corp.example or 10.2.' || CAST(doc_id % 256 AS VARCHAR)
          |      || '.' || CAST(doc_id % 7 AS VARCHAR)
          |      || ' visit https://evil-' || CAST(doc_id AS VARCHAR)
          |      || '.example.com/p now' AS t
          |  FROM documents)
          |SELECT doc_id,
          |""".stripMargin +
        s"  regexp_replace(regexp_replace(regexp_replace(t, '$UrlPat', '<URL>', 'g'), " +
        s"'$EmailPat', '<EMAIL>', 'g'), '$IpPat', '<IP>', 'g') AS scrubbed,\n" +
        s"  len(regexp_extract_all(t, '$UrlPat', 0)) + len(regexp_extract_all(t, '$EmailPat', 0)) + len(regexp_extract_all(t, '$IpPat', 0)) AS n_pii\n" +
        "FROM synth\nORDER BY doc_id"),
    "corpus_report" ->
      (s"WITH ${Dedup.minhashPairCtes},\n${Dedup.clusterCtes},\n" +
        s"""q AS (
           |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_toks,
           |""".stripMargin +
        s"    ${graft.functions.TextStats.sqlQualityKeep} AS keep\n" +
        """  FROM documents)
          |SELECT lang, COUNT(*) AS n_docs,
          |  CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
          |  COUNT(CASE WHEN keep THEN 1 END) AS n_quality_keep,
          |  COUNT(CASE WHEN l.cluster_id IS NOT NULL THEN 1 END) AS n_clustered,
          |  COUNT(CASE WHEN l.cluster_id IS NULL OR l.cluster_id = q.doc_id
          |             THEN 1 END) AS n_dedup_survivors
          |FROM q LEFT JOIN labels l ON l.doc_id = q.doc_id
          |GROUP BY lang
          |ORDER BY lang""".stripMargin),
    "corpus_manifest" ->
      (s"WITH ${Dedup.minhashPairCtes},\n${Dedup.clusterCtes},\n" +
        s"""surv AS (
           |  SELECT d.doc_id, d.lang, d.source
           |  FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
           |  WHERE (l.cluster_id IS NULL OR l.cluster_id = d.doc_id)
           |    AND ${graft.functions.TextStats.sqlQualityKeep}),
           |capped AS (
           |  SELECT doc_id, lang, source FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY source
           |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           |    FROM surv)
           |  WHERE rk <= $SourceCap)
           |SELECT doc_id, lang, source,
           |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           |    % ${Sampling.NumShards} AS shard,
           |  ROW_NUMBER() OVER (
           |    PARTITION BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           |      % ${Sampling.NumShards}
           |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pos
           |FROM capped
           |ORDER BY shard, pos""".stripMargin),
    "docs_source_cap" ->
      s"""SELECT doc_id, source, rk, rk <= $SourceCap AS kept FROM (
         |  SELECT doc_id, source,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "text_contamination" ->
      s"""WITH bench AS (
         |  SELECT DISTINCT unnest(s) AS shingle
         |  FROM $bench),
         |cand AS (
         |  SELECT doc_id, unnest(s) AS shingle
         |  FROM $cand)
         |SELECT doc_id, COUNT(*) AS n_overlap
         |FROM cand JOIN bench USING (shingle)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,
    "text_contamination_bloom" -> {
      val h1 = "CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT)"
      val h2 = "CAST(('0x' || substr(md5(shingle), 9, 8)) AS BIGINT)"
      s"""WITH bench AS (
         |  SELECT DISTINCT unnest(s) AS shingle
         |  FROM $bench),
         |bpos AS (
         |  SELECT ($h1 + j * $h2) % $BloomBits AS pos
         |  FROM bench CROSS JOIN unnest([${(0 until BloomK).mkString(", ")}]) AS u(j)),
         |bloom AS (
         |  SELECT pos // 64 AS word_idx,
         |         bit_or(CAST(1 AS UBIGINT) << CAST(pos % 64 AS INT)) AS bits
         |  FROM bpos GROUP BY 1),
         |cand AS (
         |  SELECT doc_id, unnest(s) AS shingle
         |  FROM $cand),
         |probes AS (
         |  SELECT doc_id, shingle, ($h1 + j * $h2) % $BloomBits AS pos
         |  FROM cand CROSS JOIN unnest([${(0 until BloomK).mkString(", ")}]) AS u(j)),
         |hits AS (
         |  SELECT doc_id, shingle,
         |         bool_and(b.bits IS NOT NULL AND
         |           (b.bits & (CAST(1 AS UBIGINT) << CAST(p.pos % 64 AS INT))) <> 0) AS all_hit
         |  FROM probes p LEFT JOIN bloom b ON b.word_idx = p.pos // 64
         |  GROUP BY 1, 2)
         |SELECT doc_id, COUNT(*) AS n_bloom
         |FROM hits WHERE all_hit
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    },
    "corpus_snapshot_diff" ->
      """WITH a AS (
        |  SELECT doc_id, md5(text) AS h_a FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS h_b
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT -doc_id - 1, md5(text) FROM documents WHERE doc_id % 13 = 0)
        |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.doc_id IS NULL THEN 'added'
        |       WHEN b.doc_id IS NULL THEN 'removed'
        |       WHEN h_a <> h_b THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
        |ORDER BY doc_id""".stripMargin,
    "docs_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, len(string_split(lower(text), ' ')) AS n_toks,
        |    unnest(range(0, len(string_split(lower(text), ' ')))) AS pos
        |  FROM documents),
        |cand AS (
        |  SELECT doc_id, pos, n_toks FROM toks
        |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |    CAST(pos AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 8),
        |covered AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(range(pos, least(pos + 3, n_toks))) AS cpos
        |  FROM cand),
        |isl AS (
        |  SELECT doc_id, cpos,
        |    cpos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cpos) AS anchor
        |  FROM covered),
        |spans AS (
        |  SELECT doc_id, anchor, CAST(MIN(cpos) AS BIGINT) AS span_start,
        |    COUNT(*) AS span_len
        |  FROM isl GROUP BY 1, 2)
        |SELECT doc_id,
        |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY span_start) AS span_id,
        |  span_start, span_len
        |FROM spans
        |ORDER BY doc_id, span_id""".stripMargin,
    "dq_split_leakage" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS toks,
         |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10
         |      AS bucket
         |  FROM documents),
         |occ AS (
         |  SELECT doc_id, bucket, unnest([array_to_string(toks[i:i+4], ' ')
         |    for i in range(1, greatest(len(toks)-4, 0)+1)]) AS shingle
         |  FROM t),
         |test_sh AS (
         |  SELECT DISTINCT shingle FROM occ WHERE bucket >= 9)
         |SELECT o.doc_id, COUNT(*) AS n_shingles,
         |  CAST(SUM(CASE WHEN ts.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_leaked,
         |  CAST(CAST(SUM(CASE WHEN ts.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    * 1000000 // COUNT(*) AS BIGINT) AS leak_ppm
         |FROM occ o LEFT JOIN test_sh ts USING (shingle)
         |WHERE o.bucket < 9
         |GROUP BY o.doc_id
         |ORDER BY o.doc_id""".stripMargin,
    "docs_vocab_growth" ->
      """WITH mx AS (SELECT MAX(doc_id) AS mx FROM documents),
        |t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |sh AS (
        |  SELECT least(9, doc_id * 10 // (mx + 1)) AS bucket,
        |    unnest([array_to_string(toks[i:i+2], ' ')
        |      for i in range(1, greatest(len(toks)-2, 0)+1)]) AS shingle
        |  FROM t, mx),
        |fb AS (SELECT shingle, MIN(bucket) AS b FROM sh GROUP BY 1),
        |nb AS (SELECT b, COUNT(*) AS n_new FROM fb GROUP BY 1)
        |SELECT CAST(b AS BIGINT) AS bucket, n_new,
        |  CAST(SUM(n_new) OVER (ORDER BY b) AS BIGINT) AS cum_vocab
        |FROM nb
        |ORDER BY bucket""".stripMargin,
    "docs_length_hist" ->
      """WITH d AS (
        |  SELECT lang, CAST(LENGTH(text) AS BIGINT) AS len FROM documents)
        |SELECT lang, CAST(length(bin(len + 1)) AS BIGINT) AS bucket,
        |  COUNT(*) AS n_docs, CAST(SUM(len) AS BIGINT) AS sum_chars
        |FROM d GROUP BY 1, 2
        |ORDER BY lang, bucket""".stripMargin,
    "docs_token_budget" ->
      (s"WITH per AS (\n" +
        s"  SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_toks,\n" +
        s"    CAST(floor(${graft.functions.TextStats.sqlQualityScore} * 100) AS BIGINT) AS bucket\n" +
        "  FROM documents),\n" +
        "b AS (SELECT bucket, COUNT(*) AS n_docs,\n" +
        "  CAST(SUM(n_toks) AS BIGINT) AS sum_toks FROM per GROUP BY 1),\n" +
        "t AS (SELECT CAST(SUM(sum_toks) AS BIGINT) AS total FROM b)\n" +
        "SELECT bucket, n_docs, sum_toks,\n" +
        "  CAST(SUM(sum_toks) OVER (ORDER BY bucket DESC) AS BIGINT) AS cum_toks,\n" +
        "  CAST(total // 2 AS BIGINT) AS budget, total,\n" +
        "  SUM(sum_toks) OVER (ORDER BY bucket DESC) <= total // 2 AS kept\n" +
        "FROM b, t\n" +
        "ORDER BY bucket DESC"),
    "text_trigrams" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |occ AS (
        |  SELECT doc_id, unnest([array_to_string(toks[i:i+2], ' ')
        |    for i in range(1, greatest(len(toks)-2, 0)+1)]) AS shingle
        |  FROM t)
        |SELECT shingle, COUNT(*) AS n_occur, COUNT(DISTINCT doc_id) AS n_docs
        |FROM occ
        |GROUP BY 1
        |ORDER BY n_occur DESC, shingle
        |LIMIT 50""".stripMargin,
    "text_boilerplate" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
         |occ AS (
         |  SELECT doc_id, unnest([array_to_string(toks[i:i+4], ' ')
         |    for i in range(1, greatest(len(toks)-4, 0)+1)]) AS shingle
         |  FROM t),
         |bdf AS (
         |  SELECT shingle FROM (
         |    SELECT shingle, COUNT(DISTINCT doc_id) AS df FROM occ GROUP BY 1)
         |  WHERE df >= $BoilerplateDf),
         |pd AS (
         |  SELECT o.doc_id, COUNT(*) AS n_shingles,
         |    CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_boiler
         |  FROM occ o LEFT JOIN bdf b USING (shingle)
         |  GROUP BY 1)
         |SELECT doc_id, n_shingles, n_boiler,
         |  CAST(n_boiler * 1000000 // n_shingles AS BIGINT) AS boiler_ppm,
         |  n_boiler * 1000000 // n_shingles > 500000 AS flagged
         |FROM pd
         |ORDER BY doc_id""".stripMargin,
    "docs_curriculum" ->
      s"""WITH base AS (
         |  SELECT doc_id,
         |    CAST(floor(${graft.functions.TextStats.sqlQualityScore} * 1000000) AS BIGINT) AS q_ppm
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, q_ppm,
         |    CAST(CASE WHEN q_ppm >= 600000 THEN 1
         |              WHEN q_ppm >= 400000 THEN 2 ELSE 3 END AS BIGINT) AS phase
         |  FROM base)
         |SELECT doc_id, q_ppm, phase,
         |  CAST(phase AS VARCHAR) || ':' || md5(CAST(doc_id AS VARCHAR) || ':curriculum') AS order_key
         |FROM p
         |ORDER BY doc_id""".stripMargin,
    "docs_chunk" ->
      s"""WITH $chunkCtes
         |SELECT doc_id,
         |  CAST((start - 1) // $ChunkStride AS BIGINT) AS chunk_id,
         |  CAST(start AS BIGINT) AS chunk_start,
         |  CAST(LENGTH(chunk) AS BIGINT) AS chunk_len,
         |  md5(chunk) AS chunk_hash
         |FROM s
         |ORDER BY doc_id, chunk_id""".stripMargin,
    "docs_chunk_dedup" ->
      s"""WITH $chunkCtes
         |SELECT md5(chunk) AS chunk_hash, COUNT(*) AS n_occur,
         |  COUNT(DISTINCT doc_id) AS n_docs
         |FROM s GROUP BY 1
         |HAVING COUNT(*) > 1
         |ORDER BY n_occur DESC, chunk_hash
         |LIMIT 100""".stripMargin,
    "docs_interleave" ->
      """WITH dl AS (SELECT DISTINCT lang FROM documents),
        |idx AS (
        |  SELECT a.lang, COUNT(*) AS lang_rank
        |  FROM dl a JOIN dl b ON b.lang <= a.lang GROUP BY a.lang),
        |n AS (SELECT MAX(lang_rank) AS n_langs FROM idx),
        |r AS (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT r.doc_id, r.lang, CAST(r.rn AS BIGINT) AS rn,
        |  CAST((r.rn - 1) * n.n_langs + idx.lang_rank - 1 AS BIGINT) AS global_step
        |FROM r JOIN idx ON idx.lang = r.lang CROSS JOIN n
        |ORDER BY global_step, doc_id""".stripMargin
  )
}
