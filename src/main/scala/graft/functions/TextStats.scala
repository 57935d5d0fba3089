package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Text-analysis operators over `documents` — the training-data-pipeline
  * surface (BASELINE.json north star): token counting (whitespace + BPE-ish
  * regex), quality scoring, language-ID heuristic, and SimHash document
  * fingerprinting.
  *
  * Every operator is per-row Column algebra (higher-order functions over the
  * token array) — shuffle-free, codegen-friendly, linear in input size. The
  * SimHash uses a 60-bit md5-derived token hash folded with a single
  * `aggregate` HOF per document: one pass, no explode, no shuffle — at
  * 100 TB the cost is exactly one scan. (The DuckDB oracle mirrors it with
  * an explode+group formulation; same result, different shape.)
  */
object TextStats {

  val stopEn: Seq[String] = Seq("the", "a", "and", "of", "to", "in")
  val stopEs: Seq[String] = Seq("el", "la", "de", "y", "en", "que")
  val stopDe: Seq[String] = Seq("der", "die", "das", "und", "zu", "ist")

  def tokens(text: Column): Column = split(lower(text), " ")

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  /** BPE-ish subword segmentation: letter runs, digit runs, single symbols. */
  private val bpePat = """[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"""

  /** Composite quality score — the one formula `text_quality` and
    * `corpus_report` share (a fork here would silently diverge the two).
    * Written in a fixed IEEE association order mirrored by the SQL twin
    * [[sqlQualityKeep]], so the doubles are bit-stable cross-engine. */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val stopR = countIn(toks, stopEn).cast("double") / size(toks)
    val punctR = size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0)))
      .cast("double") / length(text)
    lit(0.4) * least(stopR * lit(5.0), lit(1.0)) +
      lit(0.3) * greatest(lit(0.0), lit(1.0) - punctR * lit(5.0)) +
      lit(0.3) * least(size(toks).cast("double") / lit(100.0), lit(1.0))
  }

  /** Per-doc 60-bit SimHash as a bit string — a rendering of the MEMOIZED
    * integer fingerprint table ([[graft.operators.Dedup.simhashFp]]), the
    * one body text_fingerprint, text_simhash_bit_balance, and
    * dedup_simhash share (a fork would let the index and its health check
    * disagree about the fingerprint). Bit p of the string is bit 60−p of
    * `sh`, which is exactly the vote `c_p·2 > n` — lpad(bin()) is the
    * identity rendering, asserted in OperatorsSpec. */
  private def docSimhash60(s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    graft.operators.Dedup.simhashFp(s, d)
      .select(col("doc_id"), lpad(bin(col("sh")), 60, "0").as("simhash60"))

  /** The per-document surprisal roll-up of the whole-bit LMs: over rows of
    * (doc_id, bits), the row count `n`, total_bits and avg_bits per doc.
    * SQL twin: [[bitsPerDocSql]]. */
  private def bitsPerDoc(rows: DataFrame, n: String): DataFrame =
    rows.groupBy(col("doc_id"))
      .agg(count(lit(1)).as(n), sum(col("bits")).as("total_bits"))
      .select(col("doc_id"), col(n), col("total_bits"),
        (col("total_bits").cast("double") / col(n)).as("avg_bits"))
      .orderBy(col("doc_id"))

  /** MEMOIZED term-frequency relation (doc_id, doc_len, token, tf) — the
    * unigram postings table, persisted once per corpus snapshot like the
    * shingle index ([[graft.operators.Dedup.shingleOcc]]): TF-IDF and the
    * vocabulary view read it instead of re-exploding every token. Rows
    * are unique per (doc, token), so window/aggregation counts over it
    * ARE document frequencies. */
  private[graft] def tokenTf(s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    graft.Memo("text_tf", s, d)(
      Tables.fanout(Tables.documents(s, d))
        .select(col("doc_id"), size(tokens(col("text"))).as("doc_len"),
          explode(tokens(col("text"))).as("token"))
        .groupBy(col("doc_id"), col("doc_len"), col("token"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint())

  /** The keep/drop cut over [[qualityScore]]. */
  def qualityKeep(text: Column): Column =
    qualityScore(text) >= 0.5 && size(tokens(text)) >= 10

  /** DuckDB twin of [[qualityScore]] over a `text` column — identical
    * association order (shared by [[sqlQualityKeep]] and the
    * quality-proportional sampler's oracle). */
  private[graft] def sqlQualityScore: String =
    s"(0.4 * least(CAST(${sqlCountIn(stopEn)} AS DOUBLE) / len($sqlToks) * 5.0, 1.0)" +
      s" + 0.3 * greatest(0.0, 1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]', 0)) AS DOUBLE) / length(text) * 5.0)" +
      s" + 0.3 * least(CAST(len($sqlToks) AS DOUBLE) / 100.0, 1.0))"

  /** DuckDB twin of [[qualityKeep]] over a `text` column — identical
    * association order. */
  private[graft] def sqlQualityKeep: String =
    s"$sqlQualityScore >= 0.5" +
      s" AND len($sqlToks) >= 10"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "text_stats" -> ((s, d) => {
      val toks = tokens(col("text"))
      // counts cast to long: DuckDB len()/length() are BIGINT — keep the
      // output schema type-identical on both sides.
      Tables.fanout(Tables.documents(s, d)).select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct_tokens"),
        (aggregate(transform(toks, t => length(t)), lit(0), (a, x) => a + x)
          .cast("double") / size(toks)).as("avg_token_len"),
        (countIn(toks, stopEn).cast("double") / size(toks)).as("stopword_ratio"),
        size(regexp_extract_all(col("text"), lit(bpePat), lit(0))).cast("long").as("n_bpe_tokens"),
        length(col("text")).cast("long").as("len_chars"))
        .orderBy(col("doc_id"))
    }),

    // readability signals next to text_stats' token counts: words per
    // sentence and chars per word — the Flesch-style inputs — kept in
    // EXACT integer ppm (no IEEE division) so both engines agree
    // bit-for-bit. Sentence count = '.' occurrences via translate-diff
    // (floor 1 to guard headlines), word chars exclude spaces. Pure
    // per-row projection: fuses into the scan, shuffle-free.
    "text_readability" -> ((s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"),
        greatest(lit(1L), size(split(col("text"), " ")).cast("long")).as("n_words"),
        greatest(lit(1L), (length(col("text")) -
          length(translate(col("text"), ".", ""))).cast("long")).as("n_sentences"),
        length(translate(col("text"), " ", "")).cast("long").as("n_word_chars"))
        .withColumn("cpw_ppm", expr("n_word_chars * 1000000 DIV n_words"))
        .withColumn("wps_ppm", expr("n_words * 1000000 DIV n_sentences"))
        .orderBy(col("doc_id"))
    }),

    // language-ID: stopword-marker scoring with fixed precedence en>es>de.
    "text_langid" -> ((s, d) => {
      val toks = tokens(col("text"))
      val (en, es, de) = (countIn(toks, stopEn), countIn(toks, stopEs), countIn(toks, stopDe))
      Tables.documents(s, d).select(
        col("doc_id"), col("lang"),
        en.cast("long").as("score_en"), es.cast("long").as("score_es"),
        de.cast("long").as("score_de"),
        when(en >= es && en >= de, "en").when(es >= de, "es").otherwise("de")
          .as("predicted"))
        .orderBy(col("doc_id"))
    }),

    // Character-class composition — the encoding-noise / markup detector
    // below the token level: alpha/digit/space/other shares in exact ppm
    // per document. A doc that's 40% "other" is markup, base64, or a
    // decode failure — none of which the token-level quality score can
    // name. Pure scan-fused projection (regexp strip + length), no
    // shuffle at all; the flag threshold is the DEPLOYMENT knob.
    "text_char_classes" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("long").as("n_alpha"),
          length(regexp_replace(col("text"), "[^0-9]", "")).cast("long").as("n_digit"),
          length(regexp_replace(col("text"), "[^ ]", "")).cast("long").as("n_space"))
        .filter(col("n_chars") > 0)
        .withColumn("n_other",
          col("n_chars") - col("n_alpha") - col("n_digit") - col("n_space"))
        .withColumn("alpha_ppm", expr("n_alpha * 1000000 div n_chars"))
        .withColumn("other_ppm", expr("n_other * 1000000 div n_chars"))
        .withColumn("flagged", col("other_ppm") > 400000)
        .orderBy(col("doc_id"))),

    // Language-ID CONFUSION MATRIX — the classifier-quality evaluation
    // the `lang` ground-truth column exists for: per (actual, predicted)
    // pair, document count and exact-ppm share of the actual class (row-
    // normalized recall diagonal). This is how the langid heuristic's
    // per-language error profile gets read before trusting it to route a
    // 100 TB corpus; one corpus scan, one tiny (|langs|²-row) agg, and a
    // per-actual total carried by a second lang-keyed agg joined back
    // (both sides lang-count-sized — broadcast territory).
    "text_langid_confusion" -> ((s, d) => {
      val toks = tokens(col("text"))
      val (en, es, de) = (countIn(toks, stopEn), countIn(toks, stopEs), countIn(toks, stopDe))
      val pred = Tables.fanout(Tables.documents(s, d)).select(
        col("lang").as("actual"),
        when(en >= es && en >= de, "en").when(es >= de, "es").otherwise("de")
          .as("predicted"))
      val cells = pred.groupBy(col("actual"), col("predicted"))
        .agg(count(lit(1)).as("n_docs"))
      val totals = cells.groupBy(col("actual"))
        .agg(sum(col("n_docs")).as("n_actual"))
      cells.join(broadcast(totals), Seq("actual"))
        .withColumn("share_ppm", expr("n_docs * 1000000 div n_actual"))
        .select(col("actual"), col("predicted"), col("n_docs"), col("share_ppm"))
        .orderBy(col("actual"), col("predicted"))
    }),

    // composite quality score (Gopher-style heuristic filters): character-
    // class ratios + stopword density + a length component, combined into
    // one bounded score with a keep/drop verdict. Per-row Column algebra —
    // shuffle-free, one scan at any corpus size. All ratios are IEEE
    // divisions of exact integer counts and the combination is written in
    // the same association order on both engines, so the doubles (and the
    // keep cut) are bit-stable cross-engine.
    "text_quality" -> ((s, d) => {
      val toks = tokens(col("text"))
      val nToks = size(toks)
      val stopR = countIn(toks, stopEn).cast("double") / nToks
      val punctR = size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9\\s]"), lit(0)))
        .cast("double") / length(col("text"))
      val digitR = size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0)))
        .cast("double") / length(col("text"))
      graft.operators.Relational.sortedOnce(
        Tables.documents(s, d).select(
          col("doc_id"),
          nToks.cast("long").as("n_tokens"),
          stopR.as("stop_ratio"),
          punctR.as("punct_ratio"),
          digitR.as("digit_ratio"),
          qualityScore(col("text")).as("quality"),
          qualityKeep(col("text")).as("keep")),
        col("doc_id"))
    }),

    // corpus vocabulary / heavy hitters: global token frequencies with
    // document frequency, top 50. Two-stage hash agg (map-side partials
    // absorb the Zipf head before the shuffle — the "the" key arrives at
    // its reducer as ONE partial row per task, not a row per occurrence),
    // so the skewed key never concentrates data movement.
    "text_vocab" -> ((s, d) =>
      // rides the MEMOIZED postings table: n_occur = Σtf, and tf rows are
      // unique per (doc, token) so the plain row count IS the distinct
      // document count — no countDistinct Expand anywhere
      tokenTf(s, d)
        .groupBy(col("token"))
        .agg(sum(col("tf")).as("n_occur"), count(lit(1)).as("n_docs"))
        .orderBy(col("n_occur").desc, col("token"))
        .limit(50)),

    // TF-IDF top terms per document. Doc length rides the explode (no
    // second pass over text); term frequency is one (doc,token) agg; the
    // document-frequency table is vocabulary-sized (one more agg + join on
    // token — Zipf-skewed on the probe side, where AQE skew-split applies);
    // a per-doc window takes the top 5. The weight is the RATIONAL idf
    // variant (tf/len)·(N/df) — products of exactly-rounded IEEE divisions
    // of integers, so Spark and DuckDB agree bit-for-bit (ln-idf is a
    // drop-in at deployment, traded away here only for cross-engine
    // hash-stability of the oracle gate).
    "text_tfidf" -> ((s, d) => {
      val tf = tokenTf(s, d) // MEMOIZED postings table
      val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      // df as a count-over-token-partition window on the tf relation:
      // tf rows are unique per (doc, token), so the window count IS the
      // document frequency — one token exchange replaces the separate
      // df aggregation AND its join back (3 exchanges total, not 4)
      val wTok = org.apache.spark.sql.expressions.Window.partitionBy(col("token"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("score").desc, col("token"))
      tf.withColumn("df", count(lit(1)).over(wTok))
        .crossJoin(broadcast(nDocs))
        .withColumn("score",
          (col("tf").cast("double") / col("doc_len")) *
          (col("n_docs").cast("double") / col("df")))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          col("score"), col("rn"))
        .orderBy(col("doc_id"), col("rn"))
    }),

    // winnowing fingerprints (MOSS-style): hash every word-3-gram, slide a
    // 4-window over consecutive hashes, keep each window's minimum — the
    // classic robust-fingerprint selection; near-identical documents share
    // most fingerprints. r14 reformulation (guide §2.4): the whole
    // selection runs in ARRAY LAND per document — gram hashes via one
    // transform, window minima via slice+array_min, per-doc dedup via
    // array_distinct (DISTINCT(doc_id, fp) ≡ per-doc set, since fp is
    // computed within the doc) — so the old shape's doc_id window
    // exchange, its two window sorts, AND the distinct's aggregation all
    // disappear: ONE corpus scan, one final sort, nothing else. At 100 TB
    // the fingerprint pass becomes embarrassingly parallel. The md5-per-
    // gram count is unchanged (one per gram); equivalence is pinned by
    // the unchanged DuckDB oracle (window formulation) at the hash gate.
    "text_winnowing" -> ((s, d) =>
      Tables.fanout(Tables.documents(s, d))
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 6) // 4 full 3-gram windows need ≥6 tokens
        // hash array HOISTED into its own projection (referenced twice
        // below — CollapseProject keeps multi-referenced non-cheap
        // aliases, so the md5 pass runs once per gram, not once per
        // (gram × window): the PQ-encode lambda-hoist lesson from r13)
        .select(col("doc_id"), expr(
          "transform(sequence(1, size(t) - 2), i -> " +
            "md5(concat_ws(' ', element_at(t, i), element_at(t, i + 1)," +
            " element_at(t, i + 2))))").as("hs"))
        // window minima as least() over 4 element_at picks inside the
        // lambda (r15): array_min(slice(hs,j,4)) ≡ least(hs[j..j+3]) —
        // same 4 non-null operands, same string min — without the
        // 4-element array allocation + scan per window. The fully-codegen
        // alternative (explode the window starts + codegen least + a
        // distinct aggregation for the per-doc dedup — VERDICT item 4's
        // sketch) was A/B'd interleaved (OPTIMIZATION_r15.md §8) and REJECTED:
        // its extra distinct exchange costs more than the interpreted
        // lambda it saves (med 887 ms vs 752 here vs 853 for the r14
        // slice+array_min shape; the md5 transform dominates all three).
        .select(col("doc_id"), explode(expr(
          "array_distinct(transform(sequence(1, size(hs) - 3), j -> " +
            "least(element_at(hs, j), element_at(hs, j + 1)," +
            " element_at(hs, j + 2), element_at(hs, j + 3))))")).as("fp"))
        .orderBy(col("doc_id"), col("fp"))),

    // document fingerprints: exact (md5 of normalized text) + SimHash-60.
    // SimHash computed by explode → 60 codegen'd aggregates over the RAW
    // 60-bit token hash as a long: bit p of the bit-string view is
    // (hash >> (60-p)) & 1, so each per-bit "+1/-1 sum" is
    // 2·popcount_p − n_tokens — pure integer shift/mask/sum, no per-token
    // string materialization (the substring formulation paid 60 string ops
    // per token; OperatorsSpec keeps the interpreted aggregate()-fold
    // twin as the reference and asserts equality). Shuffle key is
    // doc_id: high cardinality, balanced.
    "text_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("md5_norm"))
        .join(docSimhash60(s, d), Seq("doc_id"))
        .select(col("doc_id"), col("md5_norm"), col("simhash60"))
        .orderBy(col("doc_id"))),

    // Per-bit balance of the 60-bit SimHash — the fingerprint-index
    // health check: banding (dedup_simhash, binary_phash) assumes each
    // bit splits the corpus ~evenly; a bit stuck near all-0 or all-1
    // carries no information, its band degenerates into giant buckets,
    // and the MaxBucketSize cap starts dropping real pairs. One
    // |docs|×60 explode folded by a 60-row agg — run it after changing
    // the token hash or the corpus mix, before trusting the bands.
    "text_simhash_bit_balance" -> ((s, d) =>
      docSimhash60(s, d)
        .select(col("simhash60"), explode(sequence(lit(1), lit(60))).as("p"))
        .select(col("p").cast("long").as("bit_pos"),
          expr("substring(simhash60, p, 1)").as("bit"))
        .groupBy(col("bit_pos"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("bit") === "1", 1L).otherwise(0L)).as("n_ones"))
        .withColumn("ones_ppm", expr("n_ones * 1000000 div n_docs"))
        .withColumn("skewed", abs(col("ones_ppm") - 500000) > 300000)
        .orderBy(col("bit_pos"))),

    // Unigram-surprisal quality filter (the perplexity-proxy pass of an
    // LLM corpus build): a document whose tokens are mostly corpus-rare is
    // gibberish/code-soup, one whose tokens are all corpus-frequent is
    // boilerplate — both tails get cut on average bits-per-token under the
    // corpus unigram model. Determinism: true -log2 p needs ln (NOT
    // correctly-rounded identically across engines), so surprisal is
    // taken in WHOLE bits — floor(log2(total/freq)) computed exactly as
    // length(bin(total div freq)) - 1, pure integer/string ops both
    // engines share. Plan shape: ONE token explode, corpus frequency as a
    // count-over-token-partition window on it (the text_tfidf df-as-window
    // trick — no separate vocab relation, no join, no double evaluation
    // of the explode), the scalar token total from a pruned second scan
    // (the q22_idle glue pattern), then a doc-keyed roll-up: 2 real
    // exchanges, Zipf-head window partitions absorbed the same way
    // text_tfidf's df window is.
    "text_surprisal" -> ((s, d) => {
      val wTok = org.apache.spark.sql.expressions.Window.partitionBy(col("tok"))
      val total = Tables.documents(s, d)
        .agg(sum(size(tokens(col("text")))).cast("long").as("total_toks"))
      val occ = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .withColumn("freq", count(lit(1)).over(wTok))
        .crossJoin(broadcast(total))
        .withColumn("bits",
          (length(bin(expr("total_toks div freq"))) - 1).cast("long"))
      bitsPerDoc(occ, "n_tokens")
    }),

    // Bigram-LM surprisal — the CCNet/perplexity-filter signal one rung
    // above `text_surprisal`'s unigram model: per-token cost under the
    // corpus-trained conditional p(w2|w1) = c(w1,w2) / c(w1·), where
    // c(w1·) counts w1 as a bigram CONTEXT (so the model is properly
    // normalized and every observed bigram has p ≤ 1). Whole-bit
    // discipline as text_surprisal: surprisal = floor(log2(c_ctx ÷
    // c_big)) via bin-string length — integer-only until the final
    // mean, so DuckDB reproduces it bit-for-bit with no ln() rounding
    // risk. Plan: ONE doc_id exchange builds bigrams (posexplode +
    // window lead), ONE w1 exchange carries BOTH count windows — the
    // (w1, w2) window's clustering requirement is satisfied by the w1
    // hash partitioning, so Catalyst inserts a sort, not a shuffle —
    // then the per-doc roll-up. Low avg_bits = predictable/templated
    // text, high = unusual token transitions; both tails get filtered.
    "text_bigram_lm" -> ((s, d) => {
      val wCtx = org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))
      val wBig = org.apache.spark.sql.expressions.Window.partitionBy(col("w1"), col("w2"))
      // bigram assembly via explode-of-start-positions + element_at (the
      // r14 shingleOccurrencesN shape): fully codegen, and the doc_id
      // window exchange + per-partition token sort the posexplode+lead
      // formulation paid are gone — the first exchange the query pays is
      // now the w1 hash partitioning that the count windows need anyway.
      val grams = Tables.fanout(Tables.documents(s, d))
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"), col("t"),
          explode(sequence(lit(1), size(col("t")) - 1)).as("p"))
        .select(col("doc_id"), element_at(col("t"), col("p")).as("w1"),
          element_at(col("t"), col("p") + 1).as("w2"))
      bitsPerDoc(grams
        .withColumn("c_ctx", count(lit(1)).over(wCtx))
        .withColumn("c_big", count(lit(1)).over(wBig))
        .withColumn("bits", (length(bin(expr("c_ctx div c_big"))) - 1).cast("long")),
        "n_bigrams")
    }),

    // Gopher-style repetition signals per document: duplicate word-2-gram
    // fraction and most-frequent-2-gram coverage — the self-repetition
    // filters (looping scrapes, keyword-stuffed spam) every LLM corpus
    // applies alongside [[qualityScore]]. Plan shape: posexplode → one
    // doc_id window (the only exchange whose key is new) → (doc,gram)
    // count → per-doc roll-up; the two aggregations reuse the window's
    // doc_id partitioning (subset-clustering), so the whole query is ONE
    // real exchange — per-doc cost is linear in doc length, corpus cost
    // one scan. Top gram selected by max(struct(cnt, gram)): count first,
    // lexicographically-last gram on ties — the identical total order
    // DuckDB's struct max applies, so the oracle agrees exactly.
    // RAKE keyword extraction (Rose et al. 2010, "Automatic Keyword
    // Extraction from Individual Documents"): candidate phrases are the
    // maximal stopword-free token runs; each word scores degree/freq
    // (degree = Σ phrase-length over its occurrences — words that travel
    // in long phrases rank up), a phrase scores the sum of its member
    // word scores, and the top-3 phrases per document are the keywords.
    // Scoring is integer-exact: word score is floor(degree·1e6 / freq)
    // and the phrase score a SUM of those integers — order-free at any
    // partitioning, no IEEE accumulation to diverge between engines.
    // Plan: the island key (running stopword count) needs ONE doc_id
    // exchange; the phrase-length count window, both aggs, the word-stat
    // join back, and the rank window all reuse that partitioning (doc_id
    // is a subset of every later key) — a second corpus-wide shuffle
    // never happens.
    // fanout was A/B-tested here (r15) and REVERTED: the scan stage
    // (tokenize + posexplode, 157 ms task-summed) is too light to buy
    // back the round-robin write of the full document texts from the
    // single scan task (steady 806-1021 → 976-1062 ms measured) — the
    // island-key exchange right after already parallelizes everything else
    "text_rake" -> ((s, d) => rakeOn(Tables.documents(s, d))),

    "text_repetition" -> ((s, d) => {
      // bigrams are formed IN ARRAY LAND (zip_with of the token array
      // against its own tail) and exploded — no posexplode + lead()
      // window, so no doc_id exchange-and-sort of every token row
      // before the gram counts; the first shuffle already carries
      // map-side-combined (doc_id, gram, cnt) partials
      val occ = Tables.fanout(Tables.documents(s, d))
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .select(col("doc_id"), explode(expr(
          "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1)," +
            " (a, b) -> concat(a, ' ', b))")).as("gram"))
      occ.groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_2grams"),
          count(lit(1)).as("n_distinct_2grams"),
          max(struct(col("cnt"), col("gram"))).as("top"))
        .select(col("doc_id"), col("n_2grams"), col("n_distinct_2grams"),
          (lit(1.0) - col("n_distinct_2grams").cast("double") / col("n_2grams"))
            .as("dup_2gram_frac"),
          col("top.gram").as("top_2gram"),
          col("top.cnt").as("top_2gram_count"),
          // token coverage of the top gram: 2 tokens per occurrence over
          // n_tokens = n_2grams + 1 (every doc here has ≥ 2 tokens)
          ((col("top.cnt") * 2).cast("double") / (col("n_2grams") + 1))
            .as("top_2gram_frac"))
        .orderBy(col("doc_id"))
    })
  )

  /** The RAKE fold over any (doc_id, text) frame — the `text_rake` query
    * runs it on the corpus; PropertiesSpec runs it against a driver-side
    * reference implementation on generated documents. */
  private[graft] def rakeOn(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val isStop = (c: Column) => c.isInCollection(stopEn)
    val kw = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("pid", sum(when(isStop(col("tok")), 1L).otherwise(0L)).over(byPos))
      .filter(!isStop(col("tok")))
    val withLen = kw.withColumn("plen",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"), col("pid"))))
    // word stats as WINDOWS over (doc_id, tok) — the doc_id exchange
    // already satisfies their distribution, and a groupBy + join-back
    // formulation would duplicate the whole corpus subtree (2 scans,
    // 2 island windows) just to look its own aggregate back up
    val byWord = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("tok"))
    val phrases = withLen
      .withColumn("degree", sum(col("plen")).over(byWord))
      .withColumn("freq", count(lit(1)).over(byWord))
      .withColumn("wscore_ppm", expr("degree * 1000000 div freq"))
      .groupBy(col("doc_id"), col("pid"))
      .agg(
        concat_ws(" ", transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok"))).as("phrase"),
        sum(col("wscore_ppm")).as("score_ppm"),
        count(lit(1)).as("n_words"))
    val byScore = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score_ppm").desc, col("phrase"), col("pid"))
    phrases.withColumn("rank", row_number().over(byScore).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("phrase"),
        col("score_ppm"), col("n_words"))
      .orderBy(col("doc_id"), col("rank"))
  }

  private val sqlToks = "string_split(lower(text), ' ')"
  private def sqlCountIn(words: Seq[String]): String =
    s"len(list_filter($sqlToks, t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))"

  /** SQL twin of [[docSimhash60]], computed from the tokens (the oracle
    * does not read the engine's fingerprint table): `sh(doc_id, simhash60)`,
    * bit p the sign of the p-th 60-bit md5 token-hash vote. */
  private val simhash60Ctes =
    """toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
      |hashed AS (
      |  SELECT doc_id,
      |    lpad(bin(CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT)), 60, '0') AS b
      |  FROM toks),
      |bits AS (
      |  SELECT doc_id, r.p,
      |    SUM(CASE WHEN substr(b, CAST(r.p AS INTEGER), 1) = '1' THEN 1 ELSE -1 END) AS sgn
      |  FROM hashed, range(1, 61) r(p) GROUP BY doc_id, r.p),
      |sh AS (
      |  SELECT doc_id,
      |    string_agg(CASE WHEN sgn > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS simhash60
      |  FROM bits GROUP BY doc_id)""".stripMargin

  /** SQL twin of [[bitsPerDoc]] over a `bits(doc_id, bits)` CTE. */
  private def bitsPerDocSql(n: String): String =
    s"""SELECT doc_id, COUNT(*) AS $n,
       |  CAST(SUM(bits) AS BIGINT) AS total_bits,
       |  CAST(SUM(bits) AS DOUBLE) / COUNT(*) AS avg_bits
       |FROM bits
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "text_stats" ->
      s"""SELECT doc_id,
         |  len($sqlToks) AS n_tokens,
         |  len(list_distinct($sqlToks)) AS n_distinct_tokens,
         |  CAST(list_sum(list_transform($sqlToks, t -> length(t))) AS DOUBLE) / len($sqlToks) AS avg_token_len,
         |  CAST(${sqlCountIn(stopEn)} AS DOUBLE) / len($sqlToks) AS stopword_ratio,
         |  len(regexp_extract_all(text, '$bpePat', 0)) AS n_bpe_tokens,
         |  length(text) AS len_chars
         |FROM documents
         |ORDER BY doc_id""".stripMargin,
    "text_readability" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    greatest(1, len(string_split(text, ' '))) AS n_words,
        |    greatest(1, length(text) - length(replace(text, '.', ''))) AS n_sentences,
        |    length(replace(text, ' ', '')) AS n_word_chars
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_word_chars,
        |  n_word_chars * 1000000 // n_words AS cpw_ppm,
        |  n_words * 1000000 // n_sentences AS wps_ppm
        |FROM base
        |ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      s"""SELECT doc_id, lang,
         |  ${sqlCountIn(stopEn)} AS score_en,
         |  ${sqlCountIn(stopEs)} AS score_es,
         |  ${sqlCountIn(stopDe)} AS score_de,
         |  CASE WHEN ${sqlCountIn(stopEn)} >= ${sqlCountIn(stopEs)} AND ${sqlCountIn(stopEn)} >= ${sqlCountIn(stopDe)} THEN 'en'
         |       WHEN ${sqlCountIn(stopEs)} >= ${sqlCountIn(stopDe)} THEN 'es'
         |       ELSE 'de' END AS predicted
         |FROM documents
         |ORDER BY doc_id""".stripMargin,
    "text_char_classes" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(LENGTH(text) AS BIGINT) AS n_chars,
        |    CAST(LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
        |    CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit,
        |    CAST(LENGTH(regexp_replace(text, '[^ ]', '', 'g')) AS BIGINT) AS n_space
        |  FROM documents WHERE LENGTH(text) > 0)
        |SELECT doc_id, n_chars, n_alpha, n_digit, n_space,
        |  n_chars - n_alpha - n_digit - n_space AS n_other,
        |  CAST(n_alpha * 1000000 // n_chars AS BIGINT) AS alpha_ppm,
        |  CAST((n_chars - n_alpha - n_digit - n_space) * 1000000 // n_chars AS BIGINT)
        |    AS other_ppm,
        |  (n_chars - n_alpha - n_digit - n_space) * 1000000 // n_chars > 400000 AS flagged
        |FROM c
        |ORDER BY doc_id""".stripMargin,
    "text_langid_confusion" ->
      s"""WITH pred AS (
         |  SELECT lang AS actual,
         |    CASE WHEN ${sqlCountIn(stopEn)} >= ${sqlCountIn(stopEs)} AND ${sqlCountIn(stopEn)} >= ${sqlCountIn(stopDe)} THEN 'en'
         |         WHEN ${sqlCountIn(stopEs)} >= ${sqlCountIn(stopDe)} THEN 'es'
         |         ELSE 'de' END AS predicted
         |  FROM documents),
         |cells AS (
         |  SELECT actual, predicted, COUNT(*) AS n_docs
         |  FROM pred GROUP BY 1, 2),
         |totals AS (
         |  SELECT actual, CAST(SUM(n_docs) AS BIGINT) AS n_actual
         |  FROM cells GROUP BY 1)
         |SELECT c.actual, c.predicted, c.n_docs,
         |  CAST(c.n_docs * 1000000 // t.n_actual AS BIGINT) AS share_ppm
         |FROM cells c JOIN totals t ON t.actual = c.actual
         |ORDER BY c.actual, c.predicted""".stripMargin,
    "text_quality" ->
      s"""WITH base AS (
         |  SELECT doc_id,
         |    len($sqlToks) AS n_tokens,
         |    CAST(${sqlCountIn(stopEn)} AS DOUBLE) / len($sqlToks) AS stop_ratio,
         |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]', 0)) AS DOUBLE) / length(text) AS punct_ratio,
         |    CAST(len(regexp_extract_all(text, '[0-9]', 0)) AS DOUBLE) / length(text) AS digit_ratio
         |  FROM documents)
         |SELECT doc_id, n_tokens, stop_ratio, punct_ratio, digit_ratio,
         |  0.4 * least(stop_ratio * 5.0, 1.0)
         |    + 0.3 * greatest(0.0, 1.0 - punct_ratio * 5.0)
         |    + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) AS quality,
         |  (0.4 * least(stop_ratio * 5.0, 1.0)
         |    + 0.3 * greatest(0.0, 1.0 - punct_ratio * 5.0)
         |    + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)) >= 0.5
         |    AND n_tokens >= 10 AS keep
         |FROM base
         |ORDER BY doc_id""".stripMargin,
    "text_vocab" ->
      s"""SELECT token, COUNT(*) AS n_occur, COUNT(DISTINCT doc_id) AS n_docs
         |FROM (SELECT doc_id, unnest($sqlToks) AS token FROM documents)
         |GROUP BY token
         |ORDER BY n_occur DESC, token
         |LIMIT 50""".stripMargin,
    "text_tfidf" ->
      s"""WITH toks AS (
         |  SELECT doc_id, len($sqlToks) AS doc_len, unnest($sqlToks) AS token
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, doc_len, token, COUNT(*) AS tf
         |  FROM toks GROUP BY 1, 2, 3),
         |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
         |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         |    (CAST(tf.tf AS DOUBLE) / tf.doc_len) * (CAST(nd.n_docs AS DOUBLE) / df.df) AS score
         |  FROM tf JOIN df USING (token), nd),
         |ranked AS (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, token) AS BIGINT) AS rn
         |  FROM scored)
         |SELECT doc_id, token, tf, df, score, rn
         |FROM ranked WHERE rn <= 5
         |ORDER BY doc_id, rn""".stripMargin,
    "text_winnowing" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok,
        |    generate_subscripts(string_split(lower(text), ' '), 1) AS pos
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, pos,
        |    md5(tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w) AS h,
        |    lead(tok, 2) OVER w AS t2
        |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |hashed AS (SELECT doc_id, pos, h FROM sh WHERE t2 IS NOT NULL),
        |wins AS (
        |  SELECT doc_id,
        |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |    lead(h, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS fullw
        |  FROM hashed)
        |SELECT DISTINCT doc_id, fp FROM wins WHERE fullw IS NOT NULL
        |ORDER BY doc_id, fp""".stripMargin,
    "text_fingerprint" ->
      (s"WITH $simhash60Ctes\n" +
        """SELECT d.doc_id,
          |  md5(regexp_replace(lower(d.text), '\s+', ' ', 'g')) AS md5_norm,
          |  sh.simhash60
          |FROM documents d JOIN sh ON d.doc_id = sh.doc_id
          |ORDER BY d.doc_id""".stripMargin),
    "text_simhash_bit_balance" ->
      s"""WITH $simhash60Ctes
        |SELECT CAST(r.p AS BIGINT) AS bit_pos, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN substr(simhash60, CAST(r.p AS INTEGER), 1) = '1'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_ones,
        |  CAST(SUM(CASE WHEN substr(simhash60, CAST(r.p AS INTEGER), 1) = '1'
        |    THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS ones_ppm,
        |  abs(SUM(CASE WHEN substr(simhash60, CAST(r.p AS INTEGER), 1) = '1'
        |    THEN 1 ELSE 0 END) * 1000000 // COUNT(*) - 500000) > 300000 AS skewed
        |FROM sh, range(1, 61) r(p)
        |GROUP BY r.p
        |ORDER BY bit_pos""".stripMargin,
    "text_surprisal" ->
      ("""WITH occ AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
        |tot AS (SELECT COUNT(*) AS total_toks FROM occ),
        |wf AS (
        |  SELECT doc_id, COUNT(*) OVER (PARTITION BY tok) AS freq FROM occ),
        |bits AS (
        |  SELECT doc_id,
        |    CAST(length(bin(total_toks // freq)) - 1 AS BIGINT) AS bits
        |  FROM wf CROSS JOIN tot)
        |""".stripMargin + bitsPerDocSql("n_tokens")),
    "text_bigram_lm" ->
      ("""WITH occ AS (
        |  SELECT doc_id, unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS gram
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)),
        |w AS (
        |  SELECT doc_id,
        |    COUNT(*) OVER (PARTITION BY string_split(gram, ' ')[1]) AS c_ctx,
        |    COUNT(*) OVER (PARTITION BY gram) AS c_big
        |  FROM occ),
        |bits AS (
        |  SELECT doc_id, CAST(length(bin(c_ctx // c_big)) - 1 AS BIGINT) AS bits FROM w)
        |""".stripMargin + bitsPerDocSql("n_bigrams")),
    "text_rake" -> {
      val stops = stopEn.map(w => s"'$w'").mkString(", ")
      s"""WITH base AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
         |tok0 AS (
         |  SELECT doc_id, u['pos'] AS pos, u['tok'] AS tok
         |  FROM (SELECT doc_id,
         |          unnest([{'pos': i, 'tok': t[i]} for i in range(1, len(t)+1)]) AS u
         |        FROM base)),
         |tok AS (
         |  SELECT doc_id, pos, tok,
         |    SUM(CASE WHEN tok IN ($stops) THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos) AS pid
         |  FROM tok0),
         |wl AS (
         |  SELECT *, COUNT(*) OVER (PARTITION BY doc_id, pid) AS plen
         |  FROM tok WHERE tok NOT IN ($stops)),
         |ws AS (
         |  SELECT doc_id, tok, SUM(plen) * 1000000 // COUNT(*) AS wscore_ppm
         |  FROM wl GROUP BY 1, 2),
         |ph AS (
         |  SELECT w.doc_id, w.pid,
         |    string_agg(w.tok, ' ' ORDER BY w.pos) AS phrase,
         |    CAST(SUM(s.wscore_ppm) AS BIGINT) AS score_ppm,
         |    COUNT(*) AS n_words
         |  FROM wl w JOIN ws s ON s.doc_id = w.doc_id AND s.tok = w.tok
         |  GROUP BY 1, 2)
         |SELECT doc_id, CAST(rank AS BIGINT) AS rank, phrase, score_ppm, n_words
         |FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY doc_id ORDER BY score_ppm DESC, phrase, pid) AS rank
         |  FROM ph)
         |WHERE rank <= 3
         |ORDER BY doc_id, rank""".stripMargin
    },
    // cnts is MATERIALIZED and the per-doc top gram comes from a window
    // (cnt DESC, gram DESC ≡ max-struct order), NOT max({'cnt','gram'}):
    // projecting fields out of a struct-max over the inlined unnest
    // pipeline made DuckDB balloon past the gate box's RAM at the 100×
    // corpus (the COUNT(*)-pruned same query runs in 3 s), while the
    // windowed form spills like any sort. Tie-break identical: highest
    // cnt, then lexicographically largest gram.
    "text_repetition" ->
      """WITH occ AS (
        |  SELECT doc_id, unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS gram
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)),
        |cnts AS MATERIALIZED (
        |  SELECT doc_id, gram, COUNT(*) AS cnt FROM occ GROUP BY doc_id, gram),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(SUM(cnt) AS BIGINT) AS n_2grams,
        |    COUNT(*) AS n_distinct_2grams
        |  FROM cnts GROUP BY doc_id),
        |top AS (
        |  SELECT doc_id, gram, cnt FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn
        |    FROM cnts)
        |  WHERE rn = 1)
        |SELECT agg.doc_id, n_2grams, n_distinct_2grams,
        |  1.0 - CAST(n_distinct_2grams AS DOUBLE) / n_2grams AS dup_2gram_frac,
        |  top.gram AS top_2gram,
        |  top.cnt AS top_2gram_count,
        |  CAST(top.cnt * 2 AS DOUBLE) / (n_2grams + 1) AS top_2gram_frac
        |FROM agg JOIN top ON top.doc_id = agg.doc_id
        |ORDER BY agg.doc_id""".stripMargin
  )
}
