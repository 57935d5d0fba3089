package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads as opaque `binary`
  * columns with typed metadata (BASELINE.json north star).
  *
  * The container has no image/audio codecs, so the DECODE step is a
  * deterministic fake behind [[BinaryDecoder]] — but the Spark-side plumbing
  * (schema, batch shape, partition-local decoding via mapPartitions, typed
  * output) is real and tested. In production you swap [[FakeDecoder]] for a
  * JNI/codec-backed implementation; nothing else changes.
  *
  * Scale notes: decode runs per partition (one decoder instance per task,
  * amortized init), the binary column is never shuffled — metadata is
  * projected out first and only the narrow typed columns move. That is the
  * 100 TB rule for multimodal data: bytes stay where they were read.
  */
object Multimodal {

  /** Decoded media metadata — what a real image decoder would yield. */
  final case class MediaMeta(width: Int, height: Int, format: String, nBytes: Long)

  /** The seam for real codecs. Implementations MUST be deterministic per
    * byte-array input (task retries re-decode). */
  trait BinaryDecoder extends Serializable {
    def decode(bytes: Array[Byte]): MediaMeta
  }

  /** Deterministic stand-in: derives metadata purely from the bytes.
    * Arithmetic is done in Long: `n * 31` overflows Int for payloads
    * ≥ ~69 MB, which would yield a negative height and diverge from the
    * BIGINT-computed oracle. */
  object FakeDecoder extends BinaryDecoder {
    def decode(bytes: Array[Byte]): MediaMeta = {
      val n = bytes.length
      val w = 64 + (n % 577)
      val h = 64 + ((n.toLong * 31) % 433).toInt
      val fmt = if (n % 3 == 0) "png" else if (n % 3 == 1) "jpeg" else "webp"
      MediaMeta(w, h, fmt, n.toLong)
    }
  }

  /** Every document's UTF-8 text bytes as its media `payload`: the
    * (doc_id, payload) stand-in corpus the decode, frame and embedding
    * queries read. */
  private def payloads(s: SparkSession, d: String): DataFrame =
    graft.sources.Tables.documents(s, d)
      .select(col("doc_id"), to_binary(col("text"), lit("utf-8")).as("payload"))

  private val metaSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("format", StringType),
    StructField("n_bytes", LongType)))

  /** Partition-local decode: (id, payload binary) → typed metadata rows.
    * mapPartitions (not a per-row UDF) so a real decoder's init cost is paid
    * once per task and batches stay contiguous. */
  def decodeMeta(df: DataFrame, decoder: BinaryDecoder = FakeDecoder): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(metaSchema)
    df.select(col("doc_id").cast("long"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val m = decoder.decode(r.getAs[Array[Byte]]("payload"))
          Row(r.getLong(0), m.width, m.height, m.format, m.nBytes)
        }
      }(enc)
  }

  private val frameSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("frame_idx", IntegerType),
    StructField("frame_ts_ms", LongType),
    StructField("frame_sig", LongType)))

  val MaxFrames = 8

  /** Frame sampling: (id, payload) → one row per sampled frame, generated
    * partition-locally (a real implementation seeks container keyframes;
    * the deterministic fake derives frame count and per-frame signature
    * from the byte length — Long arithmetic throughout, mirroring the
    * BIGINT oracle). The flatMap-over-partitions shape is the executor-side
    * generator a video pipeline needs: frames never round-trip through the
    * driver, and the payload is read once per task. */
  def sampleFrames(df: DataFrame, maxFrames: Int = MaxFrames): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(frameSchema)
    df.select(col("doc_id").cast("long"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val n = r.getAs[Array[Byte]]("payload").length.toLong
          val k = (1 + n % maxFrames).toInt
          (0 until k).iterator.map { i =>
            Row(r.getLong(0), i, i * 40L, (n * 1000003L + i * 7919L) % 1000000007L)
          }
        }
      }(enc)
  }

  private val embedSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("e0", DoubleType), StructField("e1", DoubleType),
    StructField("e2", DoubleType), StructField("e3", DoubleType)))

  /** Micro-batch size for [[embedBatched]] — a real model server/GPU is
    * fed fixed-size batches; the knob trades per-call overhead against
    * batch latency and device memory. */
  val EmbedBatch = 32

  /** Batched embedding inference over binary payloads — the model-serving
    * seam: one "model" per task (init amortized like [[decodeMeta]]'s
    * decoder), payloads served in [[EmbedBatch]]-sized micro-batches via
    * `grouped()`, exactly the shape a GPU embedder needs (swap the md5
    * stand-in for an ONNX/JNI session and ONLY the inner function
    * changes). Output must be a pure function of the bytes — batch
    * boundaries and partitioning shift under AQE/retries, so nothing
    * batch-dependent may leak into the result (asserted by the
    * repartition-invariance test). */
  def embedBatched(df: DataFrame, batch: Int = EmbedBatch): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(embedSchema)
    df.select(col("doc_id").cast("long"), col("payload"))
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5") // per-task init
        rows.grouped(batch).flatMap { b =>
          b.iterator.map { r =>
            val hex = md.digest(r.getAs[Array[Byte]]("payload"))
              .map(x => f"$x%02x").mkString
            def dim(i: Int): Double =
              Integer.parseInt(hex.substring(i * 4, i * 4 + 4), 16) / 65536.0
            Row(r.getLong(0), dim(0), dim(1), dim(2), dim(3))
          }
        }
      }(enc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // batched inference as a first-class oracle query: the md5 stand-in
    // model runs partition-local in fixed micro-batches; the oracle
    // reproduces its arithmetic (md5 hex quarters / 2^16) in SQL. The
    // embeddings land as narrow typed columns — the payload bytes never
    // shuffle, the 100 TB rule for running any model over a media corpus.
    "binary_embed" -> ((s, d) =>
      Relational.sortedOnce(
        embedBatched(payloads(s, d)),
        col("doc_id"))),

    // binary-column metadata over documents-as-payloads: the SQL-expressible
    // half of the multimodal surface (encode → binary, length, sha2 digest).
    // Content-addressed media dedup — the first stage of any multimodal
    // pipeline: identical BYTES under different ids (the same image
    // re-crawled from mirrors) collapse on (sha256, n_bytes) before any
    // expensive decode or perceptual pass runs. One key-hash aggregation
    // (dedup_exact's shape on the binary surface); the payload itself
    // never shuffles — only the 32-byte digest and the keeper id move.
    // At 100 TB this is why decode cost scales with UNIQUE media, not
    // crawled media. The query emits the full content-address map (every
    // digest, its keeper, its copy count) — that map IS the artifact a
    // media pipeline persists: decode/embed stages join it and process
    // keepers only. (This synthetic corpus happens to be collision-free,
    // so n_copies = 1 throughout — the map is still the contract, and
    // the spec asserts its invariants hold for any input.)
    "binary_dedup" -> ((s, d) =>
      graft.sources.Tables.documents(s, d)
        .select(col("doc_id"),
          sha2(col("text").cast("binary"), 256).as("sha256"),
          octet_length(to_binary(col("text"), lit("utf-8"))).cast("long").as("n_bytes"))
        .groupBy(col("sha256"), col("n_bytes"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("sha256"))),

    // Media admission manifest — the multimodal counterpart of
    // corpus_manifest: decoded metadata ∧ content-addressed canonical
    // keeper ∧ size/dimension policy composed into ONE verdict row per
    // media object, each stage the same code its standalone query runs
    // (decodeMeta's partition-local decode, binary_dedup's keeper map).
    // Only (doc_id, sha256) digests and narrow typed metadata ever
    // shuffle — payloads stay in the partition-local decode, exactly the
    // property that makes this composable at 100 TB of media.
    "binary_manifest" -> ((s, d) => {
      val docs = graft.sources.Tables.documents(s, d)
        .select(col("doc_id"),
          to_binary(col("text"), lit("utf-8")).as("payload"),
          sha2(col("text").cast("binary"), 256).as("sha256"))
      val meta = decodeMeta(docs.select(col("doc_id"), col("payload")))
      val keepers = docs.groupBy(col("sha256")).agg(min(col("doc_id")).as("keep_id"))
      meta.join(docs.select(col("doc_id"), col("sha256")), Seq("doc_id"))
        .join(keepers, Seq("sha256"))
        .withColumn("is_canonical", col("doc_id") === col("keep_id"))
        .withColumn("size_ok", col("n_bytes") <= 1024L)
        .withColumn("dims_ok", col("width") >= 100 && col("height") >= 100)
        .withColumn("admitted",
          col("is_canonical") && col("size_ok") && col("dims_ok"))
        .select(col("doc_id"), col("sha256"), col("width"), col("height"),
          col("format"), col("n_bytes"), col("is_canonical"), col("size_ok"),
          col("dims_ok"), col("admitted"))
        .orderBy(col("doc_id"))
    }),

    "binary_meta" -> ((s, d) =>
      Relational.sortedOnce(graft.sources.Tables.documents(s, d)
        .select(
          col("doc_id"),
          octet_length(to_binary(col("text"), lit("utf-8"))).cast("long").as("n_bytes"),
          sha2(col("text").cast("binary"), 256).as("sha256"),
          substring(hex(col("text").cast("binary")), 1, 8).as("magic")),
        col("doc_id"))),

    // the mapPartitions decode path as a first-class oracle query: payloads
    // synthesized from text bytes, decoded partition-locally by the
    // deterministic [[FakeDecoder]]; the oracle reproduces the decoder's
    // byte-length arithmetic in SQL. Proves the executor-side plumbing
    // (schema, encoder, batching) — swap the decoder for a codec and the
    // query is a real image-metadata extractor.
    "binary_decode" -> ((s, d) =>
      Relational.sortedOnce(
        decodeMeta(payloads(s, d)),
        col("doc_id"))),

    // frame sampling as a first-class oracle query: one row per sampled
    // frame, generated executor-side (mapPartitions flatMap — the
    // generator shape). The oracle reproduces the fake sampler's BIGINT
    // arithmetic with a bounded range join.
    "binary_frames" -> ((s, d) =>
      Relational.sortedOnce(
        sampleFrames(payloads(s, d)),
        col("doc_id"), col("frame_idx"))),

    // aspect-fit resize planning over decoded metadata: target box 224×224,
    // integer arithmetic only (floats would round differently per engine).
    // The decode runs partition-local; the resize math is a pure projection
    // on the narrow typed columns — bytes never move.
    "binary_resize" -> ((s, d) =>
      Relational.sortedOnce(
        decodeMeta(payloads(s, d))
          .withColumn("fit_w",
            greatest(lit(1L), expr("(width * 224) div greatest(width, height)")))
          .withColumn("fit_h",
            greatest(lit(1L), expr("(height * 224) div greatest(width, height)")))
          .select(col("doc_id"), col("width"), col("height"), col("fit_w"), col("fit_h")),
        col("doc_id")))
  ,

    // Perceptual-hash near-dup for media — the fuzzy second stage after
    // binary_dedup's exact content addressing: re-encoded variants of
    // the same image (format/quality churn) land at NEARBY phashes, not
    // identical bytes. The phash here is the deterministic stand-in
    // (md5 of the variant GROUP, with per-variant bit flips — the same
    // fake-decoder contract as decodeMeta: fake signal, REAL plumbing),
    // and the plumbing is the exact dedup_simhash discipline: band the
    // 60-bit hash 4×15 (pigeonhole-exact at Hamming ≤ 3), cap buckets
    // (Dedup.MaxBucketSize), pair only within buckets — candidates are
    // bucket-bounded, never n². Payload bytes never shuffle; only the
    // 8-byte phash does. Swap the phash column for a real DCT phash
    // from the decode stage and nothing else changes.
    "binary_phash" -> ((s, d) =>
      phashPairs(s, d).orderBy(col("id1"), col("id2"))),

    // Media near-dup CLUSTERS — the component roll-up over the phash pair
    // graph, completing the media path with the same machinery the text
    // near-dups get (dedup_clusters): the generic component labeling
    // ([[Dedup.componentLabels]]) over the memoized pair graph, then one tiny label-keyed agg. cluster_id is the component's
    // min doc_id — the canonical keeper by the suite's convention. The
    // label table is pair-graph-sized (KBs), never corpus-sized.
    "binary_phash_clusters" -> ((s, d) =>
      phashClusterLabels(s, d)
        .groupBy(col("lbl"))
        .agg(count(lit(1)).as("n_items"))
        .select(col("lbl").as("cluster_id"), col("n_items"))
        .orderBy(col("cluster_id"))))

  /** Memoized media component labels over [[phashPairs]] — like
    * [[Dedup.clusterLabels]], a production pipeline persists the label
    * table once per snapshot; the labeling's job overhead belongs to the
    * index build, not every reader. One [[Dedup.componentLabels]] build
    * over every pair; `binary_phash_clusters`' oracle labels from
    * scratch too. */
  private[graft] def phashClusterLabels(s: SparkSession, d: String): DataFrame =
    graft.Memo("phash_labels", s, d)(
      Dedup.componentLabels(phashPairs(s, d).select(col("id1"), col("id2"))))

  /** Banded phash candidate pairs (id1 < id2, hamming ≤ MaxHamming) —
    * the body of `binary_phash` sans sort, shared with
    * `binary_phash_clusters`. Memoized ([[graft.Memo]]) and
    * checkpointed like every other pair memo: a production media pipeline
    * persists the pair graph once per snapshot, so its readers scan it
    * instead of re-running the band window and bucket aggregation. */
  private[operators] def phashPairs(s: SparkSession, d: String): DataFrame =
    graft.Memo("phash_pairs", s, d) {
      val bands = Dedup.SimhashBands
      val bandBits = Dedup.SimhashBandBits
      val ph = graft.sources.Tables.documents(s, d).select(col("doc_id"),
        expr(
          "CAST(conv(substring(md5(concat('img', CAST(doc_id DIV 4 AS STRING))), 1, 15), 16, 10) AS BIGINT) ^ " +
            "(CASE WHEN doc_id % 3 >= 1 THEN shiftleft(CAST(1 AS BIGINT), CAST((doc_id * 13) % 60 AS INT)) ELSE CAST(0 AS BIGINT) END | " +
            " CASE WHEN doc_id % 3 >= 2 THEN shiftleft(CAST(1 AS BIGINT), CAST((doc_id * 29) % 60 AS INT)) ELSE CAST(0 AS BIGINT) END)"
        ).as("ph"))
      val banded = ph.select(col("doc_id"), col("ph"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col("ph"), b * bandBits).bitwiseAND(lit((1L << bandBits) - 1))): _*)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")
      Dedup.bucketPairs(Dedup.capBuckets(banded, Dedup.MaxBucketSize, "band", "chunk"),
          struct(col("doc_id"), col("ph")), "band", "chunk")
        .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"),
          bit_count(col("x.ph").bitwiseXOR(col("y.ph"))).cast("long").as("hamming"))
        .filter(col("hamming") <= Dedup.MaxHamming)
        .distinct()
        .localCheckpoint()
    }

  /** Shared DuckDB CTE chain ending in `pp_pairs(id1, id2, hamming)` —
    * the banded phash candidate pairs, mirroring [[phashPairs]]. Composed
    * by concatenation (never stripMargin over embedded SQL). */
  private def phashPairCtes: String =
    s"""ph AS (
       |  SELECT doc_id,
       |    xor(CAST(('0x' || substr(md5('img' || CAST(doc_id // 4 AS VARCHAR)), 1, 15)) AS BIGINT),
       |        CASE WHEN doc_id % 3 >= 1 THEN CAST(1 AS BIGINT) << CAST((doc_id * 13) % 60 AS INTEGER) ELSE 0 END |
       |        CASE WHEN doc_id % 3 >= 2 THEN CAST(1 AS BIGINT) << CAST((doc_id * 29) % 60 AS INTEGER) ELSE 0 END) AS ph
       |  FROM documents),
       |banded0 AS (
       |  SELECT doc_id, ph, b, (ph >> CAST(b * ${Dedup.SimhashBandBits} AS INTEGER)) & ${(1 << Dedup.SimhashBandBits) - 1} AS chunk
       |  FROM ph, range(0, ${Dedup.SimhashBands}) r(b)),
       |""".stripMargin +
      Dedup.cappedSql("banded", "doc_id, ph, b, chunk", "b, chunk", "banded0") + ",\n" +
      "pp_pairs AS (\n" +
      "  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,\n" +
      "    CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming\n" +
      s"  ${Dedup.pairsSql("banded", "doc_id", "b", "chunk")}\n" +
      s"  WHERE bit_count(xor(a.ph, b.ph)) <= ${Dedup.MaxHamming})"

  /** SQL twin of [[decodeMeta]] with [[FakeDecoder]]: per document, `cols`
    * then the decoded header (width, height, format, n_bytes) of its UTF-8
    * bytes. */
  private def decodedSql(cols: String): String =
    s"""SELECT $cols,
       |  CAST(64 + n % 577 AS INTEGER) AS width,
       |  CAST(64 + (n * 31) % 433 AS INTEGER) AS height,
       |  CASE WHEN n % 3 = 0 THEN 'png' WHEN n % 3 = 1 THEN 'jpeg'
       |       ELSE 'webp' END AS format,
       |  CAST(n AS BIGINT) AS n_bytes
       |FROM (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents)""".stripMargin

  val oracle: Map[String, String] = Map(
    "binary_phash" ->
      (s"WITH $phashPairCtes\n" +
        "SELECT id1, id2, hamming FROM pp_pairs\n" +
        "ORDER BY id1, id2"),
    // unrolled rounds, not a recursive closure (Dedup.ccRoundsCtes)
    "binary_phash_clusters" ->
      (s"WITH $phashPairCtes,\n" +
        "edges AS MATERIALIZED (\n" +
        "  SELECT id1 AS src, id2 AS dst FROM pp_pairs\n" +
        "  UNION ALL\n" +
        "  SELECT id2, id1 FROM pp_pairs),\n" +
        graft.operators.Dedup.ccRoundsCtes("edges", "m") + ",\n" +
        "labels AS (\n  SELECT node, lbl AS cluster_id FROM mlfinal)\n" +
        "SELECT cluster_id, COUNT(*) AS n_items FROM labels\n" +
        "GROUP BY 1\n" +
        "ORDER BY cluster_id"),
    "binary_embed" ->
      """SELECT doc_id,
        |  CAST(('0x' || substr(h, 1, 4)) AS INTEGER) / 65536.0 AS e0,
        |  CAST(('0x' || substr(h, 5, 4)) AS INTEGER) / 65536.0 AS e1,
        |  CAST(('0x' || substr(h, 9, 4)) AS INTEGER) / 65536.0 AS e2,
        |  CAST(('0x' || substr(h, 13, 4)) AS INTEGER) / 65536.0 AS e3
        |FROM (SELECT doc_id, md5(text) AS h FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "binary_manifest" ->
      s"""WITH m AS (${decodedSql("doc_id, sha256(text) AS sha256")}),
        |k AS (SELECT sha256, MIN(doc_id) AS keep_id FROM m GROUP BY sha256)
        |SELECT m.doc_id, m.sha256, m.width, m.height, m.format, m.n_bytes,
        |  m.doc_id = k.keep_id AS is_canonical,
        |  m.n_bytes <= 1024 AS size_ok,
        |  m.width >= 100 AND m.height >= 100 AS dims_ok,
        |  m.doc_id = k.keep_id AND m.n_bytes <= 1024
        |    AND m.width >= 100 AND m.height >= 100 AS admitted
        |FROM m JOIN k ON k.sha256 = m.sha256
        |ORDER BY m.doc_id""".stripMargin,
    "binary_dedup" ->
      """SELECT sha256(text) AS sha256,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY 1, 2
        |ORDER BY sha256""".stripMargin,
    "binary_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS sha256,
        |  upper(substr(hex(encode(text)), 1, 8)) AS magic
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "binary_decode" -> (decodedSql("doc_id") + "\nORDER BY doc_id"),
    "binary_frames" ->
      s"""SELECT doc_id, CAST(r.i AS INTEGER) AS frame_idx,
         |  CAST(r.i * 40 AS BIGINT) AS frame_ts_ms,
         |  CAST((n * 1000003 + r.i * 7919) % 1000000007 AS BIGINT) AS frame_sig
         |FROM (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n
         |      FROM documents), range(0, $MaxFrames) r(i)
         |WHERE r.i < 1 + n % $MaxFrames
         |ORDER BY doc_id, frame_idx""".stripMargin,
    "binary_resize" ->
      s"""WITH meta AS (${decodedSql("doc_id")})
        |SELECT doc_id, width, height,
        |  greatest(1, CAST((width * 224) // greatest(width, height) AS BIGINT)) AS fit_w,
        |  greatest(1, CAST((height * 224) // greatest(width, height) AS BIGINT)) AS fit_h
        |FROM meta
        |ORDER BY doc_id""".stripMargin
  )
}
