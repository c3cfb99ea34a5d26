package graft.operators

import graft.G
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (BASELINE north-star): images/audio/video as
  * opaque `binary` columns with typed metadata, decoded/feature-extracted in
  * batched partition passes.
  *
  * The container has no image/audio codecs, so the DECODE STEP IS A STUB —
  * `fakeDecode` below derives deterministic "metadata" purely from the byte
  * payload (clearly marked). Everything around it is the real Spark-side
  * plumbing that matters at 100 TB:
  *  - schema: `media: binary` + `media_meta: struct<format,width,height,n_bytes>`
  *  - per-row derivation is a codegen'd projection (no UDF where builtins do)
  *  - the feature-extraction pass uses `mapPartitions` over an iterator —
  *    the Scala analogue of `mapInPandas`: batch-at-a-time, constant memory,
  *    model/codec handles initialized once per partition, never per row
  *  - binary payloads stay columnar in parquet; metadata predicates
  *    (width/format filters) push down without touching the blob column
  *    thanks to parquet column pruning.
  */
object Multimodal {

  /** Attach a binary media column to documents (utf-8 bytes of the text
    * stand in for the image payload) plus typed metadata.
    * STUB: width/height are deterministic fakes derived from byte length —
    * a real deployment replaces `fakeDecode*` with a codec call. */
  def withMedia(spark: SparkSession, dir: String): DataFrame =
    G.table(spark, dir, "documents")
      .withColumn("media", encode(col("text"), "utf-8"))
      .withColumn("media_meta", struct(
        // STUB fake-decode: deterministic functions of payload size/source
        when(col("source").substr(4, 1).cast("int") % 2 === 0, "png")
          .otherwise("jpeg").as("format"),
        (octet_length(col("media")) % 640 + 1).as("width"),
        (octet_length(col("media")) % 480 + 1).as("height"),
        octet_length(col("media")).as("n_bytes")))

  /** Metadata projection + predicate over the typed struct — the query
    * pattern (filter on metadata, never decode the blob). Oracle-checked:
    * the fake decode is pure arithmetic on byte length. */
  def mediaMetadata(spark: SparkSession, dir: String): DataFrame =
    withMedia(spark, dir)
      .filter(col("media_meta.n_bytes") >= 50)
      .select(col("doc_id"),
        col("media_meta.format").as("format"),
        col("media_meta.width").as("width"),
        col("media_meta.height").as("height"),
        col("media_meta.n_bytes").as("n_bytes"))
      .orderBy(col("doc_id"))

  val mediaMetadataSql: String =
    """SELECT doc_id,
      |  CASE WHEN CAST(substr(source, 4, 1) AS INT) % 2 = 0
      |       THEN 'png' ELSE 'jpeg' END AS format,
      |  strlen(text) % 640 + 1 AS width,
      |  strlen(text) % 480 + 1 AS height,
      |  strlen(text) AS n_bytes
      |FROM documents
      |WHERE strlen(text) >= 50
      |ORDER BY doc_id""".stripMargin

  /** Batched feature extraction over the binary column — the `mapInPandas`
    * analogue. Iterator-to-iterator (constant memory per partition); the
    * per-partition `init` block is where a real impl loads a codec/model
    * once. STUB: the "feature vector" is a deterministic 8-dim byte
    * histogram projection; a real deployment decodes pixels here (`???`
    * deliberately avoided so the pipeline stays runnable end-to-end).
    * Output is SCALAR columns f0..f7 (not array<double>): the driver's
    * pandas compare sorts rows and numpy arrays are unhashable there —
    * and scalars make the result oracle-checkable bit-exact (each f_i is
    * count_i/n, identical integer-over-integer double division in DuckDB). */
  def extractFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withMedia(spark, dir)
      .select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init (real impl: open codec / load model weights here)
        it.map { case (id, bytes) =>
          val h = featureHistogram(bytes)
          (id, bytes.length.toLong,
            h(0), h(1), h(2), h(3), h(4), h(5), h(6), h(7))
        }
      }.toDF("doc_id", "n_bytes", "f0", "f1", "f2", "f3", "f4", "f5", "f6", "f7")
      .orderBy(col("doc_id"))
  }

  /** The 8-bucket normalized byte histogram (internal; array-returning
    * variant kept for vector consumers — the q_m2 query emits scalars). */
  private[graft] def featureHistogram(bytes: Array[Byte]): Array[Double] = {
    val hist = new Array[Double](8)
    var i = 0
    while (i < bytes.length) {
      hist((bytes(i) & 0xff) % 8) += 1.0
      i += 1
    }
    val n = math.max(bytes.length, 1).toDouble
    var b = 0
    while (b < 8) { hist(b) /= n; b += 1 }
    hist
  }

  /** Oracle: true byte-level histogram — DuckDB reaches the utf-8 bytes via
    * `hex(encode(text))` two-hex-digit extraction, so this stays exact even
    * for non-ASCII payloads (unlike codepoint approximations). */
  val extractFeaturesSql: String = {
    val fs = (0 until 8).map(b =>
      s"  CAST(len(list_filter(bks, x -> x = $b)) AS DOUBLE) / greatest(n_bytes, 1) AS f$b")
      .mkString(",\n")
    s"""WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
       |             octet_length(encode(text)) AS n_bytes FROM documents),
       |b AS (SELECT doc_id, n_bytes,
       |        list_transform(range(0, n_bytes),
       |          i -> ('0x' || substr(hx, CAST(2*i+1 AS INT), 2))::INT % 8) AS bks
       |      FROM h)
       |SELECT doc_id, n_bytes,
       |$fs
       |FROM b ORDER BY doc_id""".stripMargin
  }

  /** Batched "resize" over the binary column — the remaining multimodal
    * stage from the north-star list (decode / features / RESIZE / frames).
    * STUB resample: keep every 2nd byte (a real impl does pixel-space
    * resampling after decode); the REAL part is the plumbing — an
    * iterator-to-iterator partition pass producing a new binary column plus
    * transformed metadata, blob in and blob out staying columnar. The
    * output carries `hex(resized)` so the oracle can rebuild the exact
    * bytes from DuckDB's `hex(encode(text))` and compare bit-for-bit. */
  def resize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withMedia(spark, dir)
      .select(col("doc_id"), col("media"),
        col("media_meta.width").as("w"), col("media_meta.height").as("h"))
      .as[(Long, Array[Byte], Long, Long)]
      .mapPartitions { it =>
        // per-partition init (real impl: codec handle once, not per row)
        it.map { case (id, bytes, w, h) =>
          val resized = new Array[Byte]((bytes.length + 1) / 2)
          var i = 0
          while (i < resized.length) { resized(i) = bytes(2 * i); i += 1 }
          (id, bytes.length.toLong, resized.length.toLong,
            (w + 1) / 2, (h + 1) / 2, resized)
        }
      }
      .toDF("doc_id", "orig_bytes", "new_bytes", "new_width", "new_height",
        "resized")
      .select(col("doc_id"), col("orig_bytes"), col("new_bytes"),
        col("new_width"), col("new_height"),
        hex(col("resized")).as("resized_hex"))
      .orderBy(col("doc_id"))
  }

  val resizeSql: String =
    """WITH m AS (
      |  SELECT doc_id, hex(encode(text)) AS hx,
      |    octet_length(encode(text)) AS n FROM documents)
      |SELECT doc_id, CAST(n AS BIGINT) AS orig_bytes,
      |  CAST((n + 1) // 2 AS BIGINT) AS new_bytes,
      |  CAST(((n % 640 + 1) + 1) // 2 AS BIGINT) AS new_width,
      |  CAST(((n % 480 + 1) + 1) // 2 AS BIGINT) AS new_height,
      |  array_to_string(list_transform(range(0, (n + 1) // 2),
      |    i -> substr(hx, CAST(4 * i + 1 AS INT), 2)), '') AS resized_hex
      |FROM m ORDER BY doc_id""".stripMargin

  /** Frame-sampling shape: one row per sampled "frame" (every 256-byte
    * block stands in for a video frame) — the explode-with-position
    * pattern used for video→frame tables; metadata-only, blob untouched. */
  def sampleFrames(spark: SparkSession, dir: String): DataFrame =
    withMedia(spark, dir)
      .select(col("doc_id"), col("media_meta.n_bytes").as("n_bytes"))
      .withColumn("frame_idx",
        explode(expr("sequence(0, CAST(n_bytes AS INT) DIV 256)")))
      .select(col("doc_id"), col("frame_idx"),
        (col("frame_idx") * 256).as("frame_offset"),
        least(lit(256), col("n_bytes") - col("frame_idx") * 256).as("frame_len"))
      .orderBy(col("doc_id"), col("frame_idx"))

  val sampleFramesSql: String =
    """SELECT doc_id, CAST(f AS INT) AS frame_idx,
      |  CAST(f AS INT) * 256 AS frame_offset,
      |  least(256, strlen(text) - CAST(f AS INT) * 256) AS frame_len
      |FROM documents, unnest(range(0, strlen(text) // 256 + 1)) t(f)
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** Multimodal pairing join — align each document's media payload with its
    * embedding row (the image↔embedding pairing step of a contrastive /
    * caption training set) and roll up per (format, embedding-cluster
    * label): pair count, total payload bytes, exact norm mass. The blob is
    * never read — only pruned metadata columns cross the join, so at 100 TB
    * the shuffle carries a few dozen bytes per pair while the binary stays
    * behind in parquet until a downstream stage explicitly selects it. */
  /** q_m6: perceptual-hash near-dup over the media BLOBS — image dedup's
    * standard shape (pHash → hamming banding), here over the stubbed
    * decode's byte stream. The signature is the authentic pHash recipe
    * applied to bytes instead of DCT coefficients: POSITIONAL downsample
    * (the blob split into 48 equal segments, each summed) then a median
    * split (bit b set iff segment b's sum strictly exceeds the 24th-
    * smallest of the 48 sums). Positional sums depend on where content
    * sits, so distinct docs get near-independent ~24/48-bit signatures —
    * a value-histogram variant was measured degenerate here (text-like
    * byte distributions are all alike ⇒ 37k false pairs at sf0.001).
    * Banded 4×12 bits; hamming ≤ 1 with 4 bands is pigeonhole-lossless
    * with margin, so banding is pure candidate pruning and the DuckDB
    * oracle verifies with the plain all-pairs formulation — the q_x3c
    * pattern applied to binary columns. Every 9th blob is re-keyed
    * verbatim (+4000000) so exact-dup pairs provably exist; the sig stage
    * is the same tight JVM kernel class as MinHash (per-partition loop,
    * zero shuffle), and only (doc_id, phash) ever reaches an exchange —
    * at 100 TB of images the blobs stay in the scan stage. */
  def phashNearDups(spark: SparkSession, dir: String): DataFrame = {
    val base = withMedia(spark, dir)
      .filter(octet_length(col("media")) >= 1)
      .select(col("doc_id"), col("media"))
    val planted = base.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 4000000).as("doc_id"), col("media"))
    phashNearDupsOn(base.unionByName(planted))
  }

  /** The full pHash near-dup pipeline (48-bit signatures → 4×12 banding →
    * capped bucket join → hamming verify) on any (doc_id, media) frame —
    * shared by the query and the Stress `phash_neardup` ladder. */
  private[graft] def phashNearDupsOn(mediaDf: DataFrame): DataFrame = {
    val sigs = phashSigsOn(mediaDf)
    val banded = sigs.select(col("doc_id"), col("phash"),
      posexplode(expr(
        """array(phash & 4095,
          |      shiftright(phash, 12) & 4095,
          |      shiftright(phash, 24) & 4095,
          |      shiftright(phash, 36) & 4095)""".stripMargin))
        .as(Seq("band", "bucket")))
    Dedup.bucketPairs(banded, Seq("band", "bucket"), Seq("phash"), 100000)
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(bit_count(phash_a ^ phash_b) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= 1)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The signature stage on any (doc_id, media) frame — shared by the
    * query and the Stress ladder. Scan-stage kernel, zero shuffle. */
  private[graft] def phashSigsOn(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, bytes) => (id, phash48(bytes)) })
      .toDF("doc_id", "phash")
  }

  /** 48-bit positional-downsample signature: byte i lands in segment
    * floor(i*48/n), segments are summed, and bit b is set iff segment b's
    * sum strictly exceeds the 24th-smallest of the 48 sums (empty
    * segments count as 0). Integer-exact; mirrored bit-for-bit by the
    * SQL oracle. */
  private[graft] def phash48(bytes: Array[Byte]): Long = {
    val n = bytes.length
    val sum = new Array[Long](48)
    var i = 0
    while (i < n) { sum((i.toLong * 48 / n).toInt) += (bytes(i) & 0xff); i += 1 }
    val sorted = sum.clone()
    java.util.Arrays.sort(sorted)
    val thr = sorted(23)
    var h = 0L
    var b = 0
    while (b < 48) {
      if (sum(b) > thr) h |= 1L << b
      b += 1
    }
    h
  }

  val phashNearDupsSql: String =
    """WITH m AS (
      |  SELECT doc_id, encode(text) AS media FROM documents
      |  UNION ALL
      |  SELECT doc_id + 4000000 AS doc_id, encode(text) AS media
      |  FROM documents WHERE doc_id % 9 = 0),
      |h AS (SELECT doc_id, hex(media) AS hx, octet_length(media) AS n
      |      FROM m WHERE octet_length(media) >= 1),
      |u AS (SELECT doc_id, n, hx, unnest(range(0, n)) AS i FROM h),
      |v AS (SELECT doc_id, (i * 48) // n AS seg,
      |        ('0x' || substr(hx, CAST(2*i+1 AS INT), 2))::INT AS bv
      |      FROM u),
      |c AS (SELECT doc_id, seg, SUM(bv) AS s FROM v GROUP BY 1, 2),
      |fr AS (
      |  SELECT h.doc_id, r.seg, coalesce(c.s, 0) AS s
      |  FROM h CROSS JOIN (SELECT unnest(range(0, 48)) AS seg) r
      |  LEFT JOIN c ON c.doc_id = h.doc_id AND c.seg = r.seg),
      |thr AS (
      |  SELECT doc_id, s AS t FROM (
      |    SELECT doc_id, s,
      |      row_number() OVER (PARTITION BY doc_id ORDER BY s, seg) AS rn
      |    FROM fr)
      |  WHERE rn = 24),
      |ph AS (SELECT f.doc_id,
      |         CAST(SUM(CASE WHEN f.s > t.t
      |                       THEN (CAST(1 AS BIGINT) << f.seg) ELSE 0 END)
      |           AS BIGINT) AS phash
      |       FROM fr f JOIN thr t USING (doc_id) GROUP BY f.doc_id)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
      |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.phash, b.phash)) <= 1
      |ORDER BY doc_a, doc_b""".stripMargin

  def mediaEmbeddingJoin(spark: SparkSession, dir: String): DataFrame = {
    val med = withMedia(spark, dir)
      .select(col("doc_id"), col("media_meta.format").as("format"),
        col("media_meta.n_bytes").as("n_bytes"))
    val emb = G.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(graft.functions.VectorExpressions
        .vector_dot(col("v"), col("v"))))
      .select(col("vec_id"), col("label"), col("nrm"))
    med.join(emb, med("doc_id") === emb("vec_id"))
      .groupBy(col("format"), col("label"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("n_bytes")).cast("long").as("total_bytes"),
        G.dsum(col("nrm")).as("norm_sum"))
      .orderBy(col("format"), col("label"))
  }

  val mediaEmbeddingJoinSql: String =
    """WITH med AS (
      |  SELECT doc_id,
      |    CASE WHEN CAST(substr(source, 4, 1) AS INT) % 2 = 0
      |         THEN 'png' ELSE 'jpeg' END AS format,
      |    strlen(text) AS n_bytes
      |  FROM documents),
      |e AS (
      |  SELECT vec_id, label,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings)
      |SELECT med.format, e.label, count(*) AS n_pairs,
      |  CAST(SUM(med.n_bytes) AS BIGINT) AS total_bytes,
      |  CAST(CAST(SUM(CAST(e.nrm AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS norm_sum
      |FROM med JOIN e ON med.doc_id = e.vec_id
      |GROUP BY med.format, e.label
      |ORDER BY med.format, e.label""".stripMargin

  /** q_m7: CONTENT-ADDRESSED CHUNK DEDUP over the binary column — the
    * storage-layer view of media duplication: each blob splits into fixed
    * 64-byte chunks, chunks are content-hashed, and per source the report
    * is (chunks stored naively, chunks a content-addressed store keeps,
    * bytes saved). The blob-level analogue of x1's exact row dedup, and
    * what a 100 TB media lake actually does before any perceptual pass
    * (m6): dedup identical chunks first, cheap and exact.
    *
    * Plan shape: chunk indices come from `sequence()` + explode — a scan-
    * stage projection; only (source, chunk_hash) reaches the exchange,
    * never blob bytes, so the shuffle is O(chunks · 32B digest) regardless
    * of media size. Two hash-aggs (distinct-within-source, then rollup).
    * Fixed-size chunking is the deliberate stub for content-defined
    * (rolling-hash) boundaries — the plumbing (chunk → digest → keyed
    * dedup) is identical; a CDC chunker swaps in at the `pos` column. */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val chunks = withMedia(spark, dir)
      .filter(octet_length(col("media")) >= 1)
      .select(col("source"), col("media"),
        explode(sequence(lit(0),
          ((octet_length(col("media")) - 1) / 64).cast("int"))).as("ci"))
      .select(col("source"),
        md5(expr("substring(media, ci * 64 + 1, 64)")).as("h"),
        least(octet_length(col("media")) - col("ci") * 64, lit(64))
          .as("clen"))
    chunks.groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("h")).as("uniq_chunks"),
        sum(col("clen")).cast("long").as("raw_bytes"))
      .join(
        chunks.groupBy(col("source"), col("h"))
          .agg(min(col("clen")).as("kept_len"))
          .groupBy(col("source"))
          .agg(sum(col("kept_len")).cast("long").as("stored_bytes")),
        Seq("source"))
      .withColumn("saved_bytes", col("raw_bytes") - col("stored_bytes"))
      .orderBy(col("source"))
  }

  val chunkDedupSql: String =
    """WITH chunks AS (
      |  SELECT source,
      |    md5(substring(text, ci * 64 + 1, 64)) AS h,
      |    least(strlen(text) - ci * 64, 64) AS clen
      |  FROM (SELECT source, text,
      |          unnest(range(0, (strlen(text) - 1) // 64 + 1)) AS ci
      |        FROM documents WHERE strlen(text) >= 1)),
      |per AS (
      |  SELECT source, count(*) AS n_chunks,
      |    count(DISTINCT h) AS uniq_chunks,
      |    CAST(sum(clen) AS BIGINT) AS raw_bytes
      |  FROM chunks GROUP BY source),
      |kept AS (
      |  SELECT source, CAST(sum(kept_len) AS BIGINT) AS stored_bytes
      |  FROM (SELECT source, h, min(clen) AS kept_len
      |        FROM chunks GROUP BY source, h)
      |  GROUP BY source)
      |SELECT p.source, p.n_chunks, p.uniq_chunks, p.raw_bytes,
      |  k.stored_bytes, p.raw_bytes - k.stored_bytes AS saved_bytes
      |FROM per p JOIN kept k USING (source)
      |ORDER BY p.source""".stripMargin

  /** q_m8: CROSS-VIDEO DUPLICATE DETECTION by per-frame perceptual
    * hashes — the video-level dedup op (re-encoded/trimmed/re-uploaded
    * clips) that m6's whole-blob pHash cannot catch: a clip missing its
    * first frame shares almost every FRAME signature with its source
    * while the whole-file hash differs completely. Frames are the m3
    * 256-byte blocks; each frame gets the m6 positional-downsample
    * 48-bit pHash (same JVM kernel, per frame); video similarity is
    * CONTAINMENT over distinct frame-hash sets
    * |F_a ∩ F_b| / min(|F_a|,|F_b|) — the asymmetric measure (the x11
    * lesson) so a swallowed excerpt still fires. Every 11th video is
    * planted as a first-frame-trimmed copy (+5000000): block alignment
    * is preserved, so its frame set is exactly the source's minus one —
    * containment 1.0 by construction.
    *
    * Scale shape: the frame-hash kernel runs in the scan stage (zero
    * shuffle, blobs never leave it); candidates come from an inverted
    * index on the frame hash (capBuckets on degenerate hashes), so cost
    * is O(shared-frame pairs), never all-videos²; the verify needs no
    * second look at payloads because the intersection count IS the
    * signal. Integer counts + one division: hash-exact in DuckDB. */
  def videoFrameDedup(spark: SparkSession, dir: String,
      tau: Double = 0.6): DataFrame = {
    import spark.implicits._
    val base = withMedia(spark, dir)
      .filter(octet_length(col("media")) >= 1)
      .select(col("doc_id"), col("media"))
    val trimmed = base.filter(col("doc_id") % 11 === 0 &&
        octet_length(col("media")) > 256)
      .select((col("doc_id") + 5000000).as("doc_id"),
        expr("substring(media, 257)").as("media"))
    val frames = base.unionByName(trimmed).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        (0 until (bytes.length + 255) / 256).iterator.map { f =>
          val from = f * 256
          val until = math.min(from + 256, bytes.length)
          (id, phash48(java.util.Arrays.copyOfRange(bytes, from, until)))
        }
      })
      .toDF("doc_id", "ph")
      .distinct()
    val sizes = frames.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nf")).cache()
    val idx = Dedup.capBuckets(frames, Seq("ph"), maxBucketSize = 100000)
    val shared = idx.select(col("doc_id").as("vid_a"), col("ph"))
      .join(idx.select(col("doc_id").as("vid_b"), col("ph")), Seq("ph"))
      .filter(col("vid_a") < col("vid_b"))
      .groupBy(col("vid_a"), col("vid_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(broadcast(sizes.select(col("doc_id").as("va"),
        col("nf").as("n_a"))), col("vid_a") === col("va"))
      .join(broadcast(sizes.select(col("doc_id").as("vb"),
        col("nf").as("n_b"))), col("vid_b") === col("vb"))
      .withColumn("containment",
        col("shared").cast("double") / least(col("n_a"), col("n_b")))
      .filter(G.simFilter(col("containment"), lit(tau)))
      .select(col("vid_a"), col("vid_b"), col("shared"), col("n_a"),
        col("n_b"), col("containment"))
      .orderBy(col("vid_a"), col("vid_b"))
  }

  val videoFrameDedupSql: String =
    """WITH base AS (
      |  SELECT doc_id, text FROM documents WHERE strlen(text) >= 1
      |  UNION ALL
      |  SELECT doc_id + 5000000 AS doc_id, substr(text, 257) AS text
      |  FROM documents WHERE doc_id % 11 = 0 AND strlen(text) > 256),
      |fr AS (
      |  SELECT doc_id, CAST(t.f AS BIGINT) AS f,
      |    substr(text, CAST(t.f * 256 + 1 AS INT), 256) AS ft
      |  FROM base, unnest(range(0, (strlen(text) + 255) // 256)) t(f)),
      |h AS (SELECT doc_id, f, hex(encode(ft)) AS hx,
      |             octet_length(encode(ft)) AS n FROM fr),
      |u AS (SELECT doc_id, f, n, hx, unnest(range(0, n)) AS i FROM h),
      |v AS (SELECT doc_id, f, (i * 48) // n AS seg,
      |        ('0x' || substr(hx, CAST(2*i+1 AS INT), 2))::INT AS bv
      |      FROM u),
      |c AS (SELECT doc_id, f, seg, SUM(bv) AS s FROM v GROUP BY 1, 2, 3),
      |full_ AS (
      |  SELECT h.doc_id, h.f, r.seg, coalesce(c.s, 0) AS s
      |  FROM h CROSS JOIN (SELECT unnest(range(0, 48)) AS seg) r
      |  LEFT JOIN c ON c.doc_id = h.doc_id AND c.f = h.f AND c.seg = r.seg),
      |thr AS (
      |  SELECT doc_id, f, s AS t FROM (
      |    SELECT doc_id, f, s,
      |      row_number() OVER (PARTITION BY doc_id, f ORDER BY s, seg) AS rn
      |    FROM full_)
      |  WHERE rn = 24),
      |ph AS (SELECT x.doc_id, x.f,
      |         CAST(SUM(CASE WHEN x.s > t.t
      |                       THEN (CAST(1 AS BIGINT) << x.seg) ELSE 0 END)
      |           AS BIGINT) AS ph
      |       FROM full_ x JOIN thr t ON x.doc_id = t.doc_id AND x.f = t.f
      |       GROUP BY x.doc_id, x.f),
      |fs AS (SELECT DISTINCT doc_id, ph FROM ph),
      |sz AS (SELECT doc_id, count(*) AS nf FROM fs GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS vid_a, b.doc_id AS vid_b, count(*) AS shared
      |  FROM fs a JOIN fs b ON a.ph = b.ph AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT p.vid_a, p.vid_b, p.shared, sa.nf AS n_a, sb.nf AS n_b,
      |  CAST(p.shared AS DOUBLE) / least(sa.nf, sb.nf) AS containment
      |FROM pairs p JOIN sz sa ON p.vid_a = sa.doc_id
      |             JOIN sz sb ON p.vid_b = sb.doc_id
      |WHERE CAST(p.shared AS DOUBLE) / least(sa.nf, sb.nf) >= 0.6
      |ORDER BY vid_a, vid_b""".stripMargin

  /** Voice-activity segmentation over the audio blob — the standard first
    * stage of an audio training pipeline (cut recordings into speech
    * segments before transcription/embedding). STUB acoustics: "energy"
    * per 64-byte frame is the byte-value sum (a real impl computes RMS of
    * decoded PCM here — same plumbing, different per-frame kernel); a
    * frame is ACTIVE when its energy exceeds the file's mean frame energy
    * (integer cross-multiply `energy·n_frames > total` — no division, no
    * floats, so the whole operator is exact integer arithmetic).
    *
    * Per file: frame count, active count, number of contiguous active
    * segments, and the longest segment — the islands fold runs inside the
    * same single JVM pass over the blob (per-partition iterator, constant
    * memory, the m2 `mapInPandas` analogue). No shuffle at all: every
    * metric is per-row, so the operator runs at scan speed and the only
    * exchange is the presentation sort. The oracle rebuilds the identical
    * frames byte-for-byte from `hex(encode(text))` and replays the island
    * logic with gaps-and-islands windows. */
  def vadSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withMedia(spark, dir)
      .select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val (nf, na, ns, lr) = vadKernel(bytes)
        (id, nf, na, ns, lr)
      })
      .toDF("doc_id", "n_frames", "n_active", "n_segments", "longest_run")
      .orderBy(col("doc_id"))
  }

  /** q_m10: CROSS-MODAL near-dup AGREEMENT — do the text pipeline (x3c
    * banded SimHash pairs) and the embedding pipeline (y3 cosine ≥ 0.35
    * pairs) flag the same near-duplicates? A multimodal dedup policy
    * needs this calibration before trusting either modality alone: the
    * report counts pairs found by text only, embedding only, both, and
    * the pair-set Jaccard, over the id window both pipelines cover
    * (id < 300, y3's bounded-verify contract). Low agreement is a
    * finding, not a failure — the driver embeddings are synthetic and
    * uncorrelated with text, and the hash check pins exactly that.
    *
    * Composes two independently oracle-checked operators; one
    * full-outer join of two SMALL pair frames (candidates, not corpora)
    * and a scalar aggregate. */
  def crossModalAgreement(spark: SparkSession, dir: String): DataFrame = {
    val text = Dedup.sharedNearDupPairs(spark, dir)
      .filter(col("doc_a") < 300 && col("doc_b") < 300)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"),
        lit(1).as("t"))
    val embed = graft.operators.Similarity.embeddingNearDups(spark, dir)
      .select(col("id_a"), col("id_b"), lit(1).as("e"))
    text.join(embed, Seq("id_a", "id_b"), "full_outer")
      .agg(
        sum(when(col("t").isNotNull && col("e").isNull, 1L).otherwise(0L))
          .as("text_only"),
        sum(when(col("t").isNull && col("e").isNotNull, 1L).otherwise(0L))
          .as("embed_only"),
        sum(when(col("t").isNotNull && col("e").isNotNull, 1L).otherwise(0L))
          .as("both"))
      .select(col("text_only"), col("embed_only"), col("both"),
        (col("both").cast("double") /
          (col("text_only") + col("embed_only") + col("both")))
          .as("pair_jaccard"))
  }

  def crossModalAgreementSql: String =
    s"""WITH text_pairs AS (
       |  SELECT doc_a AS id_a, doc_b AS id_b FROM (
       |${Dedup.simhashNearDupsSql.replace("ORDER BY doc_a, doc_b", "")}) x
       |  WHERE doc_a < 300 AND doc_b < 300),
       |embed_pairs AS (
       |  SELECT id_a, id_b FROM (
       |${graft.operators.Similarity.embeddingNearDupsSql
           .replace("ORDER BY id_a, id_b", "")}) y),
       |j AS (
       |  SELECT coalesce(t.id_a, e.id_a) AS id_a,
       |         t.id_a IS NOT NULL AS in_t, e.id_a IS NOT NULL AS in_e
       |  FROM text_pairs t FULL OUTER JOIN embed_pairs e
       |    ON t.id_a = e.id_a AND t.id_b = e.id_b)
       |SELECT
       |  CAST(sum(CASE WHEN in_t AND NOT in_e THEN 1 ELSE 0 END) AS BIGINT)
       |    AS text_only,
       |  CAST(sum(CASE WHEN in_e AND NOT in_t THEN 1 ELSE 0 END) AS BIGINT)
       |    AS embed_only,
       |  CAST(sum(CASE WHEN in_t AND in_e THEN 1 ELSE 0 END) AS BIGINT)
       |    AS both,
       |  CAST(sum(CASE WHEN in_t AND in_e THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS pair_jaccard
       |FROM j""".stripMargin

  /** The per-blob VAD fold: (n_frames, n_active, n_segments, longest_run).
    * Factored out so the spec can drive it with planted byte patterns. */
  private[graft] def vadKernel(bytes: Array[Byte]): (Long, Long, Long, Long) = {
    val nFrames = bytes.length / 64
    val energy = new Array[Long](nFrames)
    var f = 0
    while (f < nFrames) {
      var s = 0L; var i = f * 64
      val end = i + 64
      while (i < end) { s += bytes(i) & 0xff; i += 1 }
      energy(f) = s; f += 1
    }
    var total = 0L
    energy.foreach(total += _)
    var nActive = 0L; var nSeg = 0L; var longest = 0L; var run = 0L
    f = 0
    while (f < nFrames) {
      if (energy(f) * nFrames > total) {
        nActive += 1; run += 1
        if (run == 1) nSeg += 1
        if (run > longest) longest = run
      } else run = 0
      f += 1
    }
    (nFrames.toLong, nActive, nSeg, longest)
  }

  /** q_m12 kernel: SCENE-CHANGE detection over the media payload — the
    * video-curation primitive that decides where to cut clips. Frames are
    * the same 64-byte windows as VAD; a CUT fires between consecutive
    * frames when the energy jump exceeds 256 (mean byte shift > 4 — on
    * this corpus the p90 jump is 228 and the p99 is 353, so the rule is
    * selective but NON-vacuous; a mean-relative rule was measured
    * unfirable here because text frame energy sits uniformly near 6k
    * while jumps top out at ~500). Exact integer comparison, so the rule
    * replays bit-for-bit in SQL (the m9 move). One JVM pass per payload,
    * zero shuffles except the output sort. */
  private[graft] def sceneKernel(bytes: Array[Byte]): (Long, Long, Long, Long) = {
    val nFrames = bytes.length / 64
    if (nFrames == 0) return (0L, 0L, 0L, 0L)
    val energy = new Array[Long](nFrames)
    var f = 0
    while (f < nFrames) {
      var s = 0L; var i = f * 64
      val end = i + 64
      while (i < end) { s += bytes(i) & 0xff; i += 1 }
      energy(f) = s; f += 1
    }
    var cuts = 0L; var longest = 1L; var run = 1L
    f = 1
    while (f < nFrames) {
      if (math.abs(energy(f) - energy(f - 1)) > 256L) {
        cuts += 1; run = 1L
      } else {
        run += 1
        if (run > longest) longest = run
      }
      f += 1
    }
    (nFrames.toLong, cuts, cuts + 1L, longest)
  }

  /** q_m12: scene segmentation report per media payload. */
  def sceneCuts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withMedia(spark, dir)
      .select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val (nf, nc, ns, ls) = sceneKernel(bytes)
        (id, nf, nc, ns, ls)
      })
      .toDF("doc_id", "n_frames", "n_cuts", "n_scenes", "longest_scene")
      .orderBy(col("doc_id"))
  }

  val sceneCutsSql: String =
    """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
      |             octet_length(encode(text)) AS n FROM documents),
      |fr AS (
      |  SELECT doc_id, CAST(t.f AS BIGINT) AS f, n
      |  FROM h, unnest(range(0, n // 64)) t(f)),
      |u AS (SELECT doc_id, f, CAST(t.i AS BIGINT) AS i
      |      FROM fr, unnest(range(0, 64)) t(i)),
      |en AS (
      |  SELECT u.doc_id, u.f,
      |    CAST(sum(('0x' || substr(h.hx,
      |           CAST(2 * (u.f * 64 + u.i) + 1 AS INT), 2))::INT)
      |      AS BIGINT) AS e
      |  FROM u JOIN h ON h.doc_id = u.doc_id
      |  GROUP BY u.doc_id, u.f),
      |tot AS (
      |  SELECT doc_id, count(*) AS n_frames, CAST(sum(e) AS BIGINT) AS total
      |  FROM en GROUP BY doc_id),
      |d AS (
      |  SELECT doc_id, f, e,
      |    lag(e) OVER (PARTITION BY doc_id ORDER BY f) AS pe
      |  FROM en),
      |c AS (
      |  SELECT doc_id, f,
      |    CASE WHEN pe IS NOT NULL AND abs(e - pe) > 256
      |         THEN 1 ELSE 0 END AS cut
      |  FROM d),
      |sc AS (
      |  SELECT doc_id, f,
      |    sum(cut) OVER (PARTITION BY doc_id ORDER BY f
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scene_id
      |  FROM c),
      |lens AS (
      |  SELECT doc_id, scene_id, count(*) AS len
      |  FROM sc GROUP BY doc_id, scene_id),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_scenes,
      |    CAST(max(len) AS BIGINT) AS mx
      |  FROM lens GROUP BY doc_id)
      |SELECT t.doc_id, t.n_frames,
      |  CAST(a.n_scenes - 1 AS BIGINT) AS n_cuts, a.n_scenes,
      |  a.mx AS longest_scene
      |FROM tot t JOIN agg a ON t.doc_id = a.doc_id
      |UNION ALL
      |SELECT doc_id, 0, 0, 0, 0 FROM h WHERE n // 64 = 0
      |ORDER BY doc_id""".stripMargin

  val vadSegmentsSql: String =
    """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
      |             octet_length(encode(text)) AS n FROM documents),
      |fr AS (
      |  SELECT doc_id, CAST(t.f AS BIGINT) AS f, n
      |  FROM h, unnest(range(0, n // 64)) t(f)),
      |u AS (SELECT doc_id, f, CAST(t.i AS BIGINT) AS i
      |      FROM fr, unnest(range(0, 64)) t(i)),
      |en AS (
      |  SELECT u.doc_id, u.f,
      |    CAST(sum(('0x' || substr(h.hx,
      |           CAST(2 * (u.f * 64 + u.i) + 1 AS INT), 2))::INT)
      |      AS BIGINT) AS e
      |  FROM u JOIN h ON h.doc_id = u.doc_id
      |  GROUP BY u.doc_id, u.f),
      |tot AS (
      |  SELECT doc_id, count(*) AS n_frames, CAST(sum(e) AS BIGINT) AS total
      |  FROM en GROUP BY doc_id),
      |act AS (
      |  SELECT en.doc_id, en.f,
      |    CASE WHEN en.e * t.n_frames > t.total THEN 1 ELSE 0 END AS a
      |  FROM en JOIN tot t ON en.doc_id = t.doc_id),
      |isl AS (
      |  SELECT doc_id, f, a,
      |    f - row_number() OVER (PARTITION BY doc_id, a ORDER BY f) AS grp
      |  FROM act),
      |runs AS (
      |  SELECT doc_id, count(*) AS run_len
      |  FROM isl WHERE a = 1 GROUP BY doc_id, grp),
      |seg AS (
      |  SELECT doc_id, count(*) AS n_segments,
      |    CAST(max(run_len) AS BIGINT) AS longest_run,
      |    CAST(sum(run_len) AS BIGINT) AS n_active
      |  FROM runs GROUP BY doc_id)
      |SELECT t.doc_id, t.n_frames,
      |  coalesce(s.n_active, 0) AS n_active,
      |  coalesce(s.n_segments, 0) AS n_segments,
      |  coalesce(s.longest_run, 0) AS longest_run
      |FROM tot t LEFT JOIN seg s ON t.doc_id = s.doc_id
      |UNION ALL
      |SELECT doc_id, 0, 0, 0, 0 FROM h WHERE n // 64 = 0
      |ORDER BY doc_id""".stripMargin

  /** q_m11: BLOB QC GATE — byte-distribution statistics per media payload,
    * the corrupt/degenerate-asset screen a 100 TB media ingest runs before
    * spending any decode compute: an all-zero (or near-constant) blob is a
    * truncated download, a byte distribution that is too flat for its
    * claimed format is noise/encrypted garbage. Per blob: distinct byte
    * values, dominant-byte share, and the Simpson concentration Σc²/n² —
    * the RATIONAL concentration member (byte entropy needs log; Simpson is
    * exact integer sums + one division, the t21 move), plus the two named
    * flags (constant-ish ≥ 0.5 dominant share; flat-ish: Simpson below
    * 2/256, i.e. within 2× of the uniform floor 1/256).
    *
    * Scale shape: ONE JVM pass per partition over the blob bytes (256-slot
    * histogram, the m2 featureHistogram pattern — a codec would init here
    * once per partition); only (doc_id, 5 scalars) ever leaves the scan,
    * the blob never crosses an exchange. The oracle replays bytes through
    * hex-pair extraction (the m4/m9 pattern), so the JVM loop is
    * hash-checked byte-for-byte. */
  def blobQc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withMedia(spark, dir)
      .select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val hist = new Array[Long](256)
          var i = 0
          while (i < bytes.length) {
            hist(bytes(i) & 0xff) += 1L; i += 1
          }
          var distinct = 0L; var maxC = 0L; var sumSq = 0L
          var b = 0
          while (b < 256) {
            val c = hist(b)
            if (c > 0) distinct += 1
            if (c > maxC) maxC = c
            sumSq += c * c
            b += 1
          }
          val n = bytes.length.toLong
          val top = if (n > 0) maxC.toDouble / n else 0.0
          val simpson = if (n > 0) sumSq.toDouble / (n.toDouble * n) else 0.0
          (id, n, distinct, top, simpson,
            n > 0 && top >= 0.5, n > 0 && simpson < 2.0 / 256.0)
        }
      }.toDF("doc_id", "n_bytes", "n_distinct_bytes", "top_byte_share",
        "simpson", "flag_constant", "flag_flat")
      .orderBy(col("doc_id"))
  }

  val blobQcSql: String =
    """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
      |             CAST(octet_length(encode(text)) AS BIGINT) AS n
      |           FROM documents),
      |by AS (
      |  SELECT doc_id,
      |    ('0x' || substr(hx, CAST(2 * t.i + 1 AS INT), 2))::INT AS b
      |  FROM h, unnest(range(0, n)) t(i)),
      |cnt AS (SELECT doc_id, b, count(*) AS c FROM by GROUP BY 1, 2),
      |st AS (
      |  SELECT doc_id, count(*) AS n_distinct_bytes,
      |    CAST(max(c) AS BIGINT) AS max_c,
      |    CAST(sum(c * c) AS BIGINT) AS sum_sq,
      |    CAST(sum(c) AS BIGINT) AS n
      |  FROM cnt GROUP BY doc_id)
      |SELECT h.doc_id, h.n AS n_bytes,
      |  coalesce(st.n_distinct_bytes, 0) AS n_distinct_bytes,
      |  CASE WHEN h.n > 0 THEN CAST(st.max_c AS DOUBLE) / h.n
      |       ELSE 0.0 END AS top_byte_share,
      |  CASE WHEN h.n > 0
      |       THEN CAST(st.sum_sq AS DOUBLE) / (CAST(h.n AS DOUBLE) * h.n)
      |       ELSE 0.0 END AS simpson,
      |  h.n > 0 AND CAST(st.max_c AS DOUBLE) / h.n >= 0.5 AS flag_constant,
      |  h.n > 0 AND CAST(st.sum_sq AS DOUBLE) / (CAST(h.n AS DOUBLE) * h.n)
      |    < 2.0 / 256.0 AS flag_flat
      |FROM h LEFT JOIN st ON st.doc_id = h.doc_id
      |ORDER BY h.doc_id""".stripMargin

  /** q_m13: MULTIMODAL SEQUENCE PACKING — interleaved text+image training
    * examples (the LLaVA/Flamingo input shape): each document's cost is
    * its text tokens PLUS a fixed 144-token patch budget per attached
    * image (the ViT-patch-count stand-in; qualifying media = the m1
    * n_bytes ≥ 50 gate), packed into 1024-token examples by the SAME
    * capacity-reset greedy fold as c17 ([[Curation.packSized]] — the
    * packer is cost-agnostic, only the sizing differs). The lineage join
    * back to the per-doc text/media split is what a multimodal loader
    * needs to place `<image>` placeholders. Oracle: the c17 recursive
    * fold parameterized with the multimodal cost expression
    * ([[Curation.seqPackCtesFor]]) — a shared-code bug would need to
    * break Spark and DuckDB identically to pass.
    *
    * Scale shape: identical to c17 (bounded 64-doc shards, parallel
    * across shards, blob column never read — the cost uses only
    * metadata), plus one doc_id-keyed join for the split columns. */
  def multimodalPack(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // cached: referenced by BOTH the packer input and the split-column
    // join-back — uncached, each lineage would re-scan and re-tokenize
    // the documents table (blob encode included)
    val sized = withMedia(spark, dir)
      .select(col("doc_id"), expr("doc_id DIV 64").as("shard"),
        expr("size(split(text, '\\\\s+'))").cast("long")
          .as("n_text_tokens"),
        when(col("media_meta.n_bytes") >= 50, lit(144L)).otherwise(lit(0L))
          .as("n_media_tokens"))
      .withColumn("n_tokens", col("n_text_tokens") + col("n_media_tokens"))
      .cache()
    val packed = Curation.packSized(
      sized.select(col("doc_id"), col("shard"), col("n_tokens"))
        .as[(Long, Long, Long)], 1024L)
    packed
      .join(sized.select(col("doc_id"), col("n_text_tokens"),
        col("n_media_tokens")), "doc_id")
      .select(col("doc_id"), col("shard"), col("ex_id"), col("ex_offset"),
        col("n_text_tokens"), col("n_media_tokens"), col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  val multimodalPackSql: String = Curation.seqPackCtesFor(
    """CAST(len(string_split_regex(text, '\s+')) AS BIGINT)
      |      + CASE WHEN strlen(text) >= 50 THEN 144 ELSE 0 END"""
      .stripMargin, 1024L) +
    """
      |SELECT p.doc_id, p.shard, p.ex_id, p.ex_offset,
      |  CAST(len(string_split_regex(d.text, '\s+')) AS BIGINT)
      |    AS n_text_tokens,
      |  CAST(CASE WHEN strlen(d.text) >= 50 THEN 144 ELSE 0 END AS BIGINT)
      |    AS n_media_tokens,
      |  p.n AS n_tokens
      |FROM p JOIN documents d ON d.doc_id = p.doc_id
      |ORDER BY p.doc_id""".stripMargin
}
