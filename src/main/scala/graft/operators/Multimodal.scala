package graft.operators

import graft.functions.vec
import graft.{GQ, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: media as opaque `binary` columns with typed
  * metadata, decoded / feature-extracted in distributed batch passes.
  *
  * The Spark-side machinery is real — schema, partition-parallel iterator
  * processing, typed Datasets — while the codec itself is a clearly-marked
  * deterministic STUB (`FakeCodec`): no image/audio libraries exist in this
  * environment. Swapping `FakeCodec` for a real JNI/Java decoder changes no
  * plan shape: decode stays a narrow `mapPartitions` (no shuffle), features
  * stay fixed-width float vectors that flow into the Ann/Similarity
  * operators.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata (the multimodal schema). */
  case class MediaRecord(doc_id: Long, kind: String, media: Array[Byte])

  /** Decoded features: per-frame samples + a fixed-width embedding. */
  case class MediaFeatures(
      doc_id: Long,
      kind: String,
      n_bytes: Int,
      n_frames: Int,
      frame_digests: Array[Long],
      feature: Array[Float])

  /** STUB codec — deterministic fake standing in for an image/audio decoder.
    * Real implementation would go through javax.imageio / ffmpeg bindings;
    * everything around it (batching, partitioning, schema) is production
    * shape.
    */
  object FakeCodec {
    val FrameSize = 32
    val FeatureDim = 8

    /** "Frames": consecutive FrameSize-byte windows, digested to a long. */
    def frames(payload: Array[Byte]): Array[Long] =
      payload.grouped(FrameSize).map { w =>
        w.foldLeft(1125899906842597L)((h, b) => h * 31 + b)
      }.toArray

    /** "Embedding": fold bytes into a fixed-width float vector. */
    def feature(payload: Array[Byte]): Array[Float] = {
      val acc = new Array[Float](FeatureDim)
      var i = 0
      while (i < payload.length) {
        acc(i % FeatureDim) += (payload(i) & 0xff) / 255.0f
        i += 1
      }
      acc
    }

    /** "Resize": deterministic stride downsample of the payload to a fixed
      * width — the image-resize stand-in (a real codec resamples pixels; the
      * DISTRIBUTION shape — fixed small output per record regardless of
      * input size — is what matters to the pipeline). */
    def resize(payload: Array[Byte], width: Int): Array[Byte] =
      if (payload.isEmpty) new Array[Byte](width)
      else Array.tabulate(width)(i =>
        payload(((i.toLong * payload.length) / width).toInt))

    /** Frame sampling: every `stride`-th frame digest (keyframe extraction
      * shape — output size |frames|/stride). */
    def sampleFrames(payload: Array[Byte], stride: Int): Array[Long] =
      frames(payload).zipWithIndex
        .collect { case (f, i) if i % stride == 0 => f }
  }

  /** documents.text reinterpreted as a binary media payload + metadata —
    * the ingest step a real pipeline does when loading image/audio bytes. */
  def asMedia(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables.t(spark, dir, "documents")
      .select(
        col("doc_id"),
        lit("text/plain").as("kind"),
        col("text").cast(BinaryType).as("media"))
      .as[MediaRecord]
  }

  /** Distributed decode: narrow mapPartitions, iterator-to-iterator (no
    * per-partition materialization), so memory is bounded by one record and
    * the pass pipelines with the scan. */
  def decode(records: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.map { r =>
        val fr = FakeCodec.frames(r.media)
        MediaFeatures(r.doc_id, r.kind, r.media.length, fr.length, fr,
          FakeCodec.feature(r.media))
      }
    }
  }

  /** A thumbnail row emitted by [[thumbnails]]. */
  case class Thumb(doc_id: Long, thumb: Array[Byte], n_keyframes: Int)

  /** Distributed resize + keyframe sampling — the remaining two multimodal
    * verbs (decode/feature live in [[decode]]): narrow iterator-to-iterator
    * pass, output fixed-size per record, so the stage's memory and output
    * volume are bounded regardless of media size — the property that lets a
    * thumbnail/keyframe pass run over 100 TB of video without a shuffle. */
  def thumbnails(
      records: Dataset[MediaRecord],
      width: Int = 16,
      frameStride: Int = 4): Dataset[Thumb] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.map { r =>
        Thumb(r.doc_id, FakeCodec.resize(r.media, width),
          FakeCodec.sampleFrames(r.media, frameStride).length)
      }
    }
  }

  val queries: Seq[GQ] = Seq(
    // Binary-column metadata extraction — the oracle-checkable slice of the
    // pipeline (byte length, content digest, head bytes as hex).
    GQ(
      "q_multimodal_meta",
      (s, d) => {
        val blob = col("text").cast(BinaryType)
        Tables.t(s, d, "documents")
          .select(
            col("doc_id"),
            length(blob).cast(LongType).as("n_bytes"),
            md5(blob).as("fp"),
            substring(hex(blob), 1, 16).as("head_hex"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, octet_length(encode(text)) AS n_bytes,
             |md5(text) AS fp,
             |substring(hex(encode(text)), 1, 16) AS head_hex
             |FROM documents ORDER BY doc_id""".stripMargin)
    ),
    // Full decode pipeline through the stub codec: deterministic counts per
    // kind. Oracle-matched (round 2): the OUTPUT depends on the codec only
    // through frame count = ⌈bytes/FrameSize⌉ and byte length — both pure
    // byte math DuckDB reproduces without the codec, so the oracle checks
    // that the distributed decode pass preserves media accounting exactly.
    GQ(
      "q_multimodal_decode",
      (s, d) =>
        decode(asMedia(s, d)).toDF()
          .groupBy(col("kind"))
          .agg(
            count(lit(1)).as("n_media"),
            sum(col("n_frames").cast(LongType)).as("total_frames"),
            sum(col("n_bytes").cast(LongType)).as("total_bytes"))
          .orderBy(col("kind")),
      Some(s"""SELECT 'text/plain' AS kind, COUNT(*) AS n_media,
             |  CAST(SUM(CEIL(octet_length(encode(text)) / ${FakeCodec.FrameSize}.0))
             |    AS BIGINT) AS total_frames,
             |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes
             |FROM documents ORDER BY kind""".stripMargin)
    ),
    // Declared run of the remaining two multimodal verbs (round 4):
    // [[thumbnails]] — distributed RESIZE (stride downsample to a fixed
    // 16-byte thumb) + KEYFRAME SAMPLING (every 4th frame) in one narrow
    // iterator pass. Both are pure byte math the oracle replays without
    // the codec: thumb byte i = payload[(i·len) DIV 16] (hex-extracted in
    // SQL), keyframes = ⌈⌈len/32⌉/4⌉ — so the driver hash checks the
    // DISTRIBUTED pass's bytes end to end. A real resampler changes the
    // byte values, not the plan: output stays fixed-size per record, no
    // shuffle anywhere — the property that lets a thumbnail pass run over
    // 100 TB of video.
    GQ(
      "q_multimodal_frames",
      (s, d) =>
        thumbnails(asMedia(s, d)).toDF()
          .select(col("doc_id"),
            col("n_keyframes").cast(LongType).as("n_keyframes"),
            hex(col("thumb")).as("thumb_hex"))
          .orderBy(col("doc_id")),
      Some(s"""WITH b AS (SELECT doc_id, encode(text) AS p,
             |    octet_length(encode(text)) AS len FROM documents)
             |SELECT doc_id,
             |  CAST(((len + ${FakeCodec.FrameSize - 1}) // ${FakeCodec.FrameSize}
             |    + 3) // 4 AS BIGINT) AS n_keyframes,
             |  array_to_string(list_transform(range(16),
             |    i -> substr(hex(p), 2 * ((i * len) // 16) + 1, 2)), '')
             |    AS thumb_hex
             |FROM b ORDER BY doc_id""".stripMargin)
    ),
    // End-to-end media near-dup: decode → fixed-width feature vector →
    // cosine top-10 pairs within an id block — the full multimodal dedup
    // pipeline (ingest, distributed decode, embedding similarity) in one
    // plan. Swapping FakeCodec for a real decoder changes nothing here; at
    // scale the pair stage is the Ann LSH/IVF machinery instead of a block.
    //
    // Oracle-matched (round 3): FakeCodec.feature is a SEQUENTIAL FLOAT32
    // fold — acc[i % 8] += byte/255.0f in byte order — so the DuckDB twin
    // unnests the payload bytes from the hex form and replays the exact
    // float32 accumulation per lane with list_reduce, casting every partial
    // sum to FLOAT (double-then-cast division equals float division for all
    // 256 byte values — verified exhaustively). Cosine then runs over the
    // identical float vectors in both engines. Review r3 hardening: the
    // dense lane scaffold (sc) zero-pads docs shorter than FeatureDim bytes
    // to the same fixed 8 lanes Spark always emits, and zero-norm features
    // take the norm-guarded 0.0 path — verified on a synthetic corpus of
    // 0/1/3/7-byte docs against a NumPy float32 replay.
    GQ(
      "q_multimodal_neardup",
      (s, d) => {
        val feats = decode(asMedia(s, d)).toDF()
          .filter(col("doc_id") < 200)
          .select(col("doc_id"), col("feature"))
        val a = feats.select(col("doc_id").as("a_id"), col("feature").as("fa"))
        val b = feats.select(col("doc_id").as("b_id"), col("feature").as("fb"))
        a.join(b, col("a_id") < col("b_id"))
          .select(
            col("a_id"), col("b_id"),
            vec.roundz(vec.cosine(col("fa"), col("fb")), 3).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("a_id"), col("b_id"))
          .limit(10)
      },
      Some(s"""WITH e AS (SELECT doc_id, hex(encode(text)) AS h,
             |    octet_length(encode(text)) AS n
             |  FROM documents WHERE doc_id < 200),
             |by AS (SELECT doc_id, unnest(range(0, n)) AS i, h FROM e),
             |lv AS (SELECT doc_id, i % ${FakeCodec.FeatureDim} AS lane, i,
             |    CAST(CAST(('0x' || substr(h, CAST(i * 2 + 1 AS INT), 2))
             |      AS INTEGER) / 255.0 AS FLOAT) AS v
             |  FROM by),
             |sc AS (SELECT e.doc_id, r.lane
             |  FROM e, range(${FakeCodec.FeatureDim}) r(lane)),
             |lanes AS (SELECT sc.doc_id, sc.lane,
             |    list_reduce(list_prepend(CAST(0 AS FLOAT),
             |        COALESCE(list(lv.v ORDER BY lv.i)
             |          FILTER (lv.v IS NOT NULL), [])),
             |      (a, x) -> CAST(a + x AS FLOAT)) AS s
             |  FROM sc LEFT JOIN lv ON lv.doc_id = sc.doc_id AND lv.lane = sc.lane
             |  GROUP BY sc.doc_id, sc.lane),
             |f AS (SELECT doc_id, list(CAST(s AS DOUBLE) ORDER BY lane) AS feat
             |  FROM lanes GROUP BY doc_id),
             |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |    (ROUND(CASE WHEN list_inner_product(a.feat, a.feat) = 0
             |        OR list_inner_product(b.feat, b.feat) = 0 THEN 0.0
             |      ELSE list_cosine_similarity(a.feat, b.feat) END, 3) + 0.0) AS cos_sim
             |  FROM f a JOIN f b ON a.doc_id < b.doc_id)
             |SELECT a_id, b_id, cos_sim FROM p
             |ORDER BY cos_sim DESC, a_id, b_id LIMIT 10""".stripMargin)
    )
  )
}
