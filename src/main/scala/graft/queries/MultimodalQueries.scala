package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators._
import Common._

/** Multimodal plumbing: asset metadata, image/audio/video round trips and
  * frame walks over generated containers, and the stub frame features. */
private[queries] object MultimodalQueries {
  val specs: Seq[QuerySpec] = QuerySpec.family(ScanSplit.text)(
    QuerySpec("q_multimodal_meta", (s, dir) =>
      MultimodalOps.extractMeta(
        MultimodalOps.asAssets(docs(s, dir), "doc_id", "text", "text/plain"))
        .toDF(),
      """SELECT doc_id AS asset_id, 'text/plain' AS media_type,
        |  octet_length(CAST(text AS BLOB)) AS n_bytes,
        |  CAST(('0x' || substring(md5(text), 1, 4)) AS INT) % 1920 + 1 AS width,
        |  CAST(('0x' || substring(md5(text), 5, 4)) AS INT) % 1080 + 1 AS height,
        |  md5(text) AS digest
        |FROM documents""".stripMargin),
    // REAL media decode, gated: each doc's md5 bytes render a 4x4 gray8
    // PNG (ImageIO ENCODE), the decode kernel (ImageIO DECODE, raw raster
    // samples) reads dimensions + pixel mean back, and DuckDB verifies
    // the mean straight from the same md5 hex — lossless roundtrip
    QuerySpec("q_image_roundtrip", (s, dir) => {
      import s.implicits._
      implicit val enc =
        org.apache.spark.sql.Encoders.product[MultimodalOps.MediaAsset]
      val assets = docs(s, dir)
        .select(col("doc_id"), md5(col("text")).as("h"))
        .as[(Long, String)]
        .map { case (id, h) => MultimodalOps.MediaAsset(id, "image/png",
          MultimodalOps.grayPngBytes(MultimodalOps.hexBytes(h), 4, 4)) }
      MultimodalOps.decodeImages(assets).toDF()
        .select(col("asset_id").as("doc_id"), col("width"), col("height"),
          round(col("mean_pixel"), 6).as("mean_pixel"))
    },
      // the engine PNG-encodes each doc's md5 bytes as 4x4 gray8 and
      // decodes them back with ImageIO; gray8 PNG is lossless, so the
      // decoded pixel mean must equal the mean of the digest bytes
      """WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
        |b AS (SELECT doc_id,
        |  avg(CAST(('0x' || substring(h, 2*i+1, 2)) AS INT)) AS m
        |  FROM (SELECT doc_id, h, unnest(generate_series(0, 15)) AS i
        |        FROM d)
        |  GROUP BY doc_id)
        |SELECT doc_id, 4 AS width, 4 AS height,
        |       round(m, 6) AS mean_pixel FROM b""".stripMargin),
    // same contract for audio: md5 bytes -> 8 signed 16-bit PCM samples
    // -> WAV (RIFF byte-walk ENCODE, spec-proven byte-identical to the
    // independent AudioSystem codec) -> parse rate/channels/frames +
    // sample mean back (byte-walk DECODE with AudioSystem fallback);
    // DuckDB recomputes from the hex
    QuerySpec("q_audio_roundtrip", (s, dir) => {
      import s.implicits._
      implicit val enc =
        org.apache.spark.sql.Encoders.product[MultimodalOps.MediaAsset]
      val assets = docs(s, dir)
        .select(col("doc_id"), md5(col("text")).as("h"))
        .as[(Long, String)]
        .map { case (id, h) =>
          val b = MultimodalOps.hexBytes(h)
          val samples = Array.tabulate(8)(i =>
            (((b(2 * i) << 8) | b(2 * i + 1)) & 0xffff).toShort)
          MultimodalOps.MediaAsset(id, "audio/wav",
            MultimodalOps.pcm16WavBytes(samples, 8000f)) }
      MultimodalOps.decodeAudio(assets).toDF()
        .select(col("asset_id").as("doc_id"), col("sample_rate"),
          col("channels"), col("n_frames"),
          round(col("mean_sample"), 6).as("mean_sample"))
    },
      // WAV PCM16 roundtrip: the engine's samples are consecutive md5 byte
      // pairs as signed big-endian shorts; AudioSystem parse must recover
      // rate/channels/frames and the exact sample mean
      """WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
        |s AS (SELECT doc_id,
        |  CAST(('0x' || substring(h, 4*i+1, 2)) AS INT) * 256
        |    + CAST(('0x' || substring(h, 4*i+3, 2)) AS INT) AS u
        |  FROM (SELECT doc_id, h, unnest(generate_series(0, 7)) AS i
        |        FROM d)),
        |sg AS (SELECT doc_id,
        |  CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v FROM s)
        |SELECT doc_id, CAST(8000.0 AS DOUBLE) AS sample_rate,
        |       1 AS channels, CAST(8 AS BIGINT) AS n_frames,
        |       round(avg(v), 6) AS mean_sample
        |FROM sg GROUP BY doc_id""".stripMargin),
    // video container metadata: each doc's md5 bytes pick the parameters
    // of a minimal VALID MP4 (ISO-BMFF ENCODE), the box-walk kernel reads
    // duration/timescale/tracks/codec/dimensions back, and DuckDB
    // re-derives every field straight from the hex — a real parse of the
    // exact surface a pipeline filters video on before decoding
    QuerySpec("q_video_meta", (s, dir) => {
      import s.implicits._
      implicit val enc =
        org.apache.spark.sql.Encoders.product[MultimodalOps.MediaAsset]
      val assets = docs(s, dir)
        .select(col("doc_id"), md5(col("text")).as("h"))
        .as[(Long, String)]
        .map { case (id, h) =>
          val b = MultimodalOps.hexBytes(h)
          MultimodalOps.MediaAsset(id, "video/mp4", MultimodalOps.tinyMp4(
            timescale = 1000L + b(0),
            duration = b(1) * 256L + b(2),
            width = 16 * (1 + b(3) % 16),
            height = 16 * (1 + b(4) % 16),
            fourcc = Seq("avc1", "hvc1", "vp09", "av01")(b(5) % 4),
            nTracks = 1 + b(6) % 3)) }
      MultimodalOps.videoContainerMeta(assets).toDF()
        .select(col("asset_id").as("doc_id"),
          round(col("duration_ms"), 6).as("duration_ms"),
          col("timescale"), col("n_tracks"), col("codec"),
          col("width"), col("height"))
    },
      // the engine builds a minimal MP4 from each doc's md5 bytes and
      // box-walks it back; the container fields must equal the md5-derived
      // parameters they were encoded from
      """WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
        |b AS (SELECT doc_id,
        |  CAST(('0x' || substring(h, 1, 2)) AS INT) AS b0,
        |  CAST(('0x' || substring(h, 3, 2)) AS INT) AS b1,
        |  CAST(('0x' || substring(h, 5, 2)) AS INT) AS b2,
        |  CAST(('0x' || substring(h, 7, 2)) AS INT) AS b3,
        |  CAST(('0x' || substring(h, 9, 2)) AS INT) AS b4,
        |  CAST(('0x' || substring(h, 11, 2)) AS INT) AS b5,
        |  CAST(('0x' || substring(h, 13, 2)) AS INT) AS b6
        |  FROM d)
        |SELECT doc_id,
        |  round((b1 * 256 + b2) * 1000.0 / (1000 + b0), 6) AS duration_ms,
        |  CAST(1000 + b0 AS BIGINT) AS timescale,
        |  1 + b6 % 3 AS n_tracks,
        |  CASE b5 % 4 WHEN 0 THEN 'avc1' WHEN 1 THEN 'hvc1'
        |    WHEN 2 THEN 'vp09' ELSE 'av01' END AS codec,
        |  16 * (1 + b3 % 16) AS width,
        |  16 * (1 + b4 % 16) AS height
        |FROM b""".stripMargin),
    // video FRAME decode: each doc becomes a 2-frame MPNG-in-AVI (PNG
    // stills in a RIFF container — lossless, so the decoded pixels are
    // SQL-recomputable; the lossy MJPG sibling rides the identical walk
    // and is spec-gated instead). Frame 0's 4x4 gray pixels are md5(text)
    // bytes, frame 1's are md5(md5(text)) bytes; the kernel walks the
    // movi list, ImageIO-decodes each chunk, and DuckDB re-derives every
    // frame's mean straight from the hex.
    QuerySpec("q_video_frames", (s, dir) => {
      import s.implicits._
      implicit val enc =
        org.apache.spark.sql.Encoders.product[MultimodalOps.MediaAsset]
      val assets = docs(s, dir)
        .select(col("doc_id"), md5(col("text")).as("h0"),
          md5(md5(col("text"))).as("h1"))
        .as[(Long, String, String)]
        .map { case (id, h0, h1) =>
          MultimodalOps.MediaAsset(id, "video/x-msvideo",
            MultimodalOps.framesAvi(Seq(
              MultimodalOps.grayPngBytes(MultimodalOps.hexBytes(h0), 4, 4),
              MultimodalOps.grayPngBytes(MultimodalOps.hexBytes(h1), 4, 4)),
              width = 4, height = 4, fps = 10, fourcc = "MPNG")) }
      MultimodalOps.decodeVideoFrames(assets).toDF()
        .select(col("asset_id").as("doc_id"), col("frame_idx"),
          col("width"), col("height"),
          round(col("mean_pixel"), 6).as("mean_pixel"))
    },
      // video frame decode: frame 0's pixels are md5(text) bytes, frame 1's
      // are md5(md5(text)) bytes — the AVI walk + per-frame PNG decode must
      // recover each frame's exact pixel mean
      """WITH d AS (SELECT doc_id, md5(text) AS h0,
        |                  md5(md5(text)) AS h1 FROM documents),
        |u AS (SELECT doc_id, h0, h1,
        |             unnest(generate_series(0, 1)) AS f FROM d),
        |v AS (SELECT doc_id, f,
        |             CASE WHEN f = 0 THEN h0 ELSE h1 END AS h FROM u),
        |b AS (SELECT doc_id, f,
        |  avg(CAST(('0x' || substring(h, 2*i+1, 2)) AS INT)) AS m
        |  FROM (SELECT doc_id, f, h, unnest(generate_series(0, 15)) AS i
        |        FROM v)
        |  GROUP BY doc_id, f)
        |SELECT doc_id, CAST(f AS INT) AS frame_idx,
        |       4 AS width, 4 AS height, round(m, 6) AS mean_pixel
        |FROM b""".stripMargin),
    // the LOSSY sibling, hash-gated: each doc becomes a 4-frame MJPG-in-
    // AVI whose frame f is a CONSTANT-gray 8x8 JPEG (quality 1.0) valued
    // at md5 byte f. Constant DC-only blocks survive the real JPEG
    // quantize/Huffman/IDCT pipeline EXACTLY for all 256 values
    // (MultimodalOps.grayJpegBytes, spec-proven), so the decoded mean of
    // a genuinely lossy codec becomes SQL-recomputable from the hex —
    // the same movi walk as q_video_frames, ImageIO JPEG decode branch.
    QuerySpec("q_video_frames_mjpg", (s, dir) => {
      import s.implicits._
      implicit val enc =
        org.apache.spark.sql.Encoders.product[MultimodalOps.MediaAsset]
      val assets = docs(s, dir)
        .select(col("doc_id"), md5(col("text")).as("h"))
        .as[(Long, String)]
        .mapPartitions { it =>
          // only 256 constant tiles exist: memoize the (deterministic)
          // JPEG encode per partition so the fixture build costs at most
          // 256 ImageIO writer dispatches per task, not 4 per document —
          // the DECODE through the movi walk (the operator under test)
          // still runs per frame on every asset
          val tiles = scala.collection.mutable.HashMap.empty[Int, Array[Byte]]
          def tile(v: Int): Array[Byte] = tiles.getOrElseUpdate(v,
            MultimodalOps.grayJpegBytes(Array.fill(64)(v), 8, 8))
          it.map { case (id, h) =>
            val b = MultimodalOps.hexBytes(h)
            MultimodalOps.MediaAsset(id, "video/x-msvideo",
              MultimodalOps.framesAvi((0 until 4).map(f => tile(b(f))),
                width = 8, height = 8, fps = 10, fourcc = "MJPG")) } }
      MultimodalOps.decodeVideoFrames(assets).toDF()
        .select(col("asset_id").as("doc_id"), col("frame_idx"),
          col("width"), col("height"),
          round(col("mean_pixel"), 6).as("mean_pixel"))
    },
      // MJPG twin: frame f is a constant 8x8 tile valued at md5 byte f, and
      // constant blocks roundtrip EXACTLY through quality-1.0 JPEG, so the
      // decoded mean is simply that byte
      """WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
        |u AS (SELECT doc_id, h,
        |             unnest(generate_series(0, 3)) AS f FROM d)
        |SELECT doc_id, CAST(f AS INT) AS frame_idx,
        |       8 AS width, 8 AS height,
        |       round(CAST(CAST(('0x' || substring(h, 2*f+1, 2)) AS INT)
        |                  AS DOUBLE), 6) AS mean_pixel
        |FROM u""".stripMargin),
    // batched per-partition media kernel (stub decode — md5-derived, so
    // the DuckDB oracle replicates it bit-for-bit)
    QuerySpec("q_frame_features", (s, dir) =>
      MultimodalOps.frameFeatures(
        MultimodalOps.asAssets(docs(s, dir), "doc_id", "text", "text/plain"),
        framesPerAsset = 2, featureDim = 4)
        .toDF()
        .select(col("asset_id"), col("frame_idx"),
          round(element_at(col("feature"), 1).cast("double"), 6).as("f0"),
          round(element_at(col("feature"), 4).cast("double"), 6).as("f3")), {
      // mirrors MultimodalOps.frameFeatures' md5 stub kernel: feature[j] =
      // first 24 bits of md5(md5(content) || ':' || frame || ':' || j) / 2^24
      def featSql(j: Int): String =
        s"CAST(('0x' || substring(md5(md5(text) || ':' || f || ':$j'), 1, 6)) AS BIGINT)" +
          " / 16777216.0"
      s"""SELECT doc_id AS asset_id, f AS frame_idx,
         |  round(${featSql(0)}, 6) AS f0,
         |  round(${featSql(3)}, 6) AS f3
         |FROM documents
         |CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS f)""".stripMargin
    }),
  )
}
