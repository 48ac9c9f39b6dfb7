package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{load => T}
import graft.multimodal.Multimodal

/** North-star multimodal query: documents' text treated as an opaque media
  * payload — byte length, content hash, fake decode dimensions, frame-plan
  * size. The UDF decode path is exercised in ScalaTest; this query uses the
  * native (oracle-checkable) projection.
  */
object MultimodalQueries {

  def all: Seq[Q] = Seq(
    Q("q40_multimodal_meta", Q.sql("""
        SELECT doc_id, strlen(text) AS n_bytes, md5(text) AS content_hash,
          ascii(substr(text, 1, 1)) % 64 + 16 AS width,
          ascii(substr(text, 2, 1)) % 64 + 16 AS height,
          round((ascii(substr(text, 1, 1)) % 64 + 16) * 1.0
            / (ascii(substr(text, 2, 1)) % 64 + 16), 6) AS aspect,
          CAST(floor(strlen(text) / 100) AS INT) + 1 AS n_frames
        FROM documents
        ORDER BY doc_id"""))(
      (s, dir) =>
        Multimodal.nativeMeta(
            T(s, dir, "documents").select("doc_id", "text"), col("text"))
          .withColumn("aspect",
            round(col("width") * lit(1.0) / col("height"), 6))
          .withColumn("n_frames",
            floor(col("n_bytes") / 100).cast("int") + 1)
          .select("doc_id", "n_bytes", "content_hash", "width", "height",
            "aspect", "n_frames")
          .orderBy("doc_id")),

    // Stub-decode → RESIZE: the thumbnail/feature-extract step of a
    // media pipeline ([[Multimodal.pooledFeatures]]) — 16×16 fake-decoded
    // codepoint grid average-pooled 2×2 to an 8×8 feature map, all
    // exact integer math. The decode is the documented stub; the
    // explode/aggregate batch shape is the real pipeline (per-row grid
    // fan-out, no shuffle before the cell aggregation). 64 feature rows
    // per payload.
    Q("q301_pixel_pool", Q.sql("""
        WITH g AS (
          SELECT doc_id, pos,
            ascii(substr(rpad(text, 256, ' '), CAST(pos + 1 AS INT), 1)) AS v
          FROM documents, LATERAL (
            SELECT unnest(generate_series(0, 255)) AS pos) t)
        SELECT doc_id, CAST(pos // 32 AS INT) AS pool_y,
          CAST((pos % 16) // 2 AS INT) AS pool_x,
          CAST(sum(v) // 4 AS BIGINT) AS pool_val
        FROM g GROUP BY 1, 2, 3
        ORDER BY doc_id, pool_y, pool_x"""))(
      (s, dir) =>
        Multimodal.pooledFeatures(
            T(s, dir, "documents").select("doc_id", "text"),
            col("doc_id"), col("text"))
          .select(col("id").as("doc_id"), col("pool_y"), col("pool_x"),
            col("pool_val"))
          .orderBy("doc_id", "pool_y", "pool_x")),

    // REAL pixel decode under the oracle gate: per doc a deterministic
    // RGB raster (closed-form pixel values) is encoded to a genuine
    // PNG — zlib deflate, CRC32 chunks, row filters cycling through
    // all five spec types — then FULLY decoded back (inflate +
    // unfilter) by [[graft.multimodal.PngCodec]], and the per-channel
    // pixel sums are emitted. The oracle never sees the bytes: it
    // re-derives the sums analytically from the pixel formula, so any
    // codec bug (filter math, CRC, truncation handling) breaks the
    // hash compare. Pure-JVM `java.util.zip` — the decode boundary is
    // no longer a stub for PNG.
    Q("q348_png_roundtrip", Q.sql("""
        WITH ids AS (SELECT doc_id AS id FROM documents),
        px AS (
          SELECT id, xs.x, ys.y FROM ids,
            LATERAL (SELECT unnest(generate_series(0,
              CAST(16 + id % 16 AS BIGINT) - 1)) AS x) xs,
            LATERAL (SELECT unnest(generate_series(0,
              CAST(16 + (id * 3) % 16 AS BIGINT) - 1)) AS y) ys)
        SELECT id AS doc_id,
          CAST(16 + id % 16 AS INT) AS width,
          CAST(16 + (id * 3) % 16 AS INT) AS height,
          CAST(sum((7 * x + 3 * y + id) % 256) AS BIGINT) AS r_sum,
          CAST(sum((5 * x + 11 * y + 2 * id) % 256) AS BIGINT) AS g_sum,
          CAST(sum((13 * x + y + 3 * id) % 256) AS BIGINT) AS b_sum
        FROM px GROUP BY 1, 2, 3 ORDER BY doc_id"""))(
      (s, dir) =>
        T(s, dir, "documents").select(col("doc_id"))
          .withColumn("m",
            graft.multimodal.MediaPipeline.pngRoundtrip(col("doc_id")))
          .select(col("doc_id"), col("m.width").as("width"),
            col("m.height").as("height"), col("m.r_sum").as("r_sum"),
            col("m.g_sum").as("g_sum"), col("m.b_sum").as("b_sum"))
          .orderBy("doc_id")),

    // REAL sample decode for audio: deterministic s16le PCM (mono and
    // stereo alternating by id) encoded to a genuine RIFF/WAVE
    // container, decoded back sample-for-sample by
    // [[graft.multimodal.WavCodec]], energy stats (exact BIGINT sum of
    // squares + peak) emitted; the oracle replays the sample formula
    // with generate_series.
    Q("q349_wav_roundtrip", Q.sql("""
        WITH ids AS (SELECT doc_id AS id FROM documents),
        par AS (
          SELECT id, CAST(8000 + (id % 4) * 4000 AS INT) AS rate,
            CAST(1 + id % 2 AS INT) AS channels,
            CAST(500 + (id % 10) * 100 AS BIGINT) AS frames
          FROM ids),
        smp AS (
          SELECT id, rate, channels, frames,
            ((k * 37 + id * 11) % 4096) - 2048 AS s
          FROM par, LATERAL (SELECT unnest(generate_series(0,
            frames * channels - 1)) AS k) t)
        SELECT id AS doc_id, rate, channels, frames,
          CAST(sum(s * s) AS BIGINT) AS sum_sq,
          CAST(max(abs(s)) AS BIGINT) AS peak
        FROM smp GROUP BY 1, 2, 3, 4 ORDER BY doc_id"""))(
      (s, dir) =>
        T(s, dir, "documents").select(col("doc_id"))
          .withColumn("m",
            graft.multimodal.MediaPipeline.wavRoundtrip(col("doc_id")))
          .select(col("doc_id"), col("m.rate").as("rate"),
            col("m.channels").as("channels"), col("m.frames").as("frames"),
            col("m.sum_sq").as("sum_sq"), col("m.peak").as("peak"))
          .orderBy("doc_id"))
  )
}
