package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.ops.Frames.spread

/** Token-window chunking — the sequence-preparation step a training
  * pipeline runs between curation and tokenization: split each document
  * into fixed-size overlapping token windows (context-length packing
  * feeds on these chunks; retrieval indexes embed them) — and
  * content-defined chunking ([[contentDefined]]), whose cut points move
  * with the content so shared passages chunk alike across documents.
  *
  * Scale: narrow projection → one generator explode per document — no
  * shuffle at all; the chunk stream inherits the scan partitioning
  * (after a [[graft.ops.Frames.spread]] so a few huge documents cannot
  * pin one task). Output rows carry the 48-bit chunk hash, not the text,
  * when only downstream joins are needed.
  */
object Chunking {

  /** One row per (id, chunk): chunk_id (0-based), n_tokens (actual window
    * length, `<= width`), chunk text, and its 48-bit hash. Windows start
    * every `stride` tokens; the final window may be shorter. Empty
    * documents yield one empty chunk (same on the oracle side).
    */
  def chunks(df: DataFrame, idCol: Column, textCol: Column,
             width: Int, stride: Int): DataFrame = {
    require(width > 0 && stride > 0)
    val ws = TextAnalysis.tokens(TextAnalysis.normalizeText(textCol))
    spread(df)
      .select(idCol.as("id"), ws.as("ws"))
      .select(col("id"), col("ws"),
        posexplode(transform(
          sequence(lit(1), greatest(size(col("ws")), lit(1)), lit(stride)),
          i => concat_ws(" ", slice(col("ws"), i, lit(width))))))
      .select(col("id"), col("pos").cast("int").as("chunk_id"),
        least(lit(width), size(col("ws")) - col("pos") * stride).cast("int").as("n_tokens"),
        col("col").as("chunk"),
        Hashing.hash48(col("col")).as("chash"))
  }

  /** Content-defined chunks (the LBFS/rsync/FastCDC idea) of each row's
    * `norm` text: one row per (id, chunk) with `chunk` (1-based), `clen`
    * (8-char windows in the chunk) and `sig` (sum of the windows' 48-bit
    * hashes mod 2^48). Window i (1-based, i <= n = length - 7) hashes
    * `substr(norm, i, 8)`; a window whose hash is ≡ 0 (mod 64) is the
    * last window of its chunk, and window n closes the final chunk.
    * Texts under 8 chars, or null, emit no chunk.
    *
    * Plan: per row, the window hashes `hs` are one long array; the chunk
    * ends are a scan over it, and chunk k's length and sum come from the
    * slice `(ends[k-1], ends[k]]` of `hs`. So the only rows are chunk
    * rows: no per-window rows, no sort by position, no shuffle. A row
    * holds its arrays in one task: the higher-order functions box their
    * elements, so about 50 bytes per char of text by object sizes
    * (SCALE.md, "q307 re-probed with sort-free chunking"). The long sum
    * overflows (under ANSI) exactly where a `sum` aggregate over the
    * windows would.
    */
  def contentDefined(df: DataFrame, idCol: Column, normCol: Column): DataFrame = {
    val norm = col("norm")
    // sequence(1, n) steps BACKWARD for n < 1: texts under 8 chars get
    // null instead, which emits no chunk
    val hs = when(length(norm) >= 8,
      transform(sequence(lit(1), length(norm) - 7),
        i => Hashing.hash48(norm.substr(i, lit(8)))))
    // one projection per derived value: the optimizer keeps a Project
    // whose output is read more than once, so the text and the arrays are
    // built once per row, not once per lambda call that reads them
    df.select(idCol.as("id"), normCol.as("norm"))
      .select(col("id"), hs.as("hs"))
      .select(col("id"), col("hs"),
        array_distinct(concat(
          filter(transform(col("hs"), (h, i) => when(h % 64 === 0, i + 1)),
            _.isNotNull),
          array(size(col("hs"))))).as("ends"))
      .select(col("id"), posexplode(transform(col("ends"), (e, k) => {
        val start = coalesce(get(col("ends"), k - 1), lit(0))
        struct((e - start).as("clen"),
          aggregate(slice(col("hs"), start + 1, e - start), lit(0L),
            (acc, h) => acc + h).as("sum"))
      })).as(Seq("k", "c")))
      .select(col("id"), (col("k") + 1).as("chunk"), col("c.clen").as("clen"),
        (col("c.sum").cast("decimal(38,0)") % lit(1L << 48)).cast("long").as("sig"))
  }

  /** DuckDB CTE (oracle-side dialect) for the same chunking over a words
    * CTE `w(id, ws)`: emits `ch(id, chunk_id, n_tokens, chunk, chash)`.
    * `//` is DuckDB integer division (exact here: starts are 1 + k*stride).
    */
  def oracleCte(width: Int, stride: Int): String = {
    val chash = graft.functions.PortableSql.hexToLong("md5(chunk)", 12)
    s"""ch0 AS (
       SELECT id, CAST((pos - 1) // $stride AS INT) AS chunk_id,
         CAST(least($width, len(ws) - pos + 1) AS INT) AS n_tokens,
         array_to_string(ws[pos:pos + ${width - 1}], ' ') AS chunk
       FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(ws), 1), $stride)) AS pos) t),
     ch AS (SELECT *, $chash AS chash FROM ch0)"""
  }
}
