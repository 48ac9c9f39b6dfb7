package graft.versioned

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Versioned parquet table — the engine's replacement for the reference's
  * Delta-Lake layer (SURVEY.md §2.13 V1–V8; no Delta jars in this
  * environment).
  *
  * Reference surface re-expressed:
  *  - V1 `CONVERT TO DELTA` (`delta_lake.py:17-30`)        → [[VersionedTable.convert]]
  *  - V2 `OPTIMIZE … ZORDER` (`delta_lake.py:54-67`)       → [[VersionedTable#compact]]
  *  - V3 `DESCRIBE HISTORY` (`update_versioning.py:17-19`) → [[VersionedTable#history]]
  *  - V4 `UPDATE … SET … WHERE` (`update_versioning.py:40-44`) → [[VersionedTable#update]]
  *  - V5 time travel `t@v4` (`update_versioning.py:58-67`) → [[VersionedTable#asOf]]
  *  - V6 `RESTORE TABLE` (`update_versioning.py:76-79`)    → [[VersionedTable#restore]]
  *  - V7 schema enforcement (`lakehouse_data_igestion.py:126-128`) → append throws on mismatch
  *  - V8 schema evolution via mergeSchema (`lakehouse_data_igestion.py:202-212`) → `append(df, mergeSchema = true)`
  *
  * == Design ==
  *
  * A table is a directory containing immutable parquet data files plus an
  * append-only JSON manifest log:
  *
  * {{{
  * table/
  *   _graft_log/v00000000.json    // {version, operation, schema, files[]}
  *   _graft_log/v00000001.json
  *   data/b0000-<uuid>/part-*.parquet
  *   data/b0001-<uuid>/part-*.parquet
  * }}}
  *
  * Each manifest entry lists the complete set of data files visible at that
  * version (relative paths) and the table schema JSON. Data files are
  * NEVER mutated or deleted by state transitions — append writes a new
  * batch directory and a manifest whose file list is `old ++ new`; update
  * and compact write rewritten files and a manifest referencing only the
  * new ones; restore writes a manifest that re-points at an old version's
  * file list. Time travel is therefore just "read the files of manifest v".
  *
  * == Atomicity / scale ==
  *
  *  - Commit protocol: write data files first, then the manifest via
  *    temp-file + atomic rename. Readers resolve the latest committed
  *    manifest; a crashed writer leaves only unreferenced data files
  *    (garbage, never corruption).
  *  - The manifest holds file PATHS, not data — O(#files), driver-side
  *    JSON. At 100 TB with ~512 MB files that is ~200k entries; fine for a
  *    JSON blob, and reads pass the explicit file list to the parquet
  *    source, skipping directory listing entirely.
  *  - Appends touch only the new batch (no read-amplification).
  *    UPDATE/DELETE/MERGE are FILE-PRUNED copy-on-write: a pushed-down
  *    probe finds the files that actually hold matching rows (parquet
  *    footer stats skip clean row groups), only those rewrite, and every
  *    untouched file's path is carried verbatim into the new manifest —
  *    write amplification scales with matched files, not table size
  *    (see [[VersionedTable#update]]; [[VersionedTable#history]] records
  *    the added/removed file counts per commit).
  *  - Schema evolution stores the widened schema in the manifest; reads
  *    apply it with `spark.read.schema(widened)`, which null-pads columns
  *    missing from older files — no data rewrite on evolution.
  *  - Z-order ([[VersionedTable#zorder]]) clusters on a true Morton key —
  *    [[graft.functions.ZOrder]] bit-interleaves the rank-normalized
  *    dimension values — so parquet row-group min/max skipping is
  *    effective on EVERY z-ordered column, not just the leading sort key;
  *    [[VersionedTable#compact]] remains the cheaper single-column
  *    range-sort clustering for one-dimensional access patterns.
  */
final class VersionedTable private (val spark: SparkSession, val root: String) {
  import VersionedTable._

  private val rootPath = new Path(root)
  private def fs: FileSystem =
    rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def logDir = new Path(rootPath, LogDir)

  // ---- manifest log -------------------------------------------------------

  private def manifestPath(v: Long) = new Path(logDir, f"v$v%08d.json")

  private def listVersions(): Seq[Long] = {
    val f = fs
    if (!f.exists(logDir)) Nil
    else f.listStatus(logDir).toSeq
      .map(_.getPath.getName)
      .collect { case ManifestName(v) => v.toLong }
      .sorted
  }

  /** Parsed log entries are immutable once renamed into place, so they
    * cache safely for the table handle's lifetime. DELTA entries are
    * O(commit) and cache unboundedly; SNAPSHOT entries are O(table file
    * count) — one lands every CheckpointInterval commits, so a
    * long-lived handle (a streaming foreachBatch ingest) caching them
    * all would accumulate unbounded snapshot copies. A single slot
    * holds the newest snapshot read — the only one resolution walks
    * revisit; older checkpoints are re-read from disk in the rare
    * time-travel that needs them.
    */
  private val entryCache =
    scala.collection.concurrent.TrieMap.empty[Long, LogEntry]
  private val snapSlot =
    new java.util.concurrent.atomic.AtomicReference[(Long, LogEntry)](null)

  /** CAS loop: concurrent readers/committers each try to install their
    * snapshot, and the NEWEST version always wins — a plain volatile
    * check-then-act could interleave and leave an older snapshot in the
    * slot (extra re-reads on the next resolution walk; ADVICE r10).
    */
  private def offerSnap(v: Long, e: LogEntry): Unit = {
    var done = false
    while (!done) {
      val cur = snapSlot.get()
      done = (cur != null && cur._1 > v) || snapSlot.compareAndSet(cur, (v, e))
    }
  }

  private def readEntry(v: Long): LogEntry = {
    val slot = snapSlot.get()
    if (slot != null && slot._1 == v) slot._2
    else entryCache.get(v) match {
      case Some(e) => e
      case None =>
        val in = fs.open(manifestPath(v))
        val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
        finally in.close()
        val e = LogEntry.fromJson(new String(bytes, StandardCharsets.UTF_8))
        if (e.snapshot.isDefined) offerSnap(v, e)
        else entryCache.put(v, e)
        e
    }
  }

  /** Reconstruct the full table state at version `v`: walk back to the
    * nearest SNAPSHOT entry (a checkpoint, version 0, or any legacy
    * full manifest), then fold the delta entries forward — files =
    * snapshot minus removes plus adds, stats likewise. Bounded by
    * [[VersionedTable.CheckpointInterval]] entry reads, each O(commit
    * delta), never O(versions · files).
    */
  private def readManifest(v: Long): Manifest = {
    var chain = List.empty[LogEntry]
    var w = v
    var snap: LogEntry = null
    while (snap == null) {
      require(w >= 0, s"no snapshot entry at or below version $v in $root")
      val e = readEntry(w)
      if (e.snapshot.isDefined) snap = e
      else { chain = e :: chain; w -= 1 }
    }
    var files = snap.snapshot.get
    var stats = snap.stats
    var last = snap
    chain.foreach { e =>
      val rm = e.remove.toSet
      files = files.filterNot(rm) ++ e.add
      stats = (stats -- e.remove) ++ e.stats
      last = e
    }
    Manifest(last.version, last.operation, last.schema, files, stats)
  }

  /** Atomic commit: temp file + no-overwrite rename via `FileContext`,
    * which throws `FileAlreadyExistsException` if the destination exists —
    * unlike `FileSystem.rename`, whose local-FS implementation happily
    * OVERWRITES an existing destination (POSIX rename), which would
    * silently drop one of two racing commits. On object stores swap in a
    * conditional put.
    */
  private def commit(m: Manifest): Unit = {
    val f = fs
    f.mkdirs(logDir)
    // Incremental log (the Delta design): a routine commit persists only
    // its DELTA — files added and removed vs the predecessor — so the
    // log write is O(commit), not O(table): a one-batch append to a
    // 200k-file table writes a few hundred bytes, not a multi-MB
    // snapshot, and a streaming foreachBatch ingest (q297) stops
    // rewriting the world per micro-batch. Every CheckpointInterval-th
    // version writes a full SNAPSHOT entry instead, bounding
    // reconstruction walk-back; version 0 is always a snapshot.
    // Stats-in-log enrichment rides the same split: only the ADDED
    // files pay a footer read (callers that re-add known files — e.g.
    // RESTORE — pass their stats through m.stats and pay nothing);
    // checkpoint entries also heal stats missing from legacy chains.
    val prev: Option[Manifest] =
      if (m.version == 0) None
      else scala.util.Try(readManifest(m.version - 1)).toOption
    val prevFiles = prev.fold(Set.empty[String])(_.files.toSet)
    val prevStats = prev.fold(Map.empty[String, ColStats])(_.stats)
    val added = m.files.filterNot(prevFiles)
    val removed = prev.fold(Seq.empty[String])(
      _.files.filterNot(m.files.toSet))
    def statsFor(fl: String): ColStats =
      m.stats.getOrElse(fl, prevStats.getOrElse(fl, collectFileStats(fl)))
    val entry =
      if (prev.isEmpty || m.version % CheckpointInterval == 0)
        LogEntry(m.version, m.operation, m.schema, Some(m.files),
          Nil, Nil, m.files.map(fl => fl -> statsFor(fl)).toMap)
      else
        LogEntry(m.version, m.operation, m.schema, None, added, removed,
          added.map(fl => fl -> statsFor(fl)).toMap)
    val tmp = new Path(logDir, s".tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try out.write(entry.toJson.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      rootPath.toUri, spark.sparkContext.hadoopConfiguration)
    try fc.rename(tmp, manifestPath(m.version)) // Rename.NONE: no overwrite
    catch { case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
      f.delete(tmp, false)
      throw new IllegalStateException(
        s"concurrent commit detected for version ${m.version} of $root", e)
    }
    // Mirror readEntry's routing: O(file-count) SNAPSHOT entries go to
    // the single newest-snapshot slot, only O(1) delta entries into the
    // unbounded map — otherwise a long-lived writer handle (streaming
    // foreachBatch ingest) accumulates every checkpoint it writes.
    if (entry.snapshot.isDefined) {
      offerSnap(m.version, entry)
    } else {
      val _ = entryCache.put(m.version, entry)
    }
  }

  private def latest(): Manifest = {
    val vs = listVersions()
    require(vs.nonEmpty, s"$root is not a versioned table (empty $LogDir)")
    readManifest(vs.last)
  }

  // ---- write paths --------------------------------------------------------

  /** Write `df` as a new immutable batch directory; returns relative file
    * paths of the written parquet parts.
    */
  private def writeBatch(df: DataFrame, version: Long): Seq[String] = {
    val batch = f"data/b$version%04d-${java.util.UUID.randomUUID().toString.take(8)}"
    val dir = new Path(rootPath, batch)
    df.write.mode("errorifexists").parquet(dir.toString)
    val f0 = fs
    f0.listStatus(dir).toSeq
      .filter(s => s.getPath.getName.endsWith(".parquet"))
      .map(s => s"$batch/${s.getPath.getName}")
  }

  /** V7/V8: append a batch. Without `mergeSchema` the incoming schema must
    * match the table schema exactly (names + types, order-insensitive) or
    * this throws (`lakehouse_data_igestion.py:126-128`). With `mergeSchema`
    * the table schema widens to the union and old files are null-padded at
    * read (`lakehouse_data_igestion.py:202-212`).
    *
    * OPTIMISTIC CONCURRENCY: two appends never conflict logically (each
    * adds its own immutable batch), so a lost commit race — the
    * no-overwrite rename lands on a version another writer just took —
    * is resolved by re-reading the new latest, re-running the schema
    * check against the winner (the winner may have evolved the schema),
    * and re-committing the SAME already-written batch on top, up to
    * [[VersionedTable.MaxCommitRetries]] times. The data files are never
    * rewritten on retry — only the manifest rebases. UPDATE/DELETE get
    * the same treatment when their touched-file sets are disjoint from
    * the winner's ([[commitRewrite]]); merge/restore/compact computed
    * their output against the WHOLE base version, so a lost race there
    * still throws: the caller must re-read and re-derive. (The batch directory name
    * carries the version the writer FIRST targeted; the committed
    * version may be higher after a rebase — paths are opaque, the
    * manifest is the truth.)
    */
  def append(df: DataFrame, mergeSchema: Boolean = false): VersionedTable = {
    def checkedSchema(tableSchema: StructType): StructType = {
      val incoming = df.schema
      if (sameSchema(tableSchema, incoming)) tableSchema
      else if (mergeSchema) unionSchema(tableSchema, incoming)
      else throw new IllegalArgumentException(
        s"""schema mismatch appending to $root:
           |  table:    ${tableSchema.simpleString}
           |  incoming: ${incoming.simpleString}
           |Set mergeSchema = true to evolve the table schema.""".stripMargin)
    }
    val cur = latest()
    val merged = checkedSchema(cur.schema)
    val files = writeBatch(df, cur.version + 1)
    @annotation.tailrec
    def attempt(base: Manifest, schema: StructType, retriesLeft: Int): Unit = {
      val won =
        try { commit(Manifest(base.version + 1, "APPEND", schema, base.files ++ files)); true }
        catch {
          case e: IllegalStateException =>
            if (retriesLeft <= 0) throw new IllegalStateException(
              s"append to $root lost ${MaxCommitRetries + 1} consecutive " +
                "commit races; giving up (written batch left for vacuum)", e)
            false
        }
      if (!won) {
        val now = latest()
        attempt(now, checkedSchema(now.schema), retriesLeft - 1)
      }
    }
    attempt(cur, merged, MaxCommitRetries)
    this
  }

  /** V4: `UPDATE table SET c = expr WHERE cond` as copy-on-write
    * (`update_versioning.py:40-44`). Rows matching `cond` get each
    * (column -> expression) applied; all rows are preserved.
    *
    * PRUNED copy-on-write: one probe job finds the files that actually
    * contain matching rows (predicate-pushdown scan collecting
    * `input_file_name` — parquet footer stats skip untouched row groups,
    * so a clustered table's probe is near-metadata-cost), ONLY those are
    * rewritten, and every untouched file is carried forward unchanged in
    * the manifest (mixed old + new file list). Write amplification scales
    * with the matched-file count, not the table — and [[changes]] feeds
    * become touched-files-only for free.
    */
  def update(cond: Column, set: Map[String, Column]): VersionedTable =
    updateAtVersion(latest().version, cond, set)

  /** [[update]] against an explicit base version — the `private[graft]`
    * split exists so the concurrency spec can deterministically stage
    * the stale-base race [[commitRewrite]] resolves (two writers that
    * both derived from the same base). Not a public time-travel write:
    * callers go through [[update]], which always bases on latest.
    */
  private[graft] def updateAtVersion(baseV: Long, cond: Column,
                                     set: Map[String, Column]): VersionedTable = {
    val cur = readManifest(baseV)
    val cols = cur.schema.fieldNames
    val unknown = set.keySet -- cols.toSet
    require(unknown.isEmpty,
      s"UPDATE on $root sets non-existent column(s): ${unknown.mkString(", ")}")
    val (touched, _) = partitionByPredicate(cur, cond)
    // single projection: every SET expression reads the OLD row (SQL
    // UPDATE semantics) — a sequential withColumn fold would let later
    // assignments observe earlier ones
    val updated = readFiles(cur, touched).select(cols.map { c =>
      set.get(c)
        .map(e => when(cond, e).otherwise(col(s"`$c`")).as(c))
        .getOrElse(col(s"`$c`"))
    }.toSeq: _*)
    // schema enforcement: a SET expression that changes a column's type
    // would write parquet the committed schema can't read (the version
    // would be unreadable). Fail loudly instead, like the V7 append guard.
    val changed = updated.schema.fields.zip(cur.schema.fields).collect {
      case (n, o) if n.dataType != o.dataType =>
        s"${o.name}: ${o.dataType.simpleString} -> ${n.dataType.simpleString}"
    }
    require(changed.isEmpty,
      s"UPDATE on $root would change column type(s): ${changed.mkString(", ")}" +
        " — cast the SET expression to the column's type explicitly")
    val files =
      if (touched.isEmpty) Nil else writeBatch(updated, cur.version + 1)
    commitRewrite(cur, "UPDATE", touched, files)
    this
  }

  /** Optimistic commit for the UPDATE-class (copy-on-write) operations:
    * the rewrite derived (removed = the files the probe matched, added
    * = their rewritten batch) from `base`. A lost commit race rebases
    * like [[append]] — but only when the commits are provably
    * NON-CONFLICTING: every file this rewrite removes must still be
    * live in the winner's manifest (the winner neither rewrote nor
    * dropped it) and the schema must be unchanged. Then the same batch
    * recommits on top of the winner's file list — two updates touching
    * DISJOINT file sets both land, which file-pruned CoW makes the
    * common case (Delta's WriteSerializable conflict rule: concurrent
    * txns conflict iff their read/write file sets intersect). An
    * intersecting pair still throws: the loser's rewrite was derived
    * from rows the winner changed, and recommitting it would silently
    * drop the winner's edits. Note the deliberate write-skew: rows a
    * concurrent APPEND added are not re-probed (same as Delta's
    * default level; use a serial pipeline when that matters).
    */
  private def commitRewrite(base: Manifest, op: String,
                            removed: Seq[String],
                            added: Seq[String]): Unit = {
    val removedSet = removed.toSet
    @annotation.tailrec
    def attempt(cur: Manifest, retriesLeft: Int): Unit = {
      val won =
        try {
          commit(Manifest(cur.version + 1, op, base.schema,
            cur.files.filterNot(removedSet) ++ added))
          true
        } catch {
          case e: IllegalStateException =>
            if (retriesLeft <= 0) throw new IllegalStateException(
              s"$op on $root lost ${MaxCommitRetries + 1} consecutive " +
                "commit races; giving up (written batch left for vacuum)", e)
            false
        }
      if (!won) {
        val now = latest()
        if (!sameSchema(now.schema, base.schema))
          throw new IllegalStateException(
            s"$op on $root conflicts with a concurrent schema change " +
              s"(v${now.version}); re-read and re-derive")
        val gone = removedSet -- now.files.toSet
        if (gone.nonEmpty)
          throw new IllegalStateException(
            s"$op on $root conflicts with a concurrent commit that " +
              s"touched the same file(s): ${gone.take(3).mkString(", ")}" +
              (if (gone.size > 3) s" (+${gone.size - 3} more)" else "") +
              "; re-read and re-derive")
        attempt(now, retriesLeft - 1)
      }
    }
    attempt(base, MaxCommitRetries)
  }

  /** MERGE/upsert by key — REPLACE-BY-KEY semantics for a keyed serving
    * table: every target row whose key appears in `source` is replaced
    * (ALL of them, if the target holds duplicate keys — stricter than
    * Delta's row-preserving `WHEN MATCHED UPDATE`, by design: the result
    * is guaranteed to hold at most one row per source key), and source
    * rows with no target match insert. Pruned copy-on-write like
    * [[update]]: only files holding matched keys rewrite (their
    * unmatched rows carried via anti-join), and the whole source lands
    * in the new batch.
    *
    * The source plan is PERSISTED for the duration: it is consumed by
    * the dup-check, the probe, and the final write, and a
    * non-deterministic source evaluated afresh per consumer could
    * diverge between probe and write — committing a key twice with no
    * error.
    *
    * `source` must have the table schema and UNIQUE non-null keys (two
    * source rows with one key would both survive the anti-join union —
    * the ambiguity Delta rejects at runtime; NULL keys are exempt, as
    * NULL never equals a target key and both rows simply insert).
    */
  def upsert(source: DataFrame, keys: Seq[String]): VersionedTable = {
    val cur = latest()
    require(keys.nonEmpty, "upsert needs at least one key column")
    require(sameSchema(cur.schema, source.schema),
      s"""schema mismatch upserting into $root:
         |  table:  ${cur.schema.simpleString}
         |  source: ${source.schema.simpleString}""".stripMargin)
    val src = source.persist()
    try {
      val dupKeys = src
        .where(keys.map(col(_).isNotNull).reduce(_ && _))
        .groupBy(keys.map(col): _*)
        .count().where(col("count") > 1).limit(1).count()
      require(dupKeys == 0,
        s"upsert source has duplicate keys on (${keys.mkString(", ")}) — " +
          "multiple source rows would match one target row")
      val srcKeys = src.select(keys.map(col): _*)
      // Probe strategy: a single-key source with FEW distinct keys goes
      // through the PREDICATE path (isin pushes to the parquet scan →
      // footer/row-group skipping, near-metadata cost on a clustered
      // table). Everything else — compound keys, or a single-key batch
      // larger than the in-list cap (routine in a 100 TB ingest) — uses
      // the semi-join probe, which scans the table once and never
      // materializes keys on the driver. The cap probe itself collects at
      // most cap+1 rows, so driver memory is bounded no matter how large
      // the source is; the semi-join carries no broadcast hint, so AQE
      // broadcasts a small key side and shuffles a large one.
      val inlineKeys =
        if (keys.size == 1) {
          val probe = srcKeys.distinct().limit(MaxInListKeys + 1).collect()
          if (probe.length <= MaxInListKeys)
            Some(probe.map(_.get(0)).toIndexedSeq)
          else None
        } else None
      val (touched, carried) = inlineKeys match {
        case Some(ks) => partitionByPredicate(cur, col(keys.head).isin(ks: _*))
        case None => partitionByTouched(cur,
          read(cur).withColumn("__file", input_file_name())
            .join(srcKeys, keys, "left_semi")
            .select("__file"))
      }
      val kept = readFiles(cur, touched).join(srcKeys, keys, "left_anti")
      val newData = kept.select(cur.schema.fieldNames.map(c => col(s"`$c`")).toSeq: _*)
        .unionByName(src.select(cur.schema.fieldNames.map(c => col(s"`$c`")).toSeq: _*))
      val files = writeBatch(newData, cur.version + 1)
      commit(Manifest(cur.version + 1, "MERGE", cur.schema, carried ++ files))
    } finally { src.unpersist(); () }
    this
  }


  /** DELETE — companion to V4 (Delta's `DELETE FROM t WHERE cond`):
    * copy-on-write rewrite keeping only rows NOT matching `cond`, pruned
    * to the files that contain matches (see [[update]]'s probe note).
    */
  def delete(cond: Column): VersionedTable = {
    val cur = latest()
    val (touched, _) = partitionByPredicate(cur, cond)
    val kept = readFiles(cur, touched).where(!cond || cond.isNull)
    val files =
      if (touched.isEmpty) Nil else writeBatch(kept, cur.version + 1)
    commitRewrite(cur, "DELETE", touched, files)
    this
  }

  /** Split the manifest's file list into (files with rows matching
    * `cond`, files without): one distinct-`input_file_name` probe job
    * with the predicate pushed to the scan. `where(cond)` drops
    * NULL-cond rows — correct for both callers (update leaves them
    * unchanged, delete keeps them).
    */
  private def partitionByPredicate(m: Manifest, cond: Column): (Seq[String], Seq[String]) =
    partitionByTouched(m, read(m).where(cond).select(input_file_name().as("__file")))

  /** Same split, from a single-column frame of TOUCHED FILE PATHS.
    * Callers must capture `input_file_name()` below any join — Spark
    * rejects it above multi-source plans ([[upsert]] projects it before
    * its semi-join probe for exactly that reason).
    */
  private def partitionByTouched(m: Manifest, touchedFiles: DataFrame): (Seq[String], Seq[String]) = {
    if (m.files.isEmpty) return (Nil, Nil)
    val touchedUris = touchedFiles.distinct()
      .collect().map(r => new Path(new java.net.URI(r.getString(0))).toUri.getPath).toSet
    // makeQualified: a RELATIVE table root would otherwise never match the
    // absolute input_file_name paths and silently turn the rewrite into a
    // carry-everything no-op
    val f0 = fs
    m.files.partition(f =>
      touchedUris.contains(f0.makeQualified(new Path(rootPath, f)).toUri.getPath))
  }

  /** Read a subset of a manifest's files under its schema. */
  private def readFiles(m: Manifest, files: Seq[String]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], m.schema)
    else spark.read.schema(m.schema)
      .parquet(files.map(f => new Path(rootPath, f).toString): _*)

  /** VACUUM — delete data files no manifest version references (the
    * garbage a crashed writer can leave; see the commit-protocol note).
    * Unlike Delta's retention-window vacuum, every committed version here
    * stays readable forever — only never-committed files are removed.
    *
    * `minAgeMs` (default 1 h, like Delta's retention check) spares files
    * younger than the threshold: an IN-FLIGHT append has written its
    * batch but not yet committed its manifest, and deleting those files
    * would corrupt the commit when it lands. Pass 0 only when no writer
    * can be active. Returns the deleted relative paths.
    */
  def vacuum(minAgeMs: Long = 3600000L): Seq[String] = {
    val referenced: Set[String] =
      listVersions().flatMap(v => readManifest(v).files).toSet
    val f = fs
    val dataDir = new Path(rootPath, "data")
    if (!f.exists(dataDir)) return Nil
    val cutoff = System.currentTimeMillis() - minAgeMs
    val onDisk = f.listStatus(dataDir).toSeq.flatMap { batch =>
      f.listStatus(batch.getPath).toSeq
        .filter(_.getModificationTime < cutoff)
        .map(s => s"data/${batch.getPath.getName}/${s.getPath.getName}")
    }
    val garbage = onDisk.filterNot(p =>
      referenced.contains(p) || !p.endsWith(".parquet"))
    garbage.foreach(p => f.delete(new Path(rootPath, p), false))
    // drop now-empty batch dirs
    f.listStatus(dataDir).foreach { batch =>
      if (f.listStatus(batch.getPath).isEmpty) f.delete(batch.getPath, false)
    }
    garbage
  }

  /** V6: restore the table to an old version — a NEW version whose file
    * list points at the old snapshot (`update_versioning.py:76-79`); no
    * data is copied and history is preserved, matching Delta RESTORE.
    */
  def restore(v: Long): VersionedTable = {
    val target = readManifest(v)
    val cur = latest()
    // carry the target version's stats: the files this re-adds left the
    // live set, so without this the commit would re-read their footers
    commit(Manifest(cur.version + 1, s"RESTORE(v$v)", target.schema,
      target.files, target.stats))
    this
  }

  /** V2: compaction + clustering — `OPTIMIZE … ZORDER BY`
    * (`delta_lake.py:54-67`). Rewrites the table into `numFiles` files
    * range-sorted on `clusterBy`, so parquet row-group min/max statistics
    * skip non-matching files/row-groups on those columns. Range-sort
    * clusters primarily on the leading key; for multi-column skipping use
    * [[zorder]].
    */
  def compact(numFiles: Int, clusterBy: Seq[String] = Nil): VersionedTable = {
    val cur = latest()
    val base = read(cur)
    val clustered =
      if (clusterBy.isEmpty) base.repartition(numFiles)
      else base.repartitionByRange(numFiles, clusterBy.map(c => col(s"`$c`")): _*)
        .sortWithinPartitions(clusterBy.map(c => col(s"`$c`")): _*)
    val files = writeBatch(clustered, cur.version + 1)
    commit(Manifest(cur.version + 1,
      if (clusterBy.isEmpty) "COMPACT" else s"CLUSTER(${clusterBy.mkString(",")})",
      cur.schema, files))
    this
  }

  /** V2, true Z-order: rewrite clustered on the interleaved-bit Morton key
    * of `cols` ([[graft.functions.ZOrder]]) so row-group min/max skipping
    * works on EVERY z-ordered column, matching Delta's `ZORDER BY`
    * semantics (numeric columns; equi-depth quantile buckets).
    */
  def zorder(numFiles: Int, cols: Seq[String], bits: Int = 8): VersionedTable = {
    val cur = latest()
    val base = read(cur)
    val key = graft.functions.ZOrder.zorderKey(base, cols, bits)
    val clustered = base
      .withColumn("_zorder_key", key)
      .repartitionByRange(numFiles, col("_zorder_key"))
      .sortWithinPartitions("_zorder_key")
      .drop("_zorder_key")
    val files = writeBatch(clustered, cur.version + 1)
    commit(Manifest(cur.version + 1, s"ZORDER(${cols.mkString(",")})",
      cur.schema, files))
    this
  }

  // ---- read paths ---------------------------------------------------------

  private def read(m: Manifest): DataFrame = {
    if (m.files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], m.schema)
    else
      // Explicit file list (no directory listing) + explicit schema: files
      // written before an evolution lack the new columns and are null-padded.
      spark.read.schema(m.schema)
        .parquet(m.files.map(f => new Path(rootPath, f).toString): _*)
  }

  /** Current snapshot. */
  def toDF: DataFrame = read(latest())

  /** Read one data file's footer and summarize its column chunks into a
    * manifest stats entry — called once per NEW file at commit time.
    * Per column: all groups provably all-null → `None` (prunable);
    * encodable min/max (numeric as `n:<decimal>`, string as `s:<utf8>`)
    * aggregated across row groups → the file-level hull; anything the
    * encoding can't express → the keep marker (the file stays scannable
    * without a footer re-read). Zero-row files record every column
    * all-null.
    */
  private def collectFileStats(file: String): ColStats = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val conf = spark.sparkContext.hadoopConfiguration
    val reader =
      try org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(rootPath, file), conf))
      catch { case _: Exception => return Map.empty } // unreadable: no entry
    try {
      val groups = reader.getFooter.getBlocks.asScala.toSeq
      val cols = reader.getFooter.getFileMetaData.getSchema.getColumns.asScala
        .map(_.getPath.mkString("."))
      // the reserved __rows record makes count(*) a metadata-only read
      // ([[countFast]]); footer row counts are exact
      val rowRec = {
        val n = groups.map(_.getRowCount).sum
        RowCountKey -> Some((s"n:$n", s"n:$n"))
      }
      if (groups.isEmpty) return (cols.map(_ -> None) :+ rowRec).toMap
      (Seq(rowRec) ++ cols.map { name =>
        val chunks = groups.flatMap(
          _.getColumns.asScala.find(_.getPath.toDotString == name))
        val keep = name -> Some(("?", "?"))
        if (chunks.size != groups.size) keep
        else {
          val sts = chunks.map(_.getStatistics)
          if (sts.exists(st => st == null || st.isEmpty)) keep
          else {
            val (valued, empty) = sts.partition(_.hasNonNullValue)
            val allNullOk = empty.forall(st =>
              st.isNumNullsSet && st.getNumNulls > 0)
            if (!allNullOk) keep
            else if (valued.isEmpty) name -> None
            else {
              def enc(v: AnyRef, tpe: org.apache.parquet.schema.PrimitiveType)
                  : Option[String] = (tpe.getPrimitiveTypeName, v) match {
                case (BINARY, b: org.apache.parquet.io.api.Binary)
                    if tpe.getLogicalTypeAnnotation ==
                      org.apache.parquet.schema.LogicalTypeAnnotation.stringType() =>
                  Some("s:" + b.toStringUsingUTF8)
                case (INT32 | INT64 | FLOAT | DOUBLE, n: java.lang.Number)
                    if tpe.getLogicalTypeAnnotation == null ||
                      tpe.getLogicalTypeAnnotation.isInstanceOf[
                        org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation] =>
                  // ±Infinity / NaN are legal FLOAT/DOUBLE footer stats but
                  // have no BigDecimal form — encoding one would throw AFTER
                  // the data batch was written and abort the whole commit.
                  // Returning None here routes the column to the keep marker
                  // ("?","?"): the file stays scannable, just unprunable on
                  // that column.
                  val d = n.doubleValue()
                  if ((n.isInstanceOf[java.lang.Double] ||
                       n.isInstanceOf[java.lang.Float]) &&
                      (d.isNaN || d.isInfinite)) None
                  else Some(
                    "n:" + new java.math.BigDecimal(n.toString).toPlainString)
                case _ => None
              }
              val tpe = chunks.head.getPrimitiveType
              val mins = valued.flatMap(st =>
                enc(st.genericGetMin.asInstanceOf[AnyRef], tpe))
              val maxs = valued.flatMap(st =>
                enc(st.genericGetMax.asInstanceOf[AnyRef], tpe))
              if (mins.size != valued.size || maxs.size != valued.size) keep
              else name -> Some((minEnc(mins), maxEnc(maxs)))
            }
          }
        }
      }).toMap
    } finally reader.close()
  }

  /** Metadata-only `count(*)`: sums the per-file row counts the manifest
    * records at commit ([[collectFileStats]]'s `__rows` entry) — zero
    * data reads, the Delta `SELECT count(*)` fast path. Falls back to a
    * real count when any file lacks the record (legacy manifest).
    */
  def countFast: Long = {
    val m = latest()
    val perFile = m.files.map(f =>
      m.stats.get(f).flatMap(_.get(RowCountKey)).flatten
        .map(_._1.drop(2).toLong))
    if (perFile.forall(_.isDefined)) perFile.flatten.sum
    else toDF.count()
  }

  private def encCompare(a: String, b: String): Int =
    if (a.startsWith("n:") && b.startsWith("n:"))
      BigDecimal(a.drop(2)).compare(BigDecimal(b.drop(2)))
    else a.drop(2).getBytes(StandardCharsets.UTF_8)
      .zipAll(b.drop(2).getBytes(StandardCharsets.UTF_8), 0.toByte, 0.toByte)
      .iterator.map { case (x, y) => (x & 0xff) - (y & 0xff) }
      .find(_ != 0).getOrElse(a.length - b.length)
  private def minEnc(xs: Seq[String]): String = xs.reduce((a, b) =>
    if (encCompare(a, b) <= 0) a else b)
  private def maxEnc(xs: Seq[String]): String = xs.reduce((a, b) =>
    if (encCompare(a, b) >= 0) a else b)

  /** Does a manifest stat entry's [min,max] overlap [lower,upper]? The
    * decoded twin of [[rangeOverlaps]]; un-decodable combinations keep
    * the file.
    */
  private def encodedOverlaps(mn: String, mx: String,
                              lower: Any, upper: Any): Boolean = {
    def num(x: Any): Option[BigDecimal] = x match {
      case n: java.lang.Number => Some(BigDecimal(n.toString))
      case _ => None
    }
    if (mn == "?") true
    else if (mn.startsWith("n:"))
      (for { lo <- num(lower); hi <- num(upper) } yield
        BigDecimal(mn.drop(2)) <= hi && BigDecimal(mx.drop(2)) >= lo)
        .getOrElse(true)
    else (lower, upper) match {
      case (lo: String, hi: String) =>
        encCompare(mn, "s:" + hi) <= 0 && encCompare("s:" + lo, mx) <= 0
      case _ => true
    }
  }

  /** Stats-pruned range scan: `toDF.where(lower <= col <= upper)` that
    * reads only the data files whose min/max for `colName` intersect
    * `[lower, upper]` — the file-skipping half of clustering
    * ([[compact]] range-sort / [[zorder]] Morton curve exist to make
    * these ranges narrow per file). Equivalent rows, strictly fewer
    * files; files without stats for the column (e.g. pre-evolution) are
    * kept conservatively.
    *
    * Planning input is the MANIFEST's stats-in-log entries
    * ([[collectFileStats]], written at commit time — Delta's stats-in-log
    * design): at 200k-file scale the scan plans from one manifest read,
    * no per-query footer sweep. Files a legacy manifest carries without
    * stats fall back to a footer read, preserving the original behavior
    * exactly.
    */
  def scanPruned(colName: String, lower: Any, upper: Any): DataFrame = {
    val m = latest()
    require(m.schema.fieldNames.contains(colName),
      s"scanPruned: no column $colName in ${m.schema.fieldNames.mkString(", ")}")
    val conf = spark.sparkContext.hadoopConfiguration
    def footerOverlaps(file: String): Boolean = {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(rootPath, file), conf))
      try {
        val groups = reader.getFooter.getBlocks
        if (groups.isEmpty) return false // zero-row file: nothing to read
        groups.asScala.exists { g =>
          g.getColumns.asScala.find(_.getPath.toDotString == colName) match {
            case None => true // column absent in this file: cannot prune
            case Some(cc) =>
              val st = cc.getStatistics
              // parquet-mr returns an EMPTY Statistics object (never null)
              // when a writer recorded no stats — that must KEEP the file;
              // prune on missing min/max only for the provably-all-null
              // chunk (stats recorded, zero non-null values).
              if (st == null || st.isEmpty) true
              else if (!st.hasNonNullValue)
                !(st.isNumNullsSet && st.getNumNulls > 0)
              else rangeOverlaps(st.genericGetMin.asInstanceOf[AnyRef],
                st.genericGetMax.asInstanceOf[AnyRef], lower, upper)
          }
        }
      } finally reader.close()
    }
    def overlaps(file: String): Boolean =
      m.stats.get(file).flatMap(_.get(colName)) match {
        case Some(None) => false // provably all-null in this file
        case Some(Some((mn, mx))) => encodedOverlaps(mn, mx, lower, upper)
        case None => footerOverlaps(file) // legacy manifest / unknown col
      }
    val kept = m.files.filter(overlaps)
    val pruned =
      if (kept.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], m.schema)
      else spark.read.schema(m.schema)
        .parquet(kept.map(f => new Path(rootPath, f).toString): _*)
    pruned.where(col(colName) >= lit(lower) && col(colName) <= lit(upper))
  }

  /** V5: time travel — snapshot as of version `v`
    * (`update_versioning.py:58-67`, `FROM table@v4`).
    */
  def asOf(v: Long): DataFrame = read(readManifest(v))

  /** Change feed between two versions (Delta CDF analog): one row per
    * changed row with `_change_type` ∈ {insert, delete}; an update is its
    * delete+insert pair. FILE-DIFF-BOUNDED: only files added or removed
    * between the two manifests are read — an append's change feed scans
    * just the appended files. The `exceptAll` pair then cancels rows a
    * rewrite carried over unchanged (multiset semantics, so duplicate
    * rows keep correct counts).
    *
    * At 100 TB the exceptAll shuffle is bounded by the WRITE
    * AMPLIFICATION of the commits in the window, not by table size:
    * [[update]]/[[delete]] rewrite only the files their probe finds
    * matches in, and append/compact/zorder feeds are likewise
    * touched-files-only. Requires
    * `fromV <= toV` manifests with identical schemas; across an
    * evolution, align schemas first (read() null-pads).
    */
  def changes(fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"changes($fromV, $toV): fromV must be <= toV")
    val a = readManifest(fromV)
    val b = readManifest(toV)
    val removed = a.files.filterNot(b.files.toSet)
    val added = b.files.filterNot(a.files.toSet)
    val oldRows = readFiles(a, removed)
    val newRows = readFiles(b, added)
    newRows.exceptAll(oldRows).withColumn("_change_type", lit("insert"))
      .unionByName(
        oldRows.exceptAll(newRows).withColumn("_change_type", lit("delete")))
  }

  /** Current table schema. */
  def schema: StructType = latest().schema

  /** Current version number. */
  def version: Long = latest().version

  /** V3: `DESCRIBE HISTORY` (`update_versioning.py:17-19`) — one row per
    * version: (version, operation, num_files, num_added_files,
    * num_removed_files). The added/removed counts are the manifest diff
    * against the previous version — the write-amplification record of
    * each commit: a pruned UPDATE shows added = the rewritten batch and
    * removed = only the files that held matches, never the table.
    */
  def history: DataFrame = {
    import spark.implicits._
    val manifests = listVersions().map(readManifest)
    manifests.zip(None +: manifests.map(Some(_))).map { case (m, prev) =>
      val prevFiles = prev.fold(Set.empty[String])(_.files.toSet)
      (m.version, m.operation, m.files.size.toLong,
        m.files.count(!prevFiles.contains(_)).toLong,
        (prevFiles -- m.files).size.toLong)
    }.toDF("version", "operation", "num_files",
        "num_added_files", "num_removed_files")
      .orderBy(col("version").desc)
  }
}

object VersionedTable {
  /** Max distinct single-key source keys inlined as an `isin` scan
    * predicate by [[VersionedTable#upsert]]; above this the probe routes
    * through the file-pruning semi-join, keeping driver memory and the
    * predicate size bounded for arbitrarily large merge batches.
    */
  private[versioned] val MaxInListKeys = 1000

  /** Commit-race retries for [[VersionedTable#append]]'s optimistic
    * rebase; other operations never retry (their rewrite was derived
    * from the lost base version and must be recomputed by the caller).
    */
  private[versioned] val MaxCommitRetries = 10

  /** Every N-th version persists a full SNAPSHOT entry instead of a
    * delta ([[LogEntry]]), bounding version reconstruction to at most
    * N-1 delta reads above a checkpoint while keeping routine commits
    * O(commit). 10 matches Delta's default checkpoint interval.
    */
  private[versioned] val CheckpointInterval = 10

  /** Reserved stats-entry key holding a file's exact row count (named to
    * never collide with a parquet column path; see [[VersionedTable#countFast]]).
    */
  private[versioned] val RowCountKey = "__rows"

  private val LogDir = "_graft_log"
  private val ManifestName = """v(\d{8})\.json""".r

  /** Per-file, per-column stat entry in the manifest (Delta's
    * stats-in-log design): `None` = the column is provably all-null in
    * the file (range scans prune it outright); `Some((min, max))` with
    * `"n:<decimal>"` / `"s:<utf8>"` encodings; the `("?", "?")` marker =
    * stats were inspected but not encodable — keep the file without
    * re-opening its footer.
    */
  private[versioned] type ColStats = Map[String, Option[(String, String)]]

  /** Manifest: complete table state at one version, RESOLVED in memory
    * from the log ([[VersionedTable#readManifest]] folds a snapshot
    * entry plus the deltas above it). Never persisted directly — the
    * on-disk form is [[LogEntry]]. `stats` maps each data file to its
    * column stats — populated at COMMIT time (one footer read per NEW
    * file), so range-scan planning at 200k-file scale reads one
    * manifest chain instead of 200k footers.
    */
  private[versioned] final case class Manifest(
      version: Long, operation: String, schema: StructType, files: Seq[String],
      stats: Map[String, ColStats] = Map.empty)

  private def escJson(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** One persisted log record: a full SNAPSHOT of the table state
    * (version 0, every [[CheckpointInterval]]-th version, and every
    * manifest written by pre-incremental builds — `snapshot` defined)
    * or a DELTA carrying only the files the commit added and removed.
    * This is Delta Lake's incremental-log + periodic-checkpoint design
    * (the log behavior behind the reference's `DESCRIBE HISTORY`,
    * `update_versioning.py:17-19`): it bounds manifest WRITE
    * amplification — an append's log write is O(batch), where a
    * full-snapshot-per-commit scheme writes O(table) (a multi-MB JSON
    * at 200k files) on every micro-batch of a streaming ingest. JSON
    * codec is hand-rolled (no JSON library in the unmanaged classpath
    * beyond Spark's shaded ones); schema round-trips via Spark's own
    * `StructType.json`/`DataType.fromJson`. `stats` covers the snapshot
    * file list, or just the delta's added files.
    */
  private[versioned] final case class LogEntry(
      version: Long, operation: String, schema: StructType,
      snapshot: Option[Seq[String]], add: Seq[String], remove: Seq[String],
      stats: Map[String, ColStats]) {
    def toJson: String = {
      def statJson(cs: ColStats): String =
        cs.toSeq.sortBy(_._1).map {
          case (c, None) => s""""${escJson(c)}":null"""
          case (c, Some((mn, mx))) =>
            s""""${escJson(c)}":["${escJson(mn)}","${escJson(mx)}"]"""
        }.mkString("{", ",", "}")
      def fileArr(fs0: Seq[String]): String =
        fs0.map(f => s""""${escJson(f)}"""").mkString("[", ",", "]")
      val statFiles = snapshot.getOrElse(add)
      val statsJson = statFiles.flatMap(f => stats.get(f).map(cs =>
        s""""${escJson(f)}":${statJson(cs)}""")).mkString("{", ",", "}")
      val body = snapshot match {
        // a snapshot keeps the pre-incremental field layout exactly, so
        // legacy readers (and the legacy-manifest tests) parse it as-is
        case Some(fs0) => s""""files":${fileArr(fs0)}"""
        case None =>
          s""""add":${fileArr(add)},"remove":${fileArr(remove)}"""
      }
      s"""{"version":$version,"operation":"${escJson(operation)}",""" +
        s""""schemaJson":"${escJson(schema.json)}",""" +
        body + s""","stats":$statsJson}"""
    }
  }

  private[versioned] object LogEntry {
    /** Parser for both entry shapes (via Jackson, which Spark ships):
      * `files` present = snapshot (including every manifest written
      * before the incremental log), else `add`/`remove` delta. Entries
      * without a stats field parse with empty stats — readers fall back
      * to footer reads for those files.
      */
    def fromJson(s: String): LogEntry = {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(s)
      def arr(name: String): Seq[String] = Option(node.get(name)).map { a =>
        (0 until a.size()).map(a.get(_).asText())
      }.getOrElse(Seq.empty)
      val stats: Map[String, ColStats] = Option(node.get("stats")).map { sn =>
        val b = Map.newBuilder[String, ColStats]
        val it = sn.fields()
        while (it.hasNext) {
          val e = it.next()
          val cb = Map.newBuilder[String, Option[(String, String)]]
          val cit = e.getValue.fields()
          while (cit.hasNext) {
            val ce = cit.next()
            cb += ce.getKey -> (if (ce.getValue.isNull) None
              else Some((ce.getValue.get(0).asText(), ce.getValue.get(1).asText())))
          }
          b += e.getKey -> cb.result()
        }
        b.result()
      }.getOrElse(Map.empty)
      LogEntry(
        node.get("version").asLong(),
        node.get("operation").asText(),
        DataType.fromJson(node.get("schemaJson").asText()).asInstanceOf[StructType],
        Option(node.get("files")).map(a =>
          (0 until a.size()).map(a.get(_).asText())),
        arr("add"), arr("remove"), stats)
    }
  }

  /** [min,max] of a parquet column-chunk vs a user [lower,upper]: overlap
    * test across the stats' runtime types (numbers via BigDecimal, strings
    * via Binary UTF-8). Unknown type combinations keep the file
    * (pruning must never drop data it can't reason about).
    */
  private def rangeOverlaps(mn: AnyRef, mx: AnyRef, lower: Any, upper: Any): Boolean = {
    def num(x: Any): Option[BigDecimal] = x match {
      case n: java.lang.Number => Some(BigDecimal(n.toString))
      case _ => None
    }
    // UNSIGNED UTF-8 byte order — the order parquet binary stats are
    // written in and the order Spark's UTF8String filter compares with;
    // Java String (UTF-16 code-unit) order disagrees for U+E000..U+FFFF
    // vs supplementary-plane bounds and would wrongly prune.
    def bytesLE(a: Array[Byte], b: Array[Byte]): Boolean = {
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val cmp = (a(i) & 0xff) - (b(i) & 0xff)
        if (cmp != 0) return cmp < 0
        i += 1
      }
      a.length <= b.length
    }
    (mn, mx) match {
      case (b1: org.apache.parquet.io.api.Binary, b2: org.apache.parquet.io.api.Binary) =>
        (lower, upper) match {
          case (lo: String, hi: String) =>
            bytesLE(b1.getBytes, hi.getBytes(StandardCharsets.UTF_8)) &&
              bytesLE(lo.getBytes(StandardCharsets.UTF_8), b2.getBytes)
          case _ => true
        }
      case _ =>
        (for { a <- num(mn); b <- num(mx); lo <- num(lower); hi <- num(upper) }
          yield a <= hi && b >= lo).getOrElse(true)
    }
  }

  private def sameSchema(a: StructType, b: StructType): Boolean =
    a.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq ==
      b.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq

  /** Schema union for V8 evolution: keep table column order, append new
    * incoming columns; a column present in both must agree on type.
    */
  private def unionSchema(table: StructType, incoming: StructType): StructType = {
    val byName = table.fields.map(f => f.name -> f).toMap
    incoming.fields.foreach { f =>
      byName.get(f.name).foreach { t =>
        if (t.dataType != f.dataType)
          throw new IllegalArgumentException(
            s"cannot evolve column ${f.name}: ${t.dataType.simpleString} -> " +
              f.dataType.simpleString)
      }
    }
    val added = incoming.fields.filterNot(f => byName.contains(f.name))
      .map(f => StructField(f.name, f.dataType, nullable = true))
    StructType(table.fields ++ added)
  }

  /** V1: "CONVERT TO DELTA" — version an existing dataset
    * (`delta_lake.py:17-30`). Writes snapshot v0 from `df`.
    */
  def create(spark: SparkSession, root: String, df: DataFrame): VersionedTable = {
    val t = new VersionedTable(spark, root)
    require(t.listVersions().isEmpty, s"$root is already a versioned table")
    val files = t.writeBatch(df, 0L)
    t.commit(Manifest(0L, "CONVERT", df.schema, files))
    t
  }

  /** Open an existing versioned table. */
  def open(spark: SparkSession, root: String): VersionedTable = {
    val t = new VersionedTable(spark, root)
    t.latest() // validate
    t
  }

  /** V1 proper: convert a plain parquet directory in place — manifest v0
    * referencing the existing files without rewriting them.
    */
  def convert(spark: SparkSession, root: String): VersionedTable = {
    val t = new VersionedTable(spark, root)
    require(t.listVersions().isEmpty, s"$root is already a versioned table")
    val f = t.fs
    val existing = f.listStatus(new Path(root)).toSeq
      .map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet"))
      .map(_.getName)
    require(existing.nonEmpty, s"no parquet files directly under $root")
    val schema = graft.io.Footers.schema(spark, root)
    t.commit(Manifest(0L, "CONVERT", schema, existing))
    t
  }
}
