package graft.io

import java.io.File
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture-keyed parquet staging for shared query intermediates — the
  * materialized-view form of a frame several queries otherwise recompute
  * (the co-supply / co-purchase graph bases and the simhash/minhash dedup
  * bases, each the top of the calm bench profile several times over
  * before staging).
  *
  * Same two lifetimes as [[Bucketed.ordersLineitem]]:
  *  - per session, a memo map short-circuits repeat calls;
  *  - per filesystem, a completion marker carrying a CONTENT fingerprint
  *    of the SOURCE table (every file under the parquet directory as
  *    (relative path, size, mtime), sorted and hashed) plus the caller's
  *    builder `version` lets a later JVM reuse the files — a regenerated
  *    fixture at the same path, or a bumped builder, re-stages instead of
  *    serving stale rows. Directory metadata alone is NOT trusted: a
  *    directory's `length` is a filesystem constant and its mtime has
  *    coarse granularity, while parquet part-file names carry write
  *    UUIDs, so any in-place regeneration changes the listing even when
  *    it lands within the same mtime tick.
  *
  * Write path: the builder's output goes to a process-unique temp
  * directory and is atomically renamed into place, all under a file lock
  * (plus a JVM-level monitor — `FileLock` is per-process), so two JVMs
  * staging the same (root, dir, tag) concurrently serialize: the first
  * builds, the second re-checks the marker under the lock and reuses.
  * The marker is written LAST (atomic temp + rename as well) — a crash
  * mid-staging leaves no marker and the next attempt rewrites.
  *
  * The stage root is `SPARK_GRAFT_STAGE_DIR` (env), then the
  * `graft.stage.dir` system property, then `java.io.tmpdir` — a cluster
  * deployment points it at shared storage so the one distributed write
  * amortizes across every consumer, exactly a materialized view over the
  * expensive shared intermediate. [[vacuum]] drops staged directories
  * whose fingerprint no longer matches their recorded source.
  *
  * First caller pays compute + write inside its own timing (honest
  * attribution); every later caller starts from a parquet scan.
  */
object Staged {

  /** Stage root: env `SPARK_GRAFT_STAGE_DIR` > system property
    * `graft.stage.dir` > JVM tmpdir. Resolved per call so tests (and
    * long-lived sessions whose operator re-points the property) see
    * changes without a JVM restart.
    */
  def root: String =
    sys.env.get("SPARK_GRAFT_STAGE_DIR")
      .orElse(sys.props.get("graft.stage.dir"))
      .getOrElse(System.getProperty("java.io.tmpdir"))

  private val staged =
    scala.collection.concurrent.TrieMap[(Int, String, String, String), String]()

  /** Per-base-path monitors: in-process callers contend here (a second
    * `FileChannel.lock` in the SAME JVM throws
    * OverlappingFileLockException instead of blocking).
    */
  private val jvmLocks =
    scala.collection.concurrent.TrieMap[String, Object]()

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Content fingerprint of the source file/directory: the sorted
    * recursive (relative path, size, mtime) listing, hashed.
    */
  private[io] def contentHash(src: File): String = {
    def walk(f: File, rel: String): Seq[String] =
      if (f.isDirectory) {
        val kids = Option(f.listFiles()).getOrElse(Array.empty[File])
          .sortBy(_.getName)
        kids.toIndexedSeq.flatMap(c => walk(c, s"$rel/${c.getName}"))
      } else Seq(s"$rel:${f.length}:${f.lastModified}")
    md5hex(walk(src, "").mkString("\n"))
  }

  /** Marker payload. The `version` component is the builder's: bump it
    * at the call site whenever the staged frame's DERIVATION changes
    * (new columns, different parameters), so a rebuilt library can never
    * serve rows staged by the old builder.
    */
  private def fingerprint(src: File, version: Int): String =
    s"v2|$version|${src.getPath}|${contentHash(src)}"

  private def markerOk(marker: File, fp: String): Boolean =
    marker.exists() &&
      Files.readString(marker.toPath).trim == fp

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => { val _ = Files.deleteIfExists(f) })
    }

  /** Return `build`'s rows as a parquet-backed frame, computing and
    * writing them at most once per (session, stage root, fixture dir,
    * tag) and at most once per filesystem while `srcTable`'s content
    * fingerprint and the builder `version` hold.
    */
  def parquet(spark: SparkSession, dir: String, tag: String,
              srcTable: String, version: Int = 1)
             (build: => DataFrame): DataFrame = {
    val rootDir = root
    val key = (System.identityHashCode(spark), rootDir, dir, tag)
    // memo re-validation: a [[vacuum]] from ANOTHER process (this one's
    // drops its own memo entries) can reclaim a directory this session
    // already memoized — two cheap stats (marker AND data dir; vacuum
    // un-blesses the marker first, but a reclaim caught mid-delete can
    // briefly show a marker over a missing data dir) catch that and
    // re-stage instead of scanning a deleted data dir
    staged.get(key).filterNot(b =>
        new File(s"$b/_graft_staged").exists() && new File(s"$b/data").exists())
      .foreach(_ => staged.remove(key))
    val base = staged.getOrElseUpdate(key, {
        val id = java.util.UUID
          .nameUUIDFromBytes(s"$tag#$dir".getBytes("UTF-8"))
          .toString.replace("-", "").take(8)
        val b = s"$rootDir/graft_staged_${tag}_$id"
        val src = new File(s"$dir/$srcTable.parquet")
        stageIfNeeded(b, fingerprint(src, version), build)
        b
      })
    Footers.read(spark, s"$base/data")
  }

  private def stageIfNeeded(b: String, fp: String,
                            build: => DataFrame): Unit = {
    val marker = new File(s"$b/_graft_staged")
    if (markerOk(marker, fp)) return // warm fast path, no lock traffic
    val _ = new File(b).mkdirs()
    jvmLocks.getOrElseUpdate(b, new Object).synchronized[Unit] {
      val ch = FileChannel.open(Paths.get(b, "_lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try {
          // re-check under the lock: a concurrent JVM may have staged
          // while this one waited
          if (!markerOk(marker, fp)) {
            val tmp = Paths.get(b,
              s"tmp-${ProcessHandle.current.pid}-" +
                java.util.UUID.randomUUID.toString.take(8))
            build.write.mode("overwrite").parquet(tmp.toString)
            // un-bless BEFORE touching the data dir, so a crash between
            // the delete and the move leaves a marker-less (= re-staged
            // next time) dir, never a marker blessing torn data
            val _ = Files.deleteIfExists(marker.toPath)
            deleteTree(Paths.get(b, "data"))
            val _m1 = Files.move(tmp, Paths.get(b, "data"),
              StandardCopyOption.ATOMIC_MOVE)
            val mTmp = Paths.get(b, "_graft_staged.tmp")
            val _w = Files.writeString(mTmp, fp + "\n")
            val _m2 = Files.move(mTmp, marker.toPath,
              StandardCopyOption.ATOMIC_MOVE,
              StandardCopyOption.REPLACE_EXISTING)
          }
        } finally lock.release()
      } finally ch.close()
    }
  }

  /** Drop staged directories under [[root]] whose marker is missing,
    * unparseable (pre-v2 format), or no longer matches the recorded
    * source's current content — the GC for a stage root that otherwise
    * accretes one directory per (tag, fixture) forever. Directories
    * another process is actively staging (lock held) are skipped.
    * Returns the removed paths.
    *
    * Concurrency: the marker and data directory are deleted while the
    * file lock is HELD, so vacuum serializes against stagers — a writer
    * that acquires the lock after a reclaim re-checks the (now missing)
    * marker and rebuilds. This JVM's staged memo is also purged for the
    * reclaimed path (a cross-JVM memo is re-validated by the marker stat
    * in [[parquet]]). Lock-free WARM READERS mid-scan are the residual
    * race — vacuum only reclaims STALE bases (fingerprint mismatch), so
    * a reader racing it was already reading rows the source has
    * invalidated; run vacuum quiesced when that matters.
    */
  def vacuum(): Seq[String] = {
    val rootDir = new File(root)
    val kids = Option(rootDir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.startsWith("graft_staged_"))
    kids.toIndexedSeq.flatMap { d =>
      val reclaimed = jvmLocks.getOrElseUpdate(d.getPath, new Object).synchronized {
        val lockPath = Paths.get(d.getPath, "_lock")
        val ch =
          try Some(FileChannel.open(lockPath,
            StandardOpenOption.CREATE, StandardOpenOption.WRITE))
          catch { case _: Throwable => None }
        try {
          val lock = ch.flatMap(c => Option(c.tryLock()))
          try {
            val live =
              if (ch.isEmpty) true // can't lock: fail safe, skip
              else if (lock.isEmpty) true // being staged now
              else {
                val marker = new File(d, "_graft_staged")
                val current =
                  if (!marker.exists()) None
                  else Files.readString(marker.toPath).trim
                    .split('|') match {
                      case Array("v2", v, srcPath, _)
                          if new File(srcPath).exists() =>
                        scala.util.Try(fingerprint(new File(srcPath), v.toInt))
                          .toOption
                      case _ => None
                    }
                current.exists(fp => markerOk(marker, fp))
              }
            if (live) false
            else {
              // un-bless and delete INSIDE the held lock: a concurrent
              // stager serializes behind it and rebuilds; this JVM's
              // memoized paths for the dir are dropped in the same step.
              // The marker goes FIRST (it is the un-bless step), so a
              // cross-process memo re-validation racing this loop can
              // never observe a live marker over a half-deleted data dir
              staged.filterInPlace((_, v) => v != d.getPath)
              deleteTree(Paths.get(d.getPath, "_graft_staged"))
              Option(d.listFiles()).getOrElse(Array.empty[File])
                .filter(_.getName != "_lock")
                .foreach(f => deleteTree(f.toPath))
              true
            }
          } finally lock.foreach(_.release())
        } finally ch.foreach(_.close())
      }
      if (!reclaimed) Seq.empty
      else {
        // the lock file + shell dir go last, best-effort, under a FRESH
        // lock acquisition with the marker re-verified absent — a stager
        // that slipped into the release-to-delete window and rebuilt a
        // valid base must not have it deleted from under it. If the
        // re-lock fails or the marker reappeared, leave the shell (it is
        // either live again or the next vacuum's problem); the stale
        // data was already reclaimed above either way.
        val _ = scala.util.Try {
          jvmLocks.getOrElseUpdate(d.getPath, new Object).synchronized {
            val ch2 = FileChannel.open(Paths.get(d.getPath, "_lock"),
              StandardOpenOption.CREATE, StandardOpenOption.WRITE)
            try Option(ch2.tryLock()).foreach { l2 =>
              try {
                if (!new File(d, "_graft_staged").exists())
                  deleteTree(d.toPath)
              } finally l2.release()
            } finally ch2.close()
          }
        }
        Seq(d.getPath)
      }
    }
  }
}
