package graft.store

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

import java.nio.charset.StandardCharsets

/** Manifest-based atomic commit log for a parquet table tree — the
  * transactional piece the reference gets from SQLite's `BEGIN IMMEDIATE`
  * (reference: src/stockops/data/database/sql_db.py:455,553-557) and a
  * columnar store normally gets from a table format.
  *
  * Protocol (single writer, like the reference's `writer-1`):
  *   1. the writer stages new parquet files, then moves them into their
  *      final partition directories (unique names — never overwrites);
  *   2. visibility is granted by ONE exclusively-created, self-validating
  *      manifest file at `_commits/NNNNNNNNNN.commit`; the manifest lists
  *      every data and stats file the commit adds and closes with an
  *      `end` sentinel. A crash before the sentinel lands leaves a torn
  *      manifest readers skip, and orphan files no manifest references —
  *      invisible to readers and reclaimed by [[vacuum]].
  * Because a commit lists data files AND the batch's stats-log files, the
  * two become visible together — closing the window where a crash
  * between the stats append and the data append skews incremental stats.
  *
  * A `reset` commit (compaction or a [[checkpoint]] squash) replaces the
  * whole referenced set: the effective file set is the union of commits
  * after the last reset. Readers derive partition columns from the final
  * directory layout (`basePath`), so Catalyst partition pruning works
  * exactly as on a plain directory table. The atomic-publish primitive
  * is pluggable ([[ManifestStore]]): exclusive create (atomic on HDFS)
  * by default, a conditional put (S3 `If-None-Match: *` and kin) for
  * object stores — so multi-writer safety does not rest on an external
  * scheduler at the object-store design point.
  *
  * Format: line-oriented (one `kind<TAB>root-relative-path` per line,
  * plus one `table<TAB>incarnation-id` line), closed by a bare `end`
  * line — partition path segments are URL-encoded by Spark, so paths
  * are tab/newline-free by construction. The sentinel
  * makes a manifest self-validating: it is written DIRECTLY at its final
  * path with `create(overwrite = false)`, so a concurrent writer racing
  * the same id FAILS (and retries with the next id) instead of silently
  * replacing a committed manifest — the POSIX/object-store `rename`
  * overwrite hazard. A reader (or a crash) that catches a manifest
  * mid-write sees no `end` line and skips it as uncommitted; the next
  * writer's max+1 id derivation still counts the torn file's NAME, so
  * the id is never reused, and [[vacuum]] reclaims the torn manifest.
  * Same-JVM writers are additionally serialized per table by a process
  * lock (the reference's single `writer-1`, sql_db.py:455).
  */
object TableLog {

  final case class Commit(id: Long, reset: Boolean,
      dataFiles: Seq[String], statsFiles: Seq[String])

  /** A valid commit together with the table incarnation its manifest
    * names (see [[publish]]). `key` names the manifest of ONE incarnation,
    * not just the id: a table deleted and recreated at the same path
    * restarts its ids at 0, and a memo keyed by id alone would serve the
    * old table. */
  final case class Listed(commit: Commit, table: String) {
    def key: String = s"$table/${commit.id}"
  }

  private def commitsDir(tablePath: Path) = new Path(tablePath, "_commits")

  /** True iff at least one VALID published commit exists. Checking for
    * the directory (or for any `*.commit` name) alone is wrong: a crash
    * after mkdirs — or mid-manifest-write, leaving a torn file — would
    * otherwise flip a populated legacy table into "manifest mode with
    * nothing committed" and hide its data. */
  def exists(fs: FileSystem, tablePath: Path): Boolean =
    commits(fs, tablePath).nonEmpty

  /** None for a torn manifest (no `end` sentinel / bad header): either a
    * writer crashed mid-create or we are reading concurrently with one —
    * in both cases the commit has not happened. */
  private def parseUncached(fs: FileSystem, p: Path): Option[Listed] = {
    val body = new String(readAll(fs, p), StandardCharsets.UTF_8)
    val lines = body.linesIterator.toSeq
    if (!lines.headOption.contains("graft-commit-v1") ||
        !lines.lastOption.contains("end")) return None
    val kv = lines.drop(1).dropRight(1).filter(_.contains('\t')).map { l =>
      val i = l.indexOf('\t'); (l.substring(0, i), l.substring(i + 1))
    }
    Some(Listed(Commit(
      id = p.getName.stripSuffix(".commit").toLong,
      reset = kv.exists { case (k, v) => k == "reset" && v == "true" },
      dataFiles = kv.collect { case ("data", v) => v },
      statsFiles = kv.collect { case ("stats", v) => v }),
      table = kv.collectFirst { case ("table", v) => v }.getOrElse("")))
  }

  /** Published manifests are IMMUTABLE (created once at their final path,
    * never modified), so a successful parse is memoized by qualified path:
    * [[commits]] then costs one directory listing and ONE manifest read
    * instead of O(live manifests) file opens — which a streaming upsert
    * sink pays several times per micro-batch. The one read is the newest
    * valid manifest, never served from the memo: a hit on an older one
    * counts only if it names the same table incarnation. A table deleted
    * and recreated at the same path restarts its ids at 0 under a new
    * incarnation, so the old table's parses all miss — whatever
    * modification times and lengths the file system reports (an object
    * store may report none). Only valid parses are cached: a torn
    * manifest may be a concurrent writer mid-create whose `end` sentinel
    * lands later (exclusive-create seam), so it must be re-read. Least
    * recently used entries are evicted past [[ParseCacheMax]]. */
  private val ParseCacheMax = 65536
  private val parseCache = lru[String, Listed](ParseCacheMax)

  /** Bounded least-recently-used map, safe for concurrent use. */
  private[store] def lru[K, V](cap: Int): java.util.Map[K, V] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
          size() > cap
      })

  private def parseFresh(fs: FileSystem, p: Path): Option[Listed] = {
    val r = parseUncached(fs, p)
    r.foreach(parseCache.put(fs.makeQualified(p).toString, _))
    r
  }

  private def parse(fs: FileSystem, p: Path, table: String): Option[Listed] =
    Option(parseCache.get(fs.makeQualified(p).toString)).filter(_.table == table)
      .orElse(parseFresh(fs, p))

  /** Valid manifests among `names` (sorted ascending): the newest read
    * fresh, the older ones from the memo when they name its incarnation. */
  private def validOf(fs: FileSystem, names: Seq[Path]): Seq[Listed] = {
    var i = names.length - 1
    var newest: Option[Listed] = None
    while (newest.isEmpty && i >= 0) { newest = parseFresh(fs, names(i)); i -= 1 }
    newest.fold(Seq.empty[Listed])(n => names.take(i + 1).flatMap(parse(fs, _, n.table)) :+ n)
  }

  /** The manifest names in `dir` (ascending) and the valid manifests among
    * them. A manifest that vanishes between the listing and its read was
    * superseded by a reset and removed by [[vacuum]] (the newest is read on
    * every scan, so a reader racing a squash meets this), and the directory
    * is listed again. */
  @scala.annotation.tailrec
  private def scan(fs: FileSystem, dir: Path, attempt: Int = 1): (Seq[Path], Seq[Listed]) = {
    val names = manifestsIn(fs, dir)
    val valid =
      try Some(validOf(fs, names))
      catch { case _: java.io.FileNotFoundException if attempt < 10 => None }
    valid match {
      case Some(v) => (names, v)
      case None => scan(fs, dir, attempt + 1)
    }
  }

  private def readAll(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  /** All VALID commits in order (torn manifests skipped), or empty if
    * the table has no log. */
  def commits(fs: FileSystem, tablePath: Path): Seq[Commit] =
    listed(fs, tablePath).map(_.commit)

  /** [[commits]] with each manifest's table incarnation (see [[Listed]]). */
  def listed(fs: FileSystem, tablePath: Path): Seq[Listed] = {
    val dir = commitsDir(tablePath)
    if (!fs.exists(dir)) Seq.empty
    else scan(fs, dir)._2
  }

  private def manifestsIn(fs: FileSystem, dir: Path): Seq[Path] =
    fs.listStatus(dir).map(_.getPath).filter(_.getName.endsWith(".commit"))
      .sortBy(_.getName).toSeq

  /** Effective committed file sets from an already-read commit list:
    * union of commits after the last reset (data paths relative to the
    * table dir, stats paths relative to the stats dir). */
  def effectiveFrom(all: Seq[Commit]): (Seq[String], Seq[String]) = {
    val lastReset = all.lastIndexWhere(_.reset)
    val live = if (lastReset < 0) all else all.drop(lastReset)
    (live.flatMap(_.dataFiles), live.flatMap(_.statsFiles))
  }

  /** Effective committed file sets (see [[effectiveFrom]]). */
  def effective(fs: FileSystem, tablePath: Path): (Seq[String], Seq[String]) =
    effectiveFrom(commits(fs, tablePath))

  /** Effective file sets AS OF `commitId` (inclusive) — the table exactly
    * as a reader saw it after that commit published. History extends back
    * to the last reset at or before `commitId`; a reset (compaction or
    * squash) plus its vacuum reclaims older files, so snapshots older
    * than the latest reset are only readable until that vacuum runs. */
  def effectiveAt(all: Seq[Commit], commitId: Long): (Seq[String], Seq[String]) =
    effectiveFrom(all.filter(_.id <= commitId))

  /** Same-JVM commit serialization, keyed by qualified table path. The
    * cross-JVM guard is the exclusive create below. */
  private val publishLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(fs: FileSystem, tablePath: Path): Object =
    publishLocks.computeIfAbsent(fs.makeQualified(tablePath).toString, _ => new Object)

  /** Atomically publish a commit; returns its id. Ids are max+1 (derived
    * from manifest FILE NAMES — torn files included, so an id is never
    * reused) and the manifest lands via `store.putIfAbsent` at its final
    * path: a concurrent writer racing the same id LOSES the put and
    * retries with the next id, never a silent overwrite (POSIX rename(2)
    * and default object-store puts replace an existing destination —
    * both seams forbid that). With the default [[ManifestStore
    * .ExclusiveCreate]] the `end` sentinel written last makes the commit
    * point the close(): a reader or crash that catches the file earlier
    * sees a torn, skipped manifest. An object-store deployment passes
    * the conditional-put implementation instead ([[ManifestStore
    * .ConditionalPutStub]] and its scaladoc) — there manifests appear
    * atomically whole, and the sentinel check simply never fires.
    * Same-process writers (the [[graft.jobs.JobRegistry]] case) are
    * additionally serialized by the JVM lock. Every manifest names the
    * table incarnation it belongs to (a random id drawn by the table's
    * first commit, carried over by each later one), so memos keyed by
    * [[Listed.key]] never mistake a recreated table for the old one. */
  def publish(fs: FileSystem, tablePath: Path, dataFiles: Seq[String],
      statsFiles: Seq[String], reset: Boolean = false,
      store: ManifestStore = ManifestStore.ExclusiveCreate): Long = {
    val lock = lockFor(fs, tablePath)
    lock.synchronized {
      val dir = commitsDir(tablePath)
      fs.mkdirs(dir)
      var attempt = 0
      var committed = -1L
      while (committed < 0) {
        val (names, valid) = scan(fs, dir)
        val id = names.map(_.getName.stripSuffix(".commit").toLong).maxOption
          .map(_ + 1).getOrElse(0L)
        // the incarnation carries over from the newest valid manifest; a
        // table's first commit starts a new one
        val table = valid.lastOption.map(_.table)
          .getOrElse(java.util.UUID.randomUUID().toString)
        val body = new StringBuilder("graft-commit-v1\n")
        if (table.nonEmpty) body.append("table\t").append(table).append('\n')
        if (reset) body.append("reset\ttrue\n")
        dataFiles.foreach(f => body.append("data\t").append(f).append('\n'))
        statsFiles.foreach(f => body.append("stats\t").append(f).append('\n'))
        body.append("end\n")
        val target = new Path(dir, f"$id%020d.commit")
        if (store.putIfAbsent(fs, target, body.toString.getBytes(StandardCharsets.UTF_8)))
          committed = id
        else {
          // lost the id to a concurrent writer (other JVM): take the next
          attempt += 1
          require(attempt <= 50, s"publish lost $attempt id races at $dir")
        }
      }
      committed
    }
  }

  /** Squash the live manifest set into ONE `reset` commit referencing
    * exactly the same files — no data moves or rewrites. A streaming
    * sink lands one manifest per micro-batch, so commit listing (paid by
    * every read) grows O(commits); a checkpoint folds it back to O(1)
    * once [[vacuum]] prunes the superseded manifests. Returns the squash
    * commit id, or -1 when the log has fewer than two live manifests
    * (nothing to squash). */
  def checkpoint(fs: FileSystem, tablePath: Path): Long =
    lockFor(fs, tablePath).synchronized {
      val all = commits(fs, tablePath)
      val lastReset = all.lastIndexWhere(_.reset)
      val liveManifests = if (lastReset < 0) all.length else all.length - lastReset
      if (liveManifests < 2) -1L
      else {
        val (data, stats) = effectiveFrom(all)
        publish(fs, tablePath, data, stats, reset = true)
      }
    }

  /** [[checkpoint]] only when `every` or more manifests are live — the
    * amortized form an upsert loop calls after each publish. Returns
    * true when a squash commit was published. */
  def maybeCheckpoint(fs: FileSystem, tablePath: Path, every: Int): Boolean =
    lockFor(fs, tablePath).synchronized {
      val all = commits(fs, tablePath)
      val lastReset = all.lastIndexWhere(_.reset)
      val liveManifests = if (lastReset < 0) all.length else all.length - lastReset
      // squash from the commit list already in hand ([[checkpoint]] would
      // re-list and re-read the log — the upsert loop pays this per batch)
      if (liveManifests < every || liveManifests < 2) false
      else {
        val (data, stats) = effectiveFrom(all)
        publish(fs, tablePath, data, stats, reset = true) >= 0
      }
    }

  /** Move every file under `stagingDir` into `targetDir`, preserving the
    * relative (partition) layout; returns the target-root-relative paths.
    * File names are Spark task outputs (job-UUID unique), so moves never
    * overwrite. */
  def promote(fs: FileSystem, stagingDir: Path, targetDir: Path): Seq[String] =
    promoteWithStatus(fs, stagingDir, targetDir).map(_._1)

  /** [[promote]], also returning each file's status at its final
    * (qualified) path, taken from the staging listing — a rename keeps the
    * length, so a reader can be handed the status without listing again. */
  def promoteWithStatus(fs: FileSystem, stagingDir: Path,
      targetDir: Path): Seq[(String, FileStatus)] =
    statusesRecursively(fs, stagingDir).filter(_.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val rel = relativize(stagingDir, st.getPath)
        val dest = new Path(targetDir, rel)
        fs.mkdirs(dest.getParent)
        if (!fs.rename(st.getPath, dest))
          throw new java.io.IOException(s"promote failed: ${st.getPath} -> $dest")
        rel -> new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
          st.getModificationTime, fs.makeQualified(dest))
      }

  /** Parquet files already present under `dir` (root-relative) — folded
    * into the first commit when migrating a plain-append table. */
  def legacyFiles(fs: FileSystem, dir: Path): Seq[String] =
    listFilesRecursively(fs, dir)
      .filter(_.getName.endsWith(".parquet"))
      .map(relativize(dir, _))

  def listFilesRecursively(fs: FileSystem, dir: Path): Seq[Path] =
    statusesRecursively(fs, dir).map(_.getPath)

  private def statusesRecursively(fs: FileSystem, dir: Path): Seq[FileStatus] = {
    if (!fs.exists(dir)) return Seq.empty
    val it = fs.listFiles(dir, true)
    val out = Seq.newBuilder[FileStatus]
    while (it.hasNext) out += it.next()
    out.result()
  }

  private def relativize(base: Path, p: Path): String = {
    val b = base.toUri.getPath.stripSuffix("/")
    val f = p.toUri.getPath
    require(f.startsWith(b + "/"), s"$p not under $base")
    f.substring(b.length + 1)
  }

  /** Delete files under the table/stats trees that no live commit
    * references, plus manifests older than the last reset and (when
    * `stageRoot` is given) leftover `stagePrefix*` dirs from crashed
    * batches. Safe under the single-writer assumption (anything
    * unreferenced is either pre-reset garbage or a crashed commit, and
    * no batch is in-flight FOR THIS TABLE while the writer vacuums).
    * Stage dirs of sibling tables under the same root may legitimately
    * be in flight — pass the table-scoped `stagePrefix` the writer
    * stamps ([[StockStore]] uses `stage-<dataType>-`) so the sweep never
    * deletes another table's live staging. */
  def vacuum(fs: FileSystem, tablePath: Path, statsPath: Path,
      stageRoot: Option[Path] = None, stagePrefix: String = "stage-"): Long = {
    val (data, stats) = effective(fs, tablePath)
    val live: Set[String] =
      (data.map(r => new Path(tablePath, r).toUri.getPath) ++
        stats.map(r => new Path(statsPath, r).toUri.getPath)).toSet
    var removed = 0L
    def sweep(root: Path): Unit =
      listFilesRecursively(fs, root)
        .filter(p => p.getName.endsWith(".parquet"))
        .filterNot(p => live.contains(p.toUri.getPath))
        .foreach { p => if (fs.delete(p, false)) removed += 1 }
    sweep(tablePath)
    sweep(statsPath)
    // crashed-batch staging dirs (they live beside the table dir)
    stageRoot.foreach { r =>
      if (fs.exists(r)) fs.listStatus(r).map(_.getPath)
        .filter(_.getName.startsWith(stagePrefix))
        .foreach { p => if (fs.delete(p, true)) removed += 1 }
    }
    // drop manifests superseded by the last reset, plus torn manifests
    // from crashed publishes (no writer is in flight while we vacuum, so
    // a sentinel-less file can only be a crash leftover)
    val all = commits(fs, tablePath)
    val lastReset = all.lastIndexWhere(_.reset)
    if (lastReset > 0) all.take(lastReset).foreach { c =>
      fs.delete(new Path(commitsDir(tablePath), f"${c.id}%020d.commit"), false)
    }
    val validNames = all.map(c => f"${c.id}%020d.commit").toSet
    val cd = commitsDir(tablePath)
    if (fs.exists(cd)) fs.listStatus(cd).map(_.getPath)
      .filter(p => (p.getName.endsWith(".commit") && !validNames.contains(p.getName)) ||
        // crashed conditional-put stages (ManifestStore.ConditionalPutStub)
        p.getName.startsWith(".tmp-put-"))
      .foreach { p => if (fs.delete(p, false)) removed += 1 }
    removed
  }
}
