package graft.store

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.GraftInternals
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot cache behind [[StockStore]]'s reads: the relation over a
  * committed file set is built straight from the commit log, with no
  * directory listing and no schema inference in steady state.
  *
  *  - File statuses: `spark.read.parquet(files)` lists every file again
  *    (a Spark job of one task per file past
  *    `spark.sql.sources.parallelPartitionDiscovery.threshold`, 32 by
  *    default) and hands each call a fresh [[FileStatusCache]] client, so
  *    nothing carries over between reads. Here one client serves the
  *    process. Committed file names are unique and never rewritten, so a
  *    cached status cannot go stale for any path a manifest lists, and
  *    [[committed]] seeds the statuses of the files a writer just promoted:
  *    a read after a write lists nothing.
  *  - Union schema: `mergeSchema` reads every file's footer in a Spark
  *    job. The union only changes when a commit adds a column, so it is
  *    memoized per snapshot (keyed by the table and the snapshot's last
  *    manifest, [[TableLog.Listed.key]], which names the table
  *    incarnation: a table recreated at the same path misses), advanced by
  *    [[committed]] when this writer's new files add no column, and seeded
  *    by a table's first commit. A commit that adds a column (A10 dynamic
  *    schema), or a snapshot holding files another writer committed,
  *    stays unmemoized: the next read infers once.
  */
private[store] object TableCache {

  /** A committed snapshot as listed: valid manifests (oldest first) and the
    * qualified live data files. */
  final case class Snapshot(log: Seq[TableLog.Listed], files: Seq[Path]) {
    def key: String = log.last.key
  }

  /** The table's current snapshot, or None if it has no commit log. */
  def snapshot(fs: FileSystem, tp: Path): Option[Snapshot] = {
    val log = TableLog.listed(fs, tp)
    if (log.isEmpty) None else Some(snapshotOf(fs, tp, log))
  }

  /** The snapshot as of `commitId` (inclusive), from a listing in hand. */
  def snapshotAt(fs: FileSystem, tp: Path, log: Seq[TableLog.Listed],
      commitId: Long): Snapshot =
    snapshotOf(fs, tp, log.filter(_.commit.id <= commitId))

  private def snapshotOf(fs: FileSystem, tp: Path, log: Seq[TableLog.Listed]) =
    Snapshot(log, TableLog.effectiveFrom(log.map(_.commit))._1
      .map(r => fs.makeQualified(new Path(tp, r))))

  /** union schema per (qualified table path, snapshot key): each table's
    * head and any pinned snapshots */
  private val schemas = TableLog.lru[(String, String), StructType](1024)
  private def schemaKey(fs: FileSystem, tp: Path, snap: Snapshot) =
    (fs.makeQualified(tp).toString, snap.key)

  @volatile private var shared: FileStatusCache = _
  private def statuses(spark: SparkSession): FileStatusCache = {
    if (shared == null) synchronized {
      if (shared == null) shared = FileStatusCache.getOrCreate(spark)
    }
    shared
  }

  /** The table as of `snap` (non-empty file set). `basePath` keeps
    * partition columns — and so Catalyst partition pruning — exactly as
    * on a plain directory read; filters push to the parquet scan. */
  def read(spark: SparkSession, fs: FileSystem, tp: Path, snap: Snapshot): DataFrame = {
    val key = schemaKey(fs, tp, snap)
    Option(schemas.get(key)) match {
      case Some(schema) => relation(spark, fs, tp, snap.files, Some(schema))
      case None =>
        val df = relation(spark, fs, tp, snap.files, None)
        schemas.put(key, df.schema)
        df
    }
  }

  private def options(fs: FileSystem, tp: Path) =
    Map("basePath" -> fs.makeQualified(tp).toString)

  /** What `spark.read.schema(schema).parquet(files)` builds (or, without a
    * schema, `mergeSchema` inference over every footer), over the cached
    * statuses instead of a fresh listing. */
  private def relation(spark: SparkSession, fs: FileSystem, tp: Path, files: Seq[Path],
      schema: Option[StructType]): DataFrame = {
    val opts = options(fs, tp)
    val index = new InMemoryFileIndex(spark, files, opts, schema, statuses(spark))
    val format = new ParquetFileFormat
    val partition = index.partitionSchema
    val resolver = SQLConf.get.resolver
    val data = schema match {
      case Some(s) => StructType(s.filterNot(f => partition.exists(p => resolver(p.name, f.name))))
      case None => format.inferSchema(spark, opts + ("mergeSchema" -> "true"), index.allFiles())
        .getOrElse(throw new IllegalStateException(s"no parquet schema under $tp"))
    }
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partition,
      GraftInternals.asNullable(data), None, format, opts)(spark))
  }

  /** Record a commit this process just published to `tp`. `promoted` are
    * the statuses of the data files it added (from [[TableLog
    * .promoteWithStatus]]) and `written` the schema of the frame written
    * into them (partition columns included). `before` is the snapshot
    * the writer read before committing (None for a reset that replaces
    * the whole file set). The schema memo moves to the new snapshot only
    * when it holds exactly `before`'s files plus `promoted`: a commit by
    * another writer in between (another process may publish to the same
    * log) could have added a column this writer never saw. */
  def committed(spark: SparkSession, fs: FileSystem, tp: Path,
      before: Option[Snapshot], promoted: Seq[FileStatus], written: StructType): Unit = {
    val cache = statuses(spark)
    promoted.foreach(st => cache.putLeafFiles(st.getPath, Array(st)))
    val prior = before.fold(Seq.empty[Path])(_.files)
    val ours = (prior ++ promoted.map(_.getPath)).toSet
    if (promoted.nonEmpty) snapshot(fs, tp).filter(_.files.toSet == ours).foreach { a =>
      val partition = new InMemoryFileIndex(spark, promoted.map(_.getPath),
        options(fs, tp), None, cache).partitionSchema
      val resolver = SQLConf.get.resolver
      val data = StructType(GraftInternals.asNullable(written)
        .filterNot(f => partition.exists(p => resolver(p.name, f.name))))
      val added: Seq[StructField] = data ++ partition
      val next =
        // the table is exactly the new files (a first commit, or a
        // compaction's reset): their schema IS the union
        if (prior.isEmpty) Some(StructType(added))
        // otherwise the union stands while every new column is known
        else before.flatMap(b => Option(schemas.get(schemaKey(fs, tp, b)))).filter(memo =>
          added.forall(f => memo.exists(m => m.name == f.name && m.dataType == f.dataType)))
      next.foreach(schemas.put(schemaKey(fs, tp, a), _))
    }
  }
}
