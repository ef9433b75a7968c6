package graft

import graft.model.{HistoricalIntraday, Streaming}
import graft.read.ReadApi
import graft.store.{StockStore, TableLog}
import org.apache.hadoop.fs.Path
import org.apache.spark.GraftInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SimpleMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The store's reads are built from the commit log: a steady-state read
  * submits no file-listing job and no schema-inference job, the union
  * schema memo stays equal to a fresh `mergeSchema` inference across
  * commits, and a table deleted and recreated at the same path in one
  * process is read as the new table (commit ids restart at 0). */
class SnapshotCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** (description, ran inside a SQL execution) of every job `body` submits.
    * Listing and `mergeSchema` jobs run while a relation is resolved, so
    * outside any SQL execution; scans, counts and writes run inside one. */
  private def jobsOf[T](body: => T): (T, Seq[(String, Boolean)]) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = j.properties
        seen.add((Option(p.getProperty("spark.job.description")).getOrElse(""),
          p.getProperty("spark.sql.execution.id") != null))
      }
    }
    GraftInternals.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      GraftInternals.drainListenerBus(sc)
      (r, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  private def assertNoMetadataJobs(what: String, jobs: Seq[(String, Boolean)]): Unit = {
    val listing = jobs.filter(_._1.startsWith("Listing leaf files"))
    assert(listing.isEmpty, s"$what listed files: $listing")
    val outside = jobs.filterNot(_._2)
    assert(outside.isEmpty, s"$what ran jobs outside a query (schema inference?): $outside")
  }

  private def freshInference(root: String, table: String): org.apache.spark.sql.types.StructType = {
    val tp = new Path(s"$root/$table")
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = TableLog.effective(fs, tp)._1.map(r => new Path(tp, r).toString)
    spark.read.option("mergeSchema", "true").option("basePath", tp.toString)
      .parquet(files: _*).schema
  }

  private val day0 = 1757595600000L // 2025-09-11T13:00:00Z, 09:00 in New York

  /** `days` trade rows per ticker, one per trading day — one file each. */
  private def trades(tickers: Seq[String], days: Int, offsetMs: Long, price: Double): DataFrame = {
    import spark.implicits._
    (for (t <- tickers; d <- 0 until days)
      yield (t, new java.sql.Timestamp(day0 + d * 86400000L + offsetMs), price + d, 10L))
      .toDF("ticker", "timestamp", "price", "volume")
  }

  test("more than 32 live files: reads, snapshots and an upsert's read-back list nothing and infer nothing") {
    val root = SparkTestSession.tempDir("snapcache-jobs")
    val tp = new Path(s"$root/streaming")
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    StockStore.upsert(spark, root, Streaming, trades(Seq("SPY", "VOO"), 20, 0L, 100.0))
    val first = StockStore.commitIds(spark, root, Streaming).last
    StockStore.upsert(spark, root, Streaming, trades(Seq("QQQ"), 2, 0L, 300.0),
      collectCounts = false)
    val ids = StockStore.commitIds(spark, root, Streaming)
    assert(TableLog.effective(fs, tp)._1.size == 42, "one file per (ticker, day)")
    assert(ids.size == 3, "genesis + two batches, no squash in between")

    // first commit seeds the memo; the second (no new column) advances it
    assert(StockStore.table(spark, root, Streaming).schema == freshInference(root, "streaming"))

    val (rows, tableJobs) = jobsOf(StockStore.table(spark, root, Streaming).collect())
    assert(rows.length == 42)
    assertNoMetadataJobs("table().collect()", tableJobs)

    val req = ReadApi.ReadRequest(dataType = Streaming, ticker = "SPY",
      start = "2025-09-11 00:00", end = "2025-09-15 23:59")
    val (read, readJobs) = jobsOf(ReadApi.read(spark, root, req).collect())
    assert(read.length == 5)
    assertNoMetadataJobs("ReadApi.read", readJobs)

    val (snap, snapJobs) = jobsOf(StockStore.tableAt(spark, root, Streaming, first).collect())
    assert(snap.length == 40)
    assertNoMetadataJobs("tableAt", snapJobs)

    // an upsert whose read-back scans the live table (existing keys
    // re-sent with a corrected price: 2 new versions)
    val (stats, upsertJobs) = jobsOf(StockStore.upsert(spark, root, Streaming,
      trades(Seq("SPY"), 2, 0L, 101.0), collectCounts = false))
    assert(stats.written == 2 && stats.versionConflicts == 2)
    assertNoMetadataJobs("upsert", upsertJobs)

    // partition pruning and pushdown hold on the commit-log relation
    val plan = ReadApi.read(spark, root, req).queryExecution.explainString(SimpleMode)
      .replaceAll("\\s+", " ")
    assert(plan.matches(".*PartitionFilters: \\[[^\\]]*ticker[^\\]]*\\].*"),
      s"ticker must prune partitions, plan:\n$plan")
    assert(plan.contains("PushedFilters: [") && plan.contains("GreaterThanOrEqual(timestamp"),
      s"time range must push to the scan, plan:\n$plan")
  }

  test("the schema memo equals a fresh mergeSchema inference across a dynamic-column commit") {
    import spark.implicits._
    val root = SparkTestSession.tempDir("snapcache-schema")
    def bars(venue: Option[String]) = {
      val df = (0 until 3).map(i => ("SPY", new java.sql.Timestamp(day0 + i * 3600000L),
        "1h", 1.0 + i, 2.0 + i, 0.5 + i, 1.5 + i, 100L * i)).toDF(
        "ticker", "timestamp", "interval", "open", "high", "low", "close", "volume")
      venue.fold(df)(v => df.withColumn("venue", lit(v)))
    }
    StockStore.upsert(spark, root, HistoricalIntraday, bars(None))
    val (seeded, seedJobs) = jobsOf(StockStore.table(spark, root, HistoricalIntraday))
    assert(seedJobs.isEmpty, s"the first commit seeds the memo: $seedJobs")
    assert(seeded.schema == freshInference(root, "historical_intraday"))

    // A10: a new payload column — one inference, then memoized
    StockStore.upsert(spark, root, HistoricalIntraday,
      bars(Some("XNAS")).withColumn("close", $"close" + 1))
    val evolved = StockStore.table(spark, root, HistoricalIntraday)
    assert(evolved.columns.contains("venue"))
    assert(evolved.schema == freshInference(root, "historical_intraday"))
    val (_, again) = jobsOf(StockStore.table(spark, root, HistoricalIntraday))
    assert(again.isEmpty, s"an unchanged snapshot re-infers nothing: $again")
    assert(evolved.where($"venue".isNull).count() == 3 && evolved.count() == 6)

    // compaction's reset commit keeps the union
    StockStore.compact(spark, root, HistoricalIntraday)
    val (compacted, compactJobs) = jobsOf(StockStore.table(spark, root, HistoricalIntraday))
    assert(compactJobs.isEmpty, s"compaction seeds the memo: $compactJobs")
    assert(compacted.schema == freshInference(root, "historical_intraday"))
  }

  test("a table deleted and recreated at the same path reads as the new table") {
    import spark.implicits._
    val root = SparkTestSession.tempDir("snapcache-recreate")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // 02:00Z is Sep 11 in Tokyo but Sep 10 in New York: the partitioning
    // tz decides the day partition a row lives in
    val ts = new java.sql.Timestamp(1757556000000L) // 2025-09-11T02:00:00Z
    val old = Seq(("SPY", ts, 1.0, 1L), ("SPY", new java.sql.Timestamp(ts.getTime + 1000), 2.0, 1L))
      .toDF("ticker", "timestamp", "price", "volume")
    StockStore.upsert(spark, root, Streaming, old, exchangeTz = "Asia/Tokyo")
    // a replay (nothing to commit) reads the tz marker beside the log
    assert(StockStore.upsert(spark, root, Streaming, old, exchangeTz = "Asia/Tokyo").written == 0)
    assert(StockStore.table(spark, root, Streaming).count() == 2)
    val oldIds = StockStore.commitIds(spark, root, Streaming)

    assert(fs.delete(new Path(root), true))
    val fresh = Seq(("SPY", ts, 5.0, 3L, "XNYS")).toDF("ticker", "timestamp", "price", "volume", "venue")
    StockStore.upsert(spark, root, Streaming, fresh, exchangeTz = "America/New_York")
    assert(StockStore.commitIds(spark, root, Streaming) == oldIds, "commit ids restart at 0")

    val got = StockStore.table(spark, root, Streaming)
    assert(got.columns.contains("venue"), s"stale schema: ${got.columns.mkString(",")}")
    assert(got.select("price", "volume", "venue", "d").as[(Double, Long, String, Int)]
      .collect().toSeq == Seq((5.0, 3L, "XNYS", 10)))

    // the recreated table is partitioned on New York days: a re-send
    // under Tokyo must degrade to the ticker-wide read-back and find
    // the stored row, not prune to the Tokyo day and write it again
    val resend = StockStore.upsert(spark, root, Streaming, fresh, exchangeTz = "Asia/Tokyo")
    assert(resend.written == 0 && resend.exactDups == 1, s"stale tz memo: $resend")
    assert(StockStore.table(spark, root, Streaming).count() == 1)
  }

  test("a manifest rewritten in place under the same name is parsed again") {
    val root = SparkTestSession.tempDir("snapcache-manifest")
    val tp = new Path(s"$root/t")
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    TableLog.publish(fs, tp, Seq("a.parquet"), Nil)
    assert(TableLog.effective(fs, tp)._1 == Seq("a.parquet"))
    fs.delete(tp, true)
    TableLog.publish(fs, tp, Seq("bb.parquet", "c.parquet"), Nil)
    assert(TableLog.effective(fs, tp)._1 == Seq("bb.parquet", "c.parquet"))
  }
}
