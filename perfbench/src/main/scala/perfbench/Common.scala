package perfbench

import graft.model.{Exchanges, StockDataType, Streaming}
import graft.store.StockStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.time.ZoneId

/** What every workload pass gets: the session, the inputs' seed, the run
  * length, a scratch directory inside the checkout, and — in the traced
  * pass — the job ledger and span recorder. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int, val tiny: Boolean,
    val dir: String, val ledger: Option[Ledger]) {
  private val t0 = System.nanoTime()
  /** Progress line on stderr: phase and seconds since the pass began. */
  def lap(what: String): Unit =
    System.err.println(f"[perfbench] $what at ${Stat.secs(System.nanoTime() - t0)}%.1f s")
  def traced: Boolean = ledger.isDefined
  def sc = spark.sparkContext
  private var ops = 0
  /** Run `body` as one benchmark operation under a fresh job group. */
  def op[T](kind: String)(body: => T): (T, String) = {
    ops += 1
    val g = s"pb-$kind-$ops"
    (Ledger.inGroup(sc, g)(body), g)
  }
}

object Common {
  val Tz: String = Exchanges.tz("US")
  val Zone: ZoneId = ZoneId.of(Tz)

  /** Bytes of the table's data files on disk per stored row. */
  def bytesPerRow(root: String, dt: StockDataType, rows: Long): Double = {
    val p = new java.io.File(s"$root/${dt.name}")
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) f.length() else 0L
    walk(p).toDouble / math.max(rows, 1L)
  }

  /** Number of data files referenced by the table's live commits. */
  def dataFiles(spark: SparkSession, root: String, dt: StockDataType): Long =
    StockStore.table(spark, root, dt).inputFiles.length.toLong

  /** Store-vs-generator check for trade ticks: the stored (ticker, ts,
    * price, volume) multiset equals the generator's, and every key's
    * versions are exactly 1..n. Returns the stored row count. */
  def checkTicks(ctx: Ctx, root: String, expected: Seq[Tick], res: PassResult, what: String): Long = {
    val t = StockStore.table(ctx.spark, root, Streaming).where(col("price").isNotNull)
      .select(col("ticker"), unix_millis(col("timestamp")).as("ms"), col("price"),
        col("volume"), col("version"))
      .collect()
    val got = t.map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted.toSeq
    val exp = expected.map(x => (x.ticker, x.tsMs, x.price, x.volume)).sorted
    res.check(got == exp,
      s"$what: store holds ${got.size} tick rows, generator expects ${exp.size} " +
        s"(${got.diff(exp).take(3)} extra, ${exp.diff(got).take(3)} missing)")
    val versionsOk = t.groupBy(r => (r.getString(0), r.getLong(1))).forall { case (_, rs) =>
      rs.map(_.getInt(4)).sorted.toSeq == (1 to rs.length)
    }
    res.check(versionsOk, s"$what: some key's versions are not exactly 1..n")
    got.size.toLong
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Store-layer figures from the ledger: each upsert group's labelled jobs
    * (`upsert[...]: <step>`, set by StockStore), everything else in the
    * group, and the driver-side remainder of the upsert span. */
  def storeLayers(ctx: Ctx, upserts: Seq[(String, Double)], m: Metrics): Unit = {
    val ledger = ctx.ledger.get
    val per = upserts.map { case (g, spanS) => (ledger.jobs(g), spanS) }
    def wallOf(js: Seq[JobRec], step: String) =
      js.filter(_.desc.contains(step)).map(_.wallS).sum
    def meanOf(f: ((Seq[JobRec], Double)) => Double) =
      if (per.isEmpty) 0.0 else per.map(f).sum / per.size
    val spansS = upserts.map(_._2)
    m.put("store.upsert_s_p50", if (spansS.isEmpty) 0.0 else Stat.median(spansS), "s")
    m.put("store.upsert_s_p95", if (spansS.isEmpty) 0.0 else Stat.pct(spansS, 95), "s")
    m.put("store.touched_s", meanOf(p => wallOf(p._1, "touched")), "s")
    m.put("store.merge_s", meanOf(p => wallOf(p._1, "merge + pin")), "s")
    m.put("store.stats_s", meanOf(p => wallOf(p._1, "stats rows")), "s")
    m.put("store.stage_write_s", meanOf(p => wallOf(p._1, "stage data write")), "s")
    m.put("store.unlabelled_jobs_s", meanOf(p => p._1.filterNot(_.desc.startsWith("upsert[")).map(_.wallS).sum), "s")
    m.put("store.driver_s", meanOf(p => math.max(0.0, p._2 - p._1.map(_.wallS).sum)), "s")
    m.put("store.jobs_per_upsert", meanOf(_._1.size.toDouble), "count")
    m.put("store.tasks_per_upsert", meanOf(_._1.map(_.tasks).sum.toDouble), "count")
    m.put("store.task_s_per_upsert", meanOf(_._1.map(_.taskMs).sum / 1000.0), "s")
    m.put("store.shuffle_mb_per_upsert", meanOf(_._1.map(_.shuffleBytes).sum / 1048576.0), "MiB")
  }

  /** Merge outcomes summed over upserts (a -1 diagnostic, which the cheap
    * mode reports when AQE prunes its observation, counts as unknown). */
  def mergeOutcomes(stats: Seq[StockStore.UpsertStats], m: Metrics): Unit = {
    def sum(f: StockStore.UpsertStats => Long) = stats.map(f).filter(_ >= 0).sum.toDouble
    val input = sum(_.input)
    val written = sum(_.written)
    m.put("store.exact_dups",
      stats.map(s => if (s.input >= 0 && s.nullSkipped >= 0) s.input - s.nullSkipped - s.written else 0L).sum.toDouble,
      "count")
    m.put("store.version_conflicts", sum(_.versionConflicts), "count")
    m.put("store.written_rows", written, "count")
    m.put("store.written_per_input", if (input > 0) written / input else 0.0, "ratio")
  }
}
