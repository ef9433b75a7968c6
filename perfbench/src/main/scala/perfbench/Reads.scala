package perfbench

import graft.model.StockDataType
import graft.store.StockStore

import scala.collection.mutable

/** Closed-loop read requests: each is one operation under its own job
  * group, timed from issue to the collected result, and checked. */
final class Reads(ctx: Ctx, res: PassResult) {
  private val samples = mutable.ArrayBuffer.empty[(String, Double, String, Long)]

  /** Issue one request of class `cls`; `rows` counts what it returned and
    * `check` returns a message when the result is wrong. A request that
    * throws or fails its check counts as a failed op. */
  def request[T](cls: String)(body: => T)(rows: T => Long)(check: T => Option[String]): Unit = {
    res.attempted += 1
    val t0 = System.nanoTime()
    try {
      val (out, g) = ctx.op(s"read-$cls")(body)
      samples += ((cls, Stat.secs(System.nanoTime() - t0), g, rows(out)))
      check(out).foreach { msg => res.failed += 1; res.failures += s"$cls read: $msg" }
    } catch {
      case e: Exception => res.failed += 1; res.failures += s"$cls read threw: $e"
    }
  }

  def count: Int = samples.size
  /** Seconds of the most recent request. */
  def lastSeconds: Double = samples.last._2

  def report(): Unit = {
    val lat = samples.map(_._2)
    res.e2e.put("read_p50_s", if (lat.isEmpty) Double.NaN else Stat.median(lat), "s")
    res.e2e.put("read_p95_s", if (lat.isEmpty) Double.NaN else Stat.pct(lat, 95), "s")
    if (ctx.traced) {
      val m = res.layers
      Reads.Classes.foreach { c =>
        val xs = samples.filter(_._1 == c).map(_._2)
        m.put(s"read.${c}_s_p50", if (xs.isEmpty) 0.0 else Stat.median(xs), "s")
      }
      val jobs = samples.map(s => ctx.ledger.get.jobs(s._3))
      val n = math.max(samples.size, 1).toDouble
      m.put("read.jobs_per_request", jobs.map(_.size).sum / n, "count")
      val returned = samples.map(_._4).sum
      m.put("read.rows_scanned_per_row_returned",
        jobs.flatten.map(_.inputRecords).sum.toDouble / math.max(returned, 1L), "ratio")
      m.put("read.bytes_per_request", jobs.flatten.map(_.inputBytes).sum / n, "B")
    }
  }
}

object Reads {
  val Classes: Seq[String] = Seq("range", "ohlc", "twap", "m4", "asof", "latest", "snapshot")
}

object Compaction {
  /** Compact `dt` under `root` as one operation: (rows kept, seconds). */
  def run(ctx: Ctx, res: PassResult, root: String, dt: StockDataType): (Long, Double) = {
    val t0 = System.nanoTime()
    val (rows, _) = ctx.op("compact")(StockStore.compact(ctx.spark, root, dt))
    val s = Stat.secs(System.nanoTime() - t0)
    res.e2e.put("compact_s", s, "s")
    if (ctx.traced) res.layers.put("store.compact_s", s, "s")
    (rows, s)
  }
}
