package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.jobs.Commands
import graft.model.HistoricalIntraday
import graft.read.ReadApi
import graft.store.StockStore
import graft.transform.EodhdTransform
import org.apache.spark.sql.functions._

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.{DayOfWeek, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** EODHD-style 1h bars, a pure function of (seed, ticker, day, hour, top-up):
  * any page can be rendered, and any expected store row recomputed, without
  * keeping state. Seven bars per weekday from 09:30 New York. */
final class Bars(seed: Long, val tickers: IndexedSeq[String], val days: IndexedSeq[LocalDate]) {
  private def mix(a: Long): Long = {
    var z = a + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def h(t: Int, d: Int, b: Int, salt: Long): Long =
    mix(mix(mix(mix(seed) + t) + d * 8L + b) + salt)

  def epochS(d: Int, b: Int): Long =
    days(d).atTime(9, 30).plusHours(b).atZone(Common.Zone).toEpochSecond

  /** Top-up `k` corrects ~2% of the bars it re-serves from older days. */
  def corrected(t: Int, d: Int, b: Int, k: Int): Boolean = k > 0 && java.lang.Long.remainderUnsigned(h(t, d, b, k), 50) == 0

  /** (open, high, low, close) in cents and volume of a bar as served after
    * correction `c` (0 = original). */
  def bar(t: Int, d: Int, b: Int, c: Int): (Long, Long, Long, Long, Long) = {
    val r = h(t, d, b, 0)
    val open = 1000 + java.lang.Long.remainderUnsigned(r, 49000)
    val close0 = open + ((r >>> 20) % 200) - 100
    val close = close0 + c // each correction moves close by its own amount: no two collide
    val high = math.max(open, close) + ((r >>> 30) & 63)
    val low = math.max(1, math.min(open, close) - ((r >>> 40) & 63))
    (open, high, low, close, 1 + ((r >>> 45) & 0xFFFF))
  }

  private val dtFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private def cents(x: Long) = f"${x / 100}.${x % 100}%02d"
  def render(t: Int, d: Int, b: Int, c: Int): String = {
    val (o, hi, lo, cl, v) = bar(t, d, b, c)
    val e = epochS(d, b)
    val dt = LocalDateTime.ofEpochSecond(e, 0, ZoneOffset.UTC).format(dtFmt)
    s"""{"timestamp":$e,"gmtoffset":0,"datetime":"$dt","open":${cents(o)},"high":${cents(hi)},"low":${cents(lo)},"close":${cents(cl)},"volume":$v}"""
  }
}

object Bars {
  def weekdays(from: LocalDate, n: Int): IndexedSeq[LocalDate] =
    Iterator.iterate(from)(_.plusDays(1))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY)
      .take(n).toIndexedSeq
}

/** Loopback HTTP stand-in for the EODHD intraday endpoint, serving pages
  * rendered before the clock starts, keyed by (ticker, from, to). Counts
  * requests and bytes served. An unknown page is a 404, which the REST
  * client treats as a hard failure. */
final class BarStub(pages: collection.Map[(String, Long, Long), Array[Byte]]) {
  val requests = new AtomicLong
  val bytes = new AtomicLong
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
  server.createContext("/api/intraday/", (ex: HttpExchange) => {
    val ticker = ex.getRequestURI.getPath.stripPrefix("/api/intraday/").takeWhile(_ != '.')
    val q = ex.getRequestURI.getQuery.split("&").map(_.split("=", 2)).collect {
      case Array(k, v) => k -> v }.toMap
    val body = pages.get((ticker, q.getOrElse("from", "-1").toLong, q.getOrElse("to", "-1").toLong))
    requests.incrementAndGet()
    body match {
      case Some(b) =>
        ex.sendResponseHeaders(200, b.length.toLong)
        ex.getResponseBody.write(b)
        bytes.addAndGet(b.length.toLong)
      case None => ex.sendResponseHeaders(404, -1)
    }
    ex.close()
  })
  server.start()
  val baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}/api"
  def stop(): Unit = {
    server.stop(0)
    server.getExecutor.asInstanceOf[java.util.concurrent.ExecutorService].shutdownNow()
  }
}

/** bar_backfill: `Commands.runHistoricalBatch` against the loopback stub —
  * an initial load of a year of 1h bars for 4 tickers (48 (ticker, y, m)
  * partitions), then daily top-ups that re-ingest the last three sessions
  * with ~2% corrected bars, then range reads; the traced pass also
  * compacts. A load past the store's 4096-partition pruning cap was not
  * kept: every partition costs the commit path several local-file-system
  * operations, and 4800 of them took over two minutes on a 4-core host,
  * past the run limit. */
object BarBackfill {
  val Tickers = 4
  val TopUps = 24             // pages rendered; a run uses as many as fit
  val Reads = 5
  private val wall = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm")

  def run(ctx: Ctx): PassResult = {
    val res = new PassResult
    val t0 = System.nanoTime()
    val nT = if (ctx.tiny) 2 else Tickers
    val history = Bars.weekdays(LocalDate.of(2023, 1, 2), if (ctx.tiny) 20 else 260)
    val yearDays = history.size
    val bars = new Bars(ctx.seed, TickGen.tickers(nT), history ++ Bars.weekdays(LocalDate.of(2024, 1, 2), TopUps))
    val (yearFrom, yearTo) = ("2023-01-01 00:00", "2023-12-31 23:59")
    val tickers = bars.tickers
    def epochOf(s: String) = LocalDateTime.parse(s, wall).atZone(Common.Zone).toEpochSecond
    def dayStart(d: Int) = s"${bars.days(d)} 00:00"
    def dayEnd(d: Int) = s"${bars.days(d)} 23:59"

    // Served state: the correction each bar currently carries.
    val current = mutable.HashMap.empty[(Int, Int, Int), Int]
    // Expected outcome per top-up: (input, written, exact dups, conflicts).
    val topUpExpect = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val pages = mutable.HashMap.empty[(String, Long, Long), Array[Byte]]
    def page(t: Int, days: Range): Array[Byte] = {
      val sb = new StringBuilder("[")
      for (d <- days; b <- 0 until 7) {
        if (sb.length > 1) sb += ','
        sb ++= bars.render(t, d, b, current.getOrElse((t, d, b), 0))
      }
      sb += ']'
      sb.toString.getBytes(StandardCharsets.UTF_8)
    }
    tickers.indices.foreach { t =>
      pages((tickers(t), epochOf(yearFrom), epochOf(yearTo))) = page(t, 0 until yearDays)
    }
    (1 to TopUps).foreach { k =>
      val last = yearDays - 1 + k
      var input, written, dups, conflicts = 0L
      tickers.indices.foreach { t =>
        for (d <- last - 2 to last; b <- 0 until 7) {
          input += 1
          if (d == last) written += 1
          else if (bars.corrected(t, d, b, k)) { current((t, d, b)) = k; written += 1; conflicts += 1 }
          else dups += 1
        }
        pages((tickers(t), epochOf(dayStart(last - 2)), epochOf(dayEnd(last)))) = page(t, last - 2 to last)
      }
      topUpExpect += ((input, written, dups, conflicts))
    }
    val stub = new BarStub(pages)
    val root = s"${ctx.dir}/store"
    try {
      def backfill(from: String, to: String) =
        Commands.runHistoricalBatch(ctx.spark, root, tickers, "US", "1h", from, to,
          apiToken = "perfbench", baseUrl = stub.baseUrl, maxRetries = 1)
      val windowStart = System.nanoTime()
      ctx.lap("pages rendered")
      res.e2e.put("setup_s", Stat.secs(windowStart - t0), "s")

      // Initial load: one op, the bulk load.
      val (initial, initialG) = ctx.op("backfill")(backfill(yearFrom, yearTo))
      val initialS = Stat.secs(System.nanoTime() - windowStart)
      ctx.lap(f"initial load of ${initial.written} rows took $initialS%.1f s")
      val initialRows = nT.toLong * yearDays * 7
      res.check(initial.written == initialRows && initial.input == initialRows,
        s"initial load wrote ${initial.written} of $initialRows bars (input ${initial.input})")

      // Daily top-ups, closed loop, until the run length is spent.
      val topUps = mutable.ArrayBuffer.empty[(String, Double, Long)]
      val topUpStats = mutable.ArrayBuffer.empty[StockStore.UpsertStats]
      var k = 0
      while (k < TopUps && (k < 3 || System.nanoTime() - windowStart < ctx.seconds * 1000000000L)) {
        val last = yearDays + k
        val s = System.nanoTime()
        val (st, g) = ctx.op("topup")(backfill(dayStart(last - 2), dayEnd(last)))
        topUps += ((g, Stat.secs(System.nanoTime() - s), st.input))
        topUpStats += st
        ctx.lap(f"top-up ${k + 1} of ${st.input} rows took ${topUps.last._2}%.1f s")
        val (in, wr, du, co) = topUpExpect(k)
        res.check(st.input == in && st.written == wr && st.exactDups == du && st.versionConflicts == co,
          s"top-up ${k + 1}: got (input, written, dups, conflicts) = " +
            s"(${st.input}, ${st.written}, ${st.exactDups}, ${st.versionConflicts}), expected ($in, $wr, $du, $co)")
        k += 1
      }
      // every row of a top-up is requested when it starts and committed when it returns
      val rowLat = topUps.flatMap { case (_, s, n) => Iterator.fill(n.toInt)(s) }
      res.e2e.put("ingest_p50_s", Stat.median(rowLat), "s")
      res.e2e.put("ingest_p99_s", Stat.pct(rowLat, 99), "s")
      res.e2e.put("ingest_rows_per_s",
        (initial.input + topUps.map(_._3).sum) / (initialS + topUps.map(_._2).sum), "rows/s")

      // Whole-store fingerprint against the generator.
      var n, vol, close, ver = 0L
      for (t <- tickers.indices; d <- 0 until yearDays + k; b <- 0 until 7) {
        val corrections = 0 +: (1 to k).filter(j => d >= yearDays - 3 + j && d < yearDays - 1 + j &&
          bars.corrected(t, d, b, j))
        if (d < yearDays || d - yearDays < k) corrections.zipWithIndex.foreach { case (c, i) =>
          val x = bars.bar(t, d, b, c)
          n += 1; vol += x._5; close += x._4; ver += i + 1
        }
      }
      val got = StockStore.table(ctx.spark, root, HistoricalIntraday)
        .agg(count(lit(1)), sum(col("volume")), sum(round(col("close") * 100).cast("long")), sum(col("version")))
        .head()
      res.check(got.getLong(0) == n && got.getLong(1) == vol && got.getLong(2) == close && got.getLong(3) == ver,
        s"store fingerprint (rows, volume, close cents, versions) = " +
          s"(${got.getLong(0)}, ${got.getLong(1)}, ${got.getLong(2)}, ${got.getLong(3)}), expected ($n, $vol, $close, $ver)")
      res.e2e.put("store_bytes_per_row", Common.bytesPerRow(root, HistoricalIntraday, n), "B/row")
      ctx.lap("store checked")

      // Range reads of one ticker's sessions that no top-up re-served,
      // row for row.
      val rnd = new java.util.SplittableRandom(ctx.seed * 17 + 3)
      val reads = new Reads(ctx, res)
      (0 until (if (ctx.tiny) 1 else Reads)).foreach { _ =>
        val t = rnd.nextInt(nT)
        val expected = (for (d <- 0 until yearDays - 2; b <- 0 until 7) yield {
          val (o, hi, lo, cl, v) = bars.bar(t, d, b, 0)
          (bars.epochS(d, b) * 1000, o, hi, lo, cl, v)
        }).sorted
        reads.request("range") {
          ReadApi.readIntradayBars(ctx.spark, root, ReadApi.ReadRequest(HistoricalIntraday, tickers(t),
            Some("1h"), yearFrom, dayEnd(yearDays - 3))).collect()
        }(_.length.toLong) { rows =>
          def c(x: Double) = math.round(x * 100)
          val g = rows.map(r => (r.timestamp.getTime, c(r.open), c(r.high), c(r.low), c(r.close), r.volume)).toSeq.sorted
          if (g == expected) None else Some(s"${tickers(t)}: ${g.size} bars, expected ${expected.size}")
        }
      }
      reads.report()
      ctx.lap("reads done")

      if (ctx.traced) {
        val m = res.layers
        m.put("rest.requests", stub.requests.get.toDouble, "count")
        m.put("rest.bytes", stub.bytes.get.toDouble, "B")
        // The REST source and the transform, each timed alone on the initial
        // load's pages: raw pages fetched and pinned, then transformed.
        val raw = ctx.spark.read.format("graft.sources.rest.RestSourceProvider")
          .option("tickers", tickers.mkString(",")).option("exchange", "US").option("interval", "1h")
          .option("start", yearFrom).option("end", yearTo)
          .option("apiToken", "perfbench").option("baseUrl", stub.baseUrl).load()
        val restT0 = System.nanoTime()
        raw.cache().count()
        m.put("rest.s", Stat.secs(System.nanoTime() - restT0), "s")
        val s = System.nanoTime()
        val typed = EodhdTransform.intradayBars(raw, "1h")
        typed.write.format("noop").mode("overwrite").save()
        m.put("transform.s", Stat.secs(System.nanoTime() - s), "s")
        m.put("transform.rows_in", raw.count().toDouble, "rows")
        m.put("transform.rows_dropped", (raw.count() - typed.count()).toDouble, "rows")
        raw.unpersist()
        Common.storeLayers(ctx, topUps.map(t => (t._1, t._2)).toSeq, m)
        m.put("store.bulk_load_s", initialS, "s")
        m.put("store.bulk_jobs", ctx.ledger.get.jobs(initialG).size.toDouble, "count")
        Common.mergeOutcomes(initial +: topUpStats.toSeq, m)
        m.put("store.files", Common.dataFiles(ctx.spark, root, HistoricalIntraday).toDouble, "count")
        m.put("tablelog.commits_live",
          StockStore.commitIds(ctx.spark, root, HistoricalIntraday).size.toDouble, "count")
        val (compacted, _) = Compaction.run(ctx, res, root, HistoricalIntraday)
        res.check(compacted == n, s"compaction kept $compacted of $n rows")
      }
    } finally stub.stop()
    res
  }
}
