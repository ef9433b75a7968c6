package perfbench

import graft.analytics.SessionAnalytics
import graft.model.{HistoricalIntraday, Streaming}
import graft.read.ReadApi
import graft.read.ReadApi.ReadRequest
import graft.store.StockStore
import graft.transform.EodhdTransform
import org.apache.spark.sql.Row

import java.time.LocalDate
import scala.collection.mutable

/** read_mix: a store of bars, trades (with corrections) and quotes is built
  * in set-up; then one closed-loop client issues `ReadApi` requests — range
  * reads feeding session OHLC, TWAP, M4 downsampling and a backward as-of
  * join, latest-version reads and snapshot (as-of-commit) reads, each ending
  * in `collect()` — while a low-rate tick feed keeps committing to the same
  * streaming table (another day, so every read's answer is known). Request
  * classes rotate in a fixed order and the client stops at the end of a
  * round, so every run has the same class mix. */
object ReadMix {
  val Tickers = 8
  val TradesPerTicker = 600
  val BarDays = 40
  val FeedRate = 100.0
  val Day = LocalDate.of(2024, 3, 4)                 // seeded trades and quotes
  val FeedBaseMs = 1710252000000L                     // 2024-03-12 10:00 New York
  val Classes: Seq[String] = Seq("ohlc", "twap", "m4", "asof", "latest", "snapshot")

  def run(ctx: Ctx): PassResult = {
    val res = new PassResult
    val t0 = System.nanoTime()
    val spark = ctx.spark
    import spark.implicits._
    val nT = if (ctx.tiny) 2 else Tickers
    val perTicker = if (ctx.tiny) 30 else TradesPerTicker
    val tickers = TickGen.tickers(nT)
    val root = s"${ctx.dir}/store"
    val tz = Common.Tz
    val openMs = Day.atTime(9, 30).atZone(Common.Zone).toInstant.toEpochMilli
    val stepMs = 6L * 3600 * 1000 / perTicker

    // Trades across the session, then ~5% corrected (version 2).
    // tickers drawn uniformly, so a read's cost does not hang on which
    // ticker the seed picks
    val gen = new TickGen(ctx.seed, tickers, openMs, stepMs / nT, zipf = 0.0)
    val tradeFrames = gen.freshFrames(nT * perTicker)
    val rnd = new java.util.SplittableRandom(ctx.seed ^ 0x5EEDL)
    val fixes = gen.stored.filter(_ => rnd.nextInt(20) == 0).map(t => t.copy(price = (math.round(t.price * 100) + 1 + rnd.nextInt(40)) / 100.0))
    // Quotes on their own millisecond grid (a quote sharing a trade's
    // (ticker, ts) would be a new version of that trade's key).
    final case class Quote(ticker: String, tsMs: Long, bid: Double, ask: Double)
    val quotes = for (t <- tickers; j <- 0 until perTicker / 2) yield {
      val bid = 2000 + rnd.nextInt(8000)
      Quote(t, openMs + j * stepMs * 2 + 977 + tickers.indexOf(t), bid / 100.0, (bid + 1 + rnd.nextInt(20)) / 100.0)
    }
    val quoteFrames = quotes.map(q =>
      f"""{"s":"${q.ticker}","bp":${q.bid}%.2f,"ap":${q.ask}%.2f,"bs":100,"as":100,"t":${q.tsMs}}""")
    val bars = new Bars(ctx.seed, tickers, Bars.weekdays(LocalDate.of(2023, 1, 2), if (ctx.tiny) 5 else BarDays))
    val barRows = for (t <- tickers.indices; d <- bars.days.indices; b <- 0 until 7)
      yield (bars.render(t, d, b, 0), tickers(t))

    // One streaming upsert holds trades, their corrections and quotes, so
    // each corrected key's two payloads are versioned within the batch, in
    // the store's order: ascending xxhash64 of the payload columns. The bars
    // go to their own table at the same time.
    val seedBars = new Thread(() => StockStore.upsert(spark, root, HistoricalIntraday,
      EodhdTransform.intradayBars(barRows.toDF("raw", "ticker"), "1h"), tz, collectCounts = false))
    seedBars.start()
    StockStore.upsert(spark, root, Streaming,
      EodhdTransform.tradeTicks((tradeFrames ++ fixes.map(TickGen.render)).toDF("raw"))
        .unionByName(EodhdTransform.quoteTicks(quoteFrames.toDF("raw"))), tz, collectCounts = false)
    seedBars.join()
    val snapshotId = StockStore.commitIds(spark, root, Streaming).last
    ctx.lap("seeded")
    gen.stored ++= fixes
    val trades = gen.stored.toSeq
    val payloadHash: Map[(String, Long, Double), Long] = {
      import org.apache.spark.sql.functions._
      trades.map(t => (t.ticker, t.tsMs, t.price, t.volume)).toDF("ticker", "ms", "price", "volume")
        .select(col("ticker"), col("ms"), col("price"), xxhash64(col("price"), col("volume"),
          lit(null).cast("double"), lit(null).cast("double"), lit(null).cast("long"), lit(null).cast("long")))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)) -> r.getLong(3)).toMap
    }

    // Expected answers, from the generator alone.
    val tradesBy = trades.groupBy(_.ticker)
    val quotesBy = quotes.groupBy(_.ticker)
    def version(ts: Seq[Tick]): Seq[(Tick, Int)] =
      ts.groupBy(_.tsMs).values.toSeq.flatMap(g =>
        g.sortBy(t => payloadHash((t.ticker, t.tsMs, t.price))).zipWithIndex.map { case (t, i) => (t, i + 1) })

    // The feed: another day, its own generator, through the WS path.
    val feedGen = new TickGen(ctx.seed + 1, tickers, FeedBaseMs)
    // the feed's window spans the client's two or more rounds of reads
    val tr = TickRun.start(ctx, feedGen, root, if (ctx.tiny) 10.0 else FeedRate, if (ctx.tiny) 1 else 2,
      2 * ctx.seconds, "feed")
    val windowStart = System.nanoTime()
    ctx.lap("feed warm")
    res.e2e.put("setup_s", Stat.secs(windowStart - t0), "s")

    val reads = new Reads(ctx, res)
    val analyticsSelf = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    val dayFrom = s"$Day 00:00"
    val dayTo = s"$Day 23:59"
    def req(tk: String, latest: Boolean = false, asOf: Option[Long] = None) =
      ReadRequest(Streaming, tk, None, dayFrom, dayTo, latestVersionOnly = latest, asOfCommit = asOf)
    def tradesDf(tk: String) = ReadApi.readTrades(spark, root, req(tk)).toDF()
    def near(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    def opt(r: Row, i: Int): Option[Double] = if (r.isNullAt(i)) None else Some(r.getDouble(i))

    /** Analytics self time (traced): the request minus the same read alone. */
    def selfTime(cls: String)(read: => Any): Unit = if (ctx.traced) {
      val s = System.nanoTime()
      read
      val bare = Stat.secs(System.nanoTime() - s)
      val last = reads.lastSeconds
      analyticsSelf.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += last - bare
    }

    var round = 0
    while (round < 2 || System.nanoTime() - windowStart < ctx.seconds * 1000000000L) {
      Classes.foreach { cls =>
        val tk = tickers(rnd.nextInt(nT))
        val mine = version(tradesBy(tk))
        cls match {
          case "ohlc" =>
            reads.request(cls)(SessionAnalytics.sessionOhlc(tradesDf(tk), "timestamp", "price", tz).collect())(_.length.toLong) { rows =>
              val s = mine.map(_._1).sortBy(t => (t.tsMs, t.price))
              val exp = (s.head.price, s.map(_.price).max, s.map(_.price).min, s.last.price, s.size.toLong)
              rows.toSeq match {
                case Seq(r) if (r.getAs[Double]("open"), r.getAs[Double]("high"), r.getAs[Double]("low"),
                    r.getAs[Double]("close"), r.getAs[Long]("n_ticks")) == exp => None
                case other => Some(s"$tk OHLC ${other.mkString(";")} != $exp")
              }
            }
            selfTime(cls)(tradesDf(tk).collect())
          case "twap" =>
            reads.request(cls)(SessionAnalytics.twap(tradesDf(tk), "timestamp", "price", "version", Seq("ticker")).collect())(_.length.toLong) { rows =>
              val s = mine.sortBy { case (t, v) => (t.tsMs, v) }
              val pairs = s.zip(s.drop(1)).map { case ((a, _), (b, _)) => (a.price, (b.tsMs - a.tsMs).toDouble) }
              val exp = pairs.map(p => p._1 * p._2).sum / pairs.map(_._2).sum
              rows.toSeq match {
                case Seq(r) if near(r.getAs[Double]("twap"), exp) && r.getAs[Long]("n_ticks") == s.size => None
                case other => Some(s"$tk TWAP ${other.mkString(";")} != $exp over ${s.size}")
              }
            }
            selfTime(cls)(tradesDf(tk).collect())
          case "m4" =>
            val t = tickers.indexOf(tk)
            val breq = ReadRequest(HistoricalIntraday, tk, Some("1h"), s"${bars.days.head} 00:00", s"${bars.days.last} 23:59")
            reads.request(cls)(SessionAnalytics.downsampleM4(ReadApi.readIntradayBars(spark, root, breq).toDF(),
              "timestamp", "close", 32, "version").collect())(_.length.toLong) { rows =>
              val pts = for (d <- bars.days.indices; b <- 0 until 7) yield (bars.epochS(d, b) * 1000, bars.bar(t, d, b, 0)._4 / 100.0)
              val (mn, mx) = (pts.map(_._1).min, pts.map(_._1).max)
              val exp = pts.groupBy(p => (p._1 - mn) * 32 / (mx - mn + 1)).toSeq.map { case (bk, ps) =>
                val s = ps.sortBy(_._1)
                (bk, s.head._1, s.last._1, s.head._2, ps.map(_._2).min, ps.map(_._2).max, s.last._2, ps.size.toLong)
              }.sortBy(_._1)
              val got = rows.map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("first_ms"), r.getAs[Long]("last_ms"),
                r.getAs[Double]("y_first"), r.getAs[Double]("y_min"), r.getAs[Double]("y_max"),
                r.getAs[Double]("y_last"), r.getAs[Long]("n"))).toSeq.sortBy(_._1)
              if (got == exp) None else Some(s"$tk M4: ${got.size} buckets, expected ${exp.size}")
            }
            selfTime(cls)(ReadApi.readIntradayBars(spark, root, breq).collect())
          case "asof" =>
            reads.request(cls)(SessionAnalytics.asOfJoinBackward(tradesDf(tk),
              ReadApi.readQuotes(spark, root, req(tk)).toDF(), Seq("ticker"), "timestamp", "timestamp",
              Seq("bid_price", "ask_price")).collect())(_.length.toLong) { rows =>
              val qs = quotesBy(tk).sortBy(_.tsMs)
              val exp = mine.map { case (t, v) =>
                val qq = qs.takeWhile(_.tsMs <= t.tsMs).lastOption
                (t.tsMs, v, t.price, qq.map(_.bid), qq.map(_.ask))
              }.sorted
              val got = rows.map(r => (r.getAs[java.sql.Timestamp]("timestamp").getTime, r.getAs[Int]("version"),
                r.getAs[Double]("price"), opt(r, r.fieldIndex("asof_bid_price")), opt(r, r.fieldIndex("asof_ask_price")))).toSeq.sorted
              if (got == exp) None else Some(s"$tk as-of: ${got.size} rows, expected ${exp.size}")
            }
            selfTime(cls)({ tradesDf(tk).collect(); ReadApi.readQuotes(spark, root, req(tk)).collect() })
          case "latest" =>
            reads.request(cls)(ReadApi.read(spark, root, req(tk, latest = true)).collect())(_.length.toLong) { rows =>
              val exp = (mine.groupBy(_._1.tsMs).values.map(_.maxBy(_._2)).map { case (t, v) => (t.tsMs, v, Option(t.price), Option.empty[Double]) } ++
                quotesBy(tk).map(x => (x.tsMs, 1, Option.empty[Double], Option(x.ask)))).toSeq.sorted
              val got = rows.map(r => (r.getAs[java.sql.Timestamp]("timestamp").getTime, r.getAs[Int]("version"),
                opt(r, r.fieldIndex("price")), opt(r, r.fieldIndex("ask_price")))).toSeq.sorted
              if (got == exp) None else Some(s"$tk latest: ${got.size} rows, expected ${exp.size}")
            }
          case "snapshot" =>
            reads.request(cls)(ReadApi.readTrades(spark, root, req(tk, asOf = Some(snapshotId))).collect())(_.length.toLong) { rows =>
              val got = rows.map(r => (r.timestamp.getTime, r.price, r.volume)).toSeq.sorted
              val exp = mine.map(m => (m._1.tsMs, m._1.price, m._1.volume)).sorted
              if (got == exp) None else Some(s"$tk snapshot: ${got.size} rows, expected ${exp.size}")
            }
        }
      }
      round += 1
    }
    reads.report()
    ctx.lap(s"${reads.count} reads done")
    tr.finish(res)
    ctx.lap("feed drained")
    res.e2e.put("ingest_rows_per_s", tr.rowsPerS, "rows/s")
    res.e2e.put("ingest_p50_s", Stat.median(tr.latencies), "s")
    res.e2e.put("ingest_p99_s", Stat.pct(tr.latencies, 99), "s")

    val rows = Common.checkTicks(ctx, root, gen.stored.toSeq ++ feedGen.stored, res, "read_mix store")
    res.e2e.put("store_bytes_per_row", Common.bytesPerRow(root, Streaming, rows + quotes.size), "B/row")
    ctx.lap("checked")
    if (ctx.traced) {
      val m = res.layers
      Seq("ohlc", "twap", "asof", "m4").foreach { c =>
        m.put(s"analytics.${c}_s_p50", analyticsSelf.get(c).map(Stat.median(_)).getOrElse(0.0), "s")
      }
      m.put("store.files", Common.dataFiles(spark, root, Streaming).toDouble, "count")
      m.put("tablelog.commits_live", StockStore.commitIds(spark, root, Streaming).size.toDouble, "count")
    }
    res
  }
}
