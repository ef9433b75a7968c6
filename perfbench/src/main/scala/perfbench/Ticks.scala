package perfbench

import graft.model.{Exchanges, Streaming}
import graft.sources.ws.{FrameFeed, WsFeeds}
import graft.store.StockStore
import graft.streaming.StreamIngest
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

final case class Tick(ticker: String, tsMs: Long, price: Double, volume: Long)

/** Deterministic EODHD trade-frame generator. Tickers are drawn with Zipf
  * skew `zipf` (0 draws them uniformly); small fixed shares of the frames
  * are exact re-sends of an earlier frame (A3), corrections of an earlier
  * (ticker, ts) with a new price (A4), late ticks a day or more behind
  * (other partitions), control frames (T8) and malformed frames (T9). Fresh ticks advance event time by `stepMs`
  * per frame from `baseMs`, so every (ticker, ts) is unique and the store's
  * expected contents follow from the frames alone. */
final class TickGen(seed: Long, val tickers: IndexedSeq[String], baseMs: Long, stepMs: Long = 2L,
    zipf: Double = 1.1) {
  import TickGen._
  private val rnd = new java.util.SplittableRandom(seed)
  private val cdf: Array[Double] = {
    val w = tickers.indices.map(i => 1.0 / math.pow(i + 1, zipf))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private var slot = 0L
  private val pool = mutable.ArrayBuffer.empty[(Tick, String)]
  private val correctedIdx = mutable.HashSet.empty[Int]
  /** Every distinct row the store must hold once all frames are ingested. */
  val stored = mutable.ArrayBuffer.empty[Tick]
  val counts = new Array[Long](KindCount)

  private def pickTicker(): String = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    tickers(math.min(if (i >= 0) i else -i - 1, tickers.length - 1))
  }

  private def freshTick(tsMs: Long): Tick =
    Tick(pickTicker(), tsMs, (1000 + rnd.nextInt(99000)) / 100.0, 1 + rnd.nextInt(5000))

  /** One frame and its kind. */
  def next(): (String, Int) = {
    val u = rnd.nextDouble()
    val kind =
      if (pool.isEmpty || u >= 0.06) Fresh
      else if (u < 0.02) Resend
      else if (u < 0.04) Correction
      else if (u < 0.05) Late
      else if (u < 0.055) Control
      else Malformed
    counts(kind) += 1
    kind match {
      case Fresh =>
        val t = freshTick(baseMs + slot * stepMs); slot += 1
        val f = render(t); pool += ((t, f)); stored += t
        (f, kind)
      case Resend =>
        (pool(rnd.nextInt(pool.length))._2, kind)
      case Correction =>
        var i = rnd.nextInt(pool.length)
        while (correctedIdx.contains(i)) i = (i + 1) % pool.length
        correctedIdx += i
        val o = pool(i)._1
        val fixed = o.copy(price = (math.round(o.price * 100) + 1 + rnd.nextInt(50)) / 100.0)
        stored += fixed
        (render(fixed), kind)
      case Late =>
        val hours = Seq(26L, 30L, 50L, 74L)(rnd.nextInt(4))
        val t = freshTick(baseMs + slot * stepMs - hours * 3600000L); slot += 1
        stored += t
        (render(t), kind)
      case Control => ("""{"status_code":200,"message":"Authorized"}""", kind)
      case _ => (s"""{"s":"${pickTicker()}","p":12.5,"v":""", kind)
    }
  }

  /** `n` fresh ticks, rendered, for seeding a table directly. */
  def freshFrames(n: Int): Seq[String] = (0 until n).map { _ =>
    val t = freshTick(baseMs + slot * stepMs); slot += 1
    val f = render(t); pool += ((t, f)); stored += t
    counts(Fresh) += 1
    f
  }
}

object TickGen {
  val Fresh = 0; val Resend = 1; val Correction = 2; val Late = 3; val Control = 4; val Malformed = 5
  val KindCount = 6
  def isData(kind: Int): Boolean = kind <= Late
  /** The EODHD trade frame of a tick. */
  def render(t: Tick): String = {
    val cents = math.round(t.price * 100)
    f"""{"s":"${t.ticker}","p":${cents / 100}.${cents % 100}%02d,"v":${t.volume},"t":${t.tsMs}}"""
  }
  def tickers(n: Int): IndexedSeq[String] = (0 until n).map(i => f"T$i%03d")
}

/** Open-loop feed: frame k is due at start + k / rate whatever the system
  * does, and its latency is timed from when it was due. Frames
  * [0, warmFrames) are the warm-up; the next `measuredFrames` are measured. */
final class OpenLoopFeed(gen: TickGen, rate: Double, val warmFrames: Int, measuredFrames: Int)
    extends FrameFeed {
  val total: Int = warmFrames + measuredFrames
  val kinds = new Array[Byte](total)
  val frames = new Array[String](total)
  @volatile private var t0Ns = -1L
  @volatile var emitted = 0
  @volatile var lateMaxMs = 0.0
  @volatile var closed = false

  def start(): Unit = t0Ns = System.nanoTime()
  def dueNs(k: Int): Long = t0Ns + (k * 1e9 / rate).toLong
  def windowStartNs: Long = dueNs(warmFrames)
  /** How many frames were due by `ns`. */
  def dueBy(ns: Long): Int = math.min(total.toLong, ((ns - t0Ns) * rate / 1e9).toLong + 1).toInt

  override def connect(): Unit = ()
  override def poll(): Seq[String] = {
    if (t0Ns < 0 || closed) return Nil
    val now = System.nanoTime()
    val due = dueBy(now)
    if (due <= emitted) return Nil
    val out = (emitted until due).map { k =>
      val (f, kind) = gen.synchronized(gen.next())
      kinds(k) = kind.toByte
      frames(k) = f
      if (k >= warmFrames) lateMaxMs = math.max(lateMaxMs, (now - dueNs(k)) / 1e6)
      f
    }
    emitted = due
    out
  }
  override def close(): Unit = closed = true
}

/** One batch of the sink as the benchmark saw it. */
final case class SinkBatch(id: Long, startNs: Long, endNs: Long, stats: Option[StockStore.UpsertStats])

/** The live ingest path, assembled from the program's public pieces:
  * WS source (WAL) → StreamIngest.transformFrames → StockStore.upsert in
  * its streaming (cheap) mode, one upsert per micro-batch. Each upsert runs
  * under its own job group `pb-upsert-<batch>`. */
final class TickStream(spark: SparkSession, root: String, dir: String, feedName: String,
    feed: OpenLoopFeed) {
  WsFeeds.register(feedName, () => feed)
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[SinkBatch]()
  private val tz = Exchanges.tz("US")

  val query: StreamingQuery = {
    val frames = spark.readStream.format("graft.sources.ws.WsSourceProvider")
      .option("walDir", s"$dir/wal").option("feed", feedName).load()
      .select("raw")
    StreamIngest.transformFrames(frames, "trades").writeStream
      .option("checkpointLocation", s"$dir/checkpoint")
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val t0 = System.nanoTime()
        val stats = Ledger.inGroup(spark.sparkContext, s"pb-upsert-$id") {
          if (batch.isEmpty) None
          else Some(StockStore.upsert(batch.sparkSession, root, Streaming, batch, tz,
            collectCounts = false))
        }
        batches.add(SinkBatch(id, t0, System.nanoTime(), stats))
        ()
      }
      .start()
  }

  /** Wait until every frame the feed will emit is committed, then stop. */
  def drainAndStop(): Unit = {
    while (feed.emitted < feed.total && query.isActive) Thread.sleep(20)
    Thread.sleep(50) // the WAL pump polls every 10 ms
    try query.processAllAvailable() finally query.stop()
  }

  /** (batch id, start offset, end offset, progress) for every batch that
    * read frames. */
  def progress: Seq[(Long, Long, Long, org.apache.spark.sql.streaming.StreamingQueryProgress)] =
    query.recentProgress.toSeq.flatMap { p =>
      p.sources.headOption.map { s =>
        def off(x: String) = Option(x).map(_.trim).filter(_.nonEmpty).map(_.toLong).getOrElse(0L)
        (p.batchId, off(s.startOffset), off(s.endOffset), p)
      }
    }.filter(t => t._3 > t._2)
}

/** A running tick feed and its sink, and what they produced. */
final class TickRun(ctx: Ctx, val gen: TickGen, val feed: OpenLoopFeed, val stream: TickStream) {
  var latencies: Seq[Double] = Nil
  var rowsPerS = 0.0

  /** Stop the feed after its window, drain the sink, and compute per-row
    * commit latency (commit time of the batch that carried the frame minus
    * the time the frame was due), throughput, checks and stream layers. */
  def finish(res: PassResult): Unit = {
    stream.drainAndStop()
    val batches = stream.batches.asScala.toSeq.sortBy(_.id)
    val commitNs = batches.map(b => b.id -> b.endNs).toMap
    val prog = stream.progress
    val lat = mutable.ArrayBuffer.empty[Double]
    val measuredBatches = mutable.ArrayBuffer.empty[Long]
    prog.foreach { case (id, s, e, _) =>
      var touched = false
      var k = math.max(s, feed.warmFrames.toLong)
      while (k < e && k < feed.total) {
        if (TickGen.isData(feed.kinds(k.toInt)))
          commitNs.get(id).foreach(c => lat += Stat.secs(c - feed.dueNs(k.toInt)))
        touched = true
        k += 1
      }
      if (touched) measuredBatches += id
    }
    val measuredData = (feed.warmFrames until feed.total).count(k => TickGen.isData(feed.kinds(k)))
    res.attempted += measuredData
    res.failed += measuredData - lat.size
    latencies = if (lat.isEmpty) Seq(Double.NaN) else lat.toSeq
    // goodput: measured rows committed within FreshS of being due, per
    // second of the window (the offered data rate while the sink keeps up)
    rowsPerS = lat.count(_ <= TickRun.FreshS) / Stat.secs(feed.dueNs(feed.total) - feed.windowStartNs)

    // Merge outcomes against the generator: every re-send is an exact dup,
    // every correction a new version, every control/malformed frame dropped
    // by the transform. Checked whenever the cheap mode's diagnostics are
    // all present (AQE may prune them from a batch that merges to nothing).
    val stats = batches.flatMap(_.stats)
    val framesIn = prog.map(t => t._3 - t._2).sum
    val rowsIn = stats.map(_.input).sum
    val known = stats.forall(s => s.input >= 0 && s.nullSkipped >= 0 && s.versionConflicts >= 0)
    val c = gen.counts
    if (known) {
      val dups = stats.map(s => s.input - s.nullSkipped - s.written).sum
      res.check(dups == c(TickGen.Resend), s"exact dups $dups != re-sent frames ${c(TickGen.Resend)}")
      val conflicts = stats.map(_.versionConflicts).sum
      res.check(conflicts == c(TickGen.Correction),
        s"version conflicts $conflicts != corrections ${c(TickGen.Correction)}")
      res.check(framesIn - rowsIn == c(TickGen.Control) + c(TickGen.Malformed),
        s"transform dropped ${framesIn - rowsIn} frames, generator sent " +
          s"${c(TickGen.Control) + c(TickGen.Malformed)} control/malformed")
    }

    if (ctx.traced) {
      val m = res.layers
      val mp = prog.filter(t => measuredBatches.contains(t._1))
      def dur(key: String) = mp.map(t => Option(t._4.durationMs.get(key)).map(_.toDouble).getOrElse(0.0))
      def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stat.median(xs)
      val backlog = mp.flatMap { case (id, _, e, _) =>
        commitNs.get(id).map { cns =>
          (feed.dueBy(cns) - e).toDouble
        }
      }
      m.put("ws.backlog_rows_max", if (backlog.isEmpty) 0.0 else math.max(0.0, backlog.max), "rows")
      m.put("ws.latest_offset_ms_p50", p50(dur("latestOffset")), "ms")
      m.put("gen.late_ms_max", feed.lateMaxMs, "ms")
      m.put("stream.batches", mp.size.toDouble, "count")
      m.put("stream.batch_rows_p50", p50(mp.map(_._4.numInputRows.toDouble)), "rows")
      m.put("stream.trigger_ms_p50", p50(dur("triggerExecution")), "ms")
      m.put("stream.trigger_ms_p95", if (mp.isEmpty) 0.0 else Stat.pct(dur("triggerExecution"), 95), "ms")
      m.put("stream.planning_ms_p50", p50(dur("queryPlanning")), "ms")
      m.put("stream.offset_commit_ms_p50", p50(dur("commitOffsets")), "ms")
      m.put("transform.rows_in", framesIn.toDouble, "rows")
      m.put("transform.rows_dropped", (framesIn - rowsIn).toDouble, "rows")
      val frames = feed.frames.take(feed.total).toSeq
      val ts = {
        import ctx.spark.implicits._
        val df = frames.toDF("raw").cache()
        df.count()
        val s = System.nanoTime()
        StreamIngest.transformFrames(df, "trades").write.format("noop").mode("overwrite").save()
        val out = Stat.secs(System.nanoTime() - s)
        df.unpersist()
        out
      }
      m.put("transform.s", ts, "s")
      Common.storeLayers(ctx, batches.filter(b => b.stats.isDefined && measuredBatches.contains(b.id))
        .map(b => (s"pb-upsert-${b.id}", Stat.secs(b.endNs - b.startNs))), m)
      Common.mergeOutcomes(stats, m)
    }
  }
}

object TickRun {
  /** Freshness objective of `ingest_rows_per_s`, in seconds. */
  val FreshS = 20.0

  /** Start a sink on `root` and a feed of `warmS` + `seconds` at `rate`;
    * returns once the warm-up has been committed, i.e. at the window start
    * or (if the ramp ran long) just after it. */
  def start(ctx: Ctx, gen: TickGen, root: String, rate: Double, warmS: Int, seconds: Int,
      name: String): TickRun = {
    val feed = new OpenLoopFeed(gen, rate, (rate * warmS).toInt, (rate * seconds).toInt)
    val stream = new TickStream(ctx.spark, root, s"${ctx.dir}/$name-stream", s"pb-$name-${ctx.seed}", feed)
    feed.start()
    while (System.nanoTime() < feed.windowStartNs && stream.query.isActive) Thread.sleep(10)
    new TickRun(ctx, gen, feed, stream)
  }
}
