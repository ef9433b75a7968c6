package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory

/** Benchmark entry point: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> [--tiny]`. Prints a host stamp line, then as
  * its last line the result object; exits non-zero if any op failed or any
  * output check did not hold.
  *
  * Untraced (`--trace 0`): one pass, no listener, end-to-end metrics.
  * Traced (`--trace 1`): a pass with the job ledger attached, which yields
  * the per-layer metrics; its primary metric minus that of the untraced
  * runs recorded under `--records` is the tracing overhead. */
object Main {
  val Workloads: Map[String, (Ctx => PassResult, String)] = Map(
    "bar_backfill" -> ((BarBackfill.run _), "ingest_p50_s"),
    "read_mix" -> ((ReadMix.run _), "read_p50_s"))

  val EndToEnd: Seq[String] = Seq("setup_s", "ingest_rows_per_s", "ingest_p50_s", "ingest_p99_s",
    "read_p50_s", "read_p95_s", "store_bytes_per_row")

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a.getOrElse("workload", "")
    val (runPass, primary) = Workloads.getOrElse(workload, {
      System.err.println(s"unknown workload '$workload'; have ${Workloads.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    })
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a.getOrElse("trace", "0") == "1"
    val tiny = args.contains("--tiny")
    val work = a("work")

    val stampT0 = System.nanoTime()
    val jiffiesStart = Host.cpuJiffies()
    val probeStart = Host.cpuProbeS()
    val sibsStart = Host.siblings()
    val stampS = Stat.secs(System.nanoTime() - stampT0)
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config(graft.core.Tuning.ObjHashFallbackConfKey, graft.core.Tuning.objHashFallback)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // set-up starts at JVM start; the host probe is not the program's
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0 - stampS

    def pass(tag: String, ledger: Option[Ledger]): PassResult = {
      val r = runPass(new Ctx(spark, seed, seconds, tiny, s"$work/$tag", ledger))
      r.e2e.get("setup_s").foreach(s => r.e2e.put("setup_s", s + sessionS, "s"))
      spark.catalog.clearCache()
      r
    }

    // Untraced runs record their primary figure, so a traced run can set its
    // own against runs made under the same conditions (a fresh JVM each).
    val records = new java.io.File(a("records"), s"untraced-$workload-$seconds.txt")

    val (out, attempted, failed, failures) =
      if (!traced) {
        val r = pass("untraced", None)
        r.e2e.get(primary).filter(_ => r.failed == 0).foreach { v =>
          records.getParentFile.mkdirs()
          java.nio.file.Files.writeString(records.toPath, s"$v\n",
            java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
        }
        (r.e2e, r.attempted, r.failed, r.failures.toSeq)
      } else {
        val ledger = new Ledger(spark.sparkContext)
        spark.sparkContext.addSparkListener(ledger)
        val gc = new GcWatch
        val t = pass("traced", Some(ledger))
        t.layers.put("jvm.gc_s", gc.gcS, "s")
        t.layers.put("jvm.gc_pause_max_ms", gc.pauseMaxMs, "ms")
        t.layers.put("jvm.peak_rss_mb", Common.peakRssMb(), "MiB")
        gc.close()
        val recorded =
          if (!records.exists()) Nil
          else scala.io.Source.fromFile(records).getLines().map(_.trim).filter(_.nonEmpty).map(_.toDouble).toSeq
        // Overhead: this traced pass against the median untraced run recorded
        // in this checkout; failing any, against a second traced pass and an
        // untraced pass in this JVM, both warm (traced first, so residual
        // warm-up cannot understate the overhead).
        val (tp, up, extra) =
          if (recorded.nonEmpty) (t.e2e.get(primary).getOrElse(Double.NaN), Stat.median(recorded), Nil)
          else {
            val t2 = pass("traced-warm", Some(ledger))
            spark.sparkContext.removeSparkListener(ledger)
            val u = pass("untraced-warm", None)
            (t2.e2e.get(primary).getOrElse(Double.NaN), u.e2e.get(primary).getOrElse(Double.NaN), Seq(t2, u))
          }
        t.layers.put("trace.traced_primary_s", tp, "s")
        t.layers.put("trace.untraced_primary_s", up, "s")
        t.layers.put("trace.overhead_s", tp - up, "s")
        val all = t +: extra
        (Layers.complete(t.layers), all.map(_.attempted).sum, all.map(_.failed).sum,
          all.flatMap(_.failures))
      }

    val sibsEnd = Host.siblings()
    val probeEnd = Host.cpuProbeS()
    val jiffiesEnd = Host.cpuJiffies()
    val stealShare = (jiffiesEnd._1 - jiffiesStart._1).toDouble / math.max(1L, jiffiesEnd._2 - jiffiesStart._2)
    println(Json.obj(Seq("host" -> Json.obj(Seq(
      "cpu_probe_start_s" -> Json.num(probeStart), "cpu_probe_end_s" -> Json.num(probeEnd),
      "cpu_steal_share" -> Json.num(stealShare),
      "sibling_jvms_start" -> sibsStart.map(Json.str).mkString("[", ",", "]"),
      "sibling_jvms_end" -> sibsEnd.map(Json.str).mkString("[", ",", "]"))))))
    failures.foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    val missing = if (traced) Nil else EndToEnd.filterNot(n => out.get(n).exists(v => !v.isNaN))
    missing.foreach(n => System.err.println(s"[perfbench] metric $n was not measured"))
    val ok = failed == 0 && missing.isEmpty
    println(Json.obj(Seq("correct" -> ok.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> out.toJson)))
    spark.stop()
    sys.exit(if (ok) 0 else 1)
  }
}

/** Host stamp: recorded next to the result, gates nothing. */
object Host {
  /** (steal, total) CPU jiffies so far: steal is time this VM was ready to
    * run but the hypervisor ran someone else. */
  def cpuJiffies(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    (if (f.length > 7) f(7) else 0L, f.sum)
  } catch { case _: Exception => (0L, 0L) }

  /** Seconds for a fixed single-thread job (SHA-256 over 8 MiB). */
  def cpuProbeS(): Double = {
    val buf = Array.tabulate[Byte](8 << 20)(i => (i * 31).toByte)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val t0 = System.nanoTime()
    md.update(buf)
    md.digest()
    Stat.secs(System.nanoTime() - t0)
  }
  /** Other Spark/sbt JVMs running now (the contention class that inflates
    * timings), in the program's own `ps` parser. */
  def siblings(): Seq[String] = graft.tools.ScaleSweep.siblingJvmsNow()
}
