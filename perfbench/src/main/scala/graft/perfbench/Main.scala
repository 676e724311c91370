package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by perfbench/run.py):
  *
  *   Main --workload build|query|pipeline --seed N --seconds S
  *        --trace 0|1 --work DIR --bench-dir DIR [--cpus P]
  *
  * One process, one closed-loop client at local[P]. Set-up runs
  * `SetupReps` times and reports its median; the loop then runs the
  * workload's operations until S seconds are spent, the results are
  * checked, and the last stdout line is the JSON result. `--trace 0`
  * reports the end-to-end metrics; `--trace 1` records spans and
  * scheduler counts and reports the per-layer metrics instead.
  */
object Main {
  val SetupReps = 3

  private val started = System.nanoTime()
  /** Phase marks on stderr, seconds since JVM start of main. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%7.2fs $what")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new java.io.File(opts("work")).getAbsolutePath
    val benchDir = opts("bench-dir")
    val cpus = opts.get("cpus").map(_.toInt).getOrElse(
      math.min(4, Runtime.getRuntime.availableProcessors()))

    val hostBefore = Host.probe(cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val tracer = new Tracer(sc, trace)
    val listener = new SchedListener
    if (trace) sc.addSparkListener(listener)

    val ctx = new Ctx(spark, tracer, s"$work/$workload", seed)
    val wl = Workloads(workload, ctx, benchDir)

    mark("session ready")
    wl.warmUp()
    mark("warmed up")
    val setupTimes = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      wl.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    mark(s"set-up done ${setupTimes.map(t => f"$t%.2f").mkString(",")}")
    wl.prepare()
    mark("prepared")
    // closed loop: the next operation starts when the previous one ends,
    // until the window is spent
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) wl.step()
    val peakRss = peakRssMb() // before the checks: their oracle is not the program
    mark(s"window done, ${ctx.latencies.size} ops")
    wl.check()
    mark("checked")
    val hostAfter = Host.probe(cpus)

    if (opts.get("record-digests").contains("1")) wl match {
      case p: PipelineWorkload =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(benchDir, "pipeline-digests.txt"),
          ("# sha256 of each sorted pipeline output on the fixed input" +:
            p.digestLines()).mkString("", "\n", "\n"))
      case _ =>
    }

    val lat = ctx.latencies.toSeq
    val (units, workSeconds) = wl.work
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (Stats.median(setupTimes) -> "s"),
      "peak_rss_mb" -> (peakRss -> "MB"),
      "throughput_per_s" -> ((units / workSeconds) -> "1/s"),
      "op_p50_s" -> (Stats.quantile(lat, 0.5) -> "s"),
      "index_bytes_per_input_byte" -> (wl.indexBytesPerInputByte -> "ratio"))

    val host = Seq(hostBefore, hostAfter)
    val hostMetrics = mutable.LinkedHashMap[String, (Double, String)](
      "host.cpu_probe_s" -> (host.map(_.cpuS).sum / 2 -> "s"),
      "host.mem_probe_s" -> (host.map(_.memS).sum / 2 -> "s"),
      "host.cpu_efficiency" -> (host.map(_.cpuEff).min -> "ratio"),
      "host.mem_efficiency" -> (host.map(_.memEff).min -> "ratio"),
      "host.contended" ->
        ((if (host.exists(_.contended)) 1.0 else 0.0) -> "count"))

    // human-readable summary: every metric by name with its unit, the
    // sample count, the failure share and the host flag
    val failedFrac = ctx.failed.toDouble / math.max(1L, ctx.attempted)
    println(f"perfbench workload=$workload seed=$seed trace=${if (trace) 1 else 0} " +
      f"cpus=$cpus ops=${lat.size} attempted=${ctx.attempted} failed=${ctx.failed}")
    val aliases = Aliases.forWorkload(workload)
    (e2e ++ hostMetrics).foreach { case (k, (v, u)) =>
      println(f"  $k%-28s $v%14.6f $u${aliases.get(k).fold("")(a => s"  ($a)")}")
    }
    println(f"  ${"failed_frac"}%-28s $failedFrac%14.6f ratio")
    println(f"  ${"op_samples"}%-28s ${lat.size}%14d count")
    // not a bounded metric: a run holds far fewer than the 100 samples
    // that would leave ten beyond the 90th percentile
    println(f"  ${"op_p90_s"}%-28s ${Stats.quantile(lat, 0.9)}%14.6f s" +
      aliases.get("op_p90_s").fold("")(a => s"  ($a)"))

    val metrics: Seq[(String, (Double, String))] =
      if (!trace) e2e.toSeq
      else {
        val layers = new Layers(ctx, tracer, listener, wl, lat).metrics
        (hostMetrics ++ layers).toSeq
      }
    if (trace) {
      tracer.writeJsonl(java.nio.file.Paths.get(work,
        s"trace-$workload-$seed.jsonl"))
      metrics.foreach { case (k, (v, u)) => println(f"  $k%-36s $v%16.6f $u") }
    }
    spark.stop()
    println(Json.result(ctx.failed == 0, ctx.attempted, ctx.failed, metrics))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** The issue-level names of the generic end-to-end metrics per workload. */
object Aliases {
  def forWorkload(w: String): Map[String, String] = w match {
    case "build" => Map("throughput_per_s" -> "build_files_per_s",
      "op_p50_s" -> "build_p50_s", "op_p90_s" -> "build_p90_s")
    case "query" => Map("throughput_per_s" -> "queries_per_s",
      "op_p50_s" -> "query_p50_s", "op_p90_s" -> "query_p90_s")
    case "pipeline" => Map("throughput_per_s" -> "pipeline_docs_per_s",
      "op_p50_s" -> "pipeline_s", "op_p90_s" -> "pipeline_p90_s")
    case _ => Map.empty
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).toString

  def result(correct: Boolean, attempted: Long, failed: Long,
             metrics: Seq[(String, (Double, String))]): String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{$ms}}"""
  }
}
