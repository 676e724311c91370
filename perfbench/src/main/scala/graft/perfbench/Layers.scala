package graft.perfbench

import scala.collection.mutable

import graft.index.IndexBuilder

/** Per-layer metrics of a traced run, from the spans, the scheduler
  * listener and the per-operation counts. A layer the workload leaves idle
  * reports 0.
  */
final class Layers(ctx: Ctx, tracer: Tracer, listener: SchedListener,
                   wl: Workload, latencies: Seq[Double]) {
  private val spans = tracer.spans.toSeq
  private val (groups, jobsByTime) =
    listener.resolve(ctx.spark.sparkContext, spans, tracer.group)
  private val empty = new GroupStats
  private def gs(s: Span): GroupStats = groups.getOrElse(tracer.group(s.id), empty)
  private def named(n: String): Seq[Span] = spans.filter(_.name == n)
  private def meanSeconds(n: String): Double = Stats.mean(named(n).map(_.seconds))
  private def roots(p: String => Boolean): Seq[Span] =
    spans.filter(s => s.parent == -1 && p(s.name))
  private def count(op: Int, k: String): Double =
    ctx.counts.get(op).flatMap(_.get(k)).getOrElse(0.0)

  private val out = mutable.LinkedHashMap.empty[String, (Double, String)]
  private def put(k: String, v: Double, unit: String): Unit = out(k) = v -> unit

  def metrics: mutable.LinkedHashMap[String, (Double, String)] = {
    tokenize()
    index()
    queryPath()
    pipeline()
    selfTimes()
    put("trace.op_p50_s", Stats.median(latencies), "s")
    put("spark.jobs_by_time", jobsByTime, "count")
    out
  }

  /** IndexBuilder.tokenizeDoc on this thread over the workload's docs. */
  private def tokenize(): Unit = {
    val sample = wl.tokenizeSample
    def pass(): Long = sample.iterator.zipWithIndex.map { case ((c, l), i) =>
      IndexBuilder.tokenizeDoc(i.toLong, c, 0.toByte, l).size.toLong
    }.sum
    pass() // warm-up
    var terms = 0L
    var n = 0
    val t0 = System.nanoTime()
    while (n == 0 || System.nanoTime() - t0 < 300000000L) { terms += pass(); n += 1 }
    val secs = (System.nanoTime() - t0) / 1e9
    val bytes = sample.map(_._1.getBytes("UTF-8").length.toDouble).sum * n
    put("tokenize.mb_per_s", bytes / 1e6 / secs, "MB/s")
    put("tokenize.terms_per_doc",
      if (sample.isEmpty) 0.0 else terms.toDouble / n / sample.size, "count")
  }

  private def index(): Unit = {
    Seq("docs", "postings", "dict", "repoidx").foreach { st =>
      put(s"index.${st}_s", meanSeconds(s"index.$st"), "s")
    }
    val post = named("index.postings").map(gs)
    put("index.postings.cpu_s", Stats.mean(post.map(_.cpuNs / 1e9)), "s")
    put("index.postings.gc_s", Stats.mean(post.map(_.gcMs / 1e3)), "s")
    // build operations: the loop's builds, or the set-up builds
    val builds = roots(_ == "client.build") match {
      case Seq() => roots(_ == "client.setup")
        .filter(r => spans.exists(s => s.op == r.op && s.name == "index.docs"))
      case bs => bs
    }
    val perBuild = builds.map { r =>
      val st = spans.filter(_.op == r.op).map(gs)
      (st.map(_.shuffleWriteBytes).sum.toDouble, st.map(_.spillBytes).sum.toDouble,
        st.map(_.tasks).sum.toDouble)
    }
    val files = builds.map(r => count(r.op, "files")).sum
    put("index.shuffle_bytes_per_file",
      if (files > 0) perBuild.map(_._1).sum / files
      else if (builds.nonEmpty) perBuild.map(_._1).sum / builds.size else 0.0,
      "B")
    put("index.spill_bytes", Stats.mean(perBuild.map(_._2)), "B")
    put("index.tasks", Stats.mean(perBuild.map(_._3)), "count")
    val roots0 = wl.indexRoots
    Seq("docs", "postings", "dict").foreach { a =>
      put(s"index.artifact_bytes.$a",
        roots0.map(r => Inputs.dirBytes(s"$r/$a")).sum.toDouble, "B")
    }
  }

  private val queryKinds = Query.MainSpan.keySet

  private def queryPath(): Unit = {
    val ops = roots(n => queryKinds(n.stripPrefix("client.")))
    // the main call of each query operation: its public engine call
    val mains = ops.flatMap { r =>
      spans.find(s => s.parent == r.id &&
        s.name == Query.MainSpan(r.name.stripPrefix("client."))).map(r -> _)
    }
    put("query.parse_s", meanSeconds("query.parse"), "s")
    put("engine.dict_lookup_s", meanSeconds("engine.dict_lookup"), "s")
    Seq("topk", "regex", "repo", "materialize", "snippets", "page_meta")
      .foreach(n => put(s"engine.${n}_s", meanSeconds(s"engine.$n"), "s"))
    put("engine.df_sum_per_query",
      Stats.mean(ops.map(r => count(r.op, "df_sum"))), "count")
    put("engine.hits_per_query",
      Stats.mean(ops.map(r => count(r.op, "hits"))), "count")
    val cand = ops.map(r => count(r.op, "regex_candidates")).sum
    val ver = ops.map(r => count(r.op, "regex_verified")).sum
    put("engine.regex_verify_ratio", if (cand > 0) ver / cand else 0.0, "ratio")

    val st = mains.map { case (_, m) => m -> gs(m) }
    def per(f: GroupStats => Double): Double = Stats.mean(st.map(x => f(x._2)))
    put("spark.jobs_per_query", per(_.jobs), "count")
    put("spark.stages_per_query", per(_.stages), "count")
    put("spark.tasks_per_query", per(_.tasks.toDouble), "count")
    put("spark.shuffle_bytes_per_query", per(_.shuffleWriteBytes.toDouble), "B")
    put("spark.input_bytes_per_query", per(_.inputBytes.toDouble), "B")
    put("spark.task_busy_s_per_query", per(_.taskBusyMs / 1e3), "s")
    put("spark.wait_s_per_query", Stats.mean(st.map { case (m, g) =>
      val ms0 = m.start / 1000000L
      val ms1 = m.end / 1000000L
      val clipped = g.taskIntervals.toSeq.map { case (a, b) =>
        (math.max(a, ms0), math.min(b, ms1)) }.filter(x => x._2 > x._1)
      ((ms1 - ms0) - Intervals.covered(clipped)) / 1e3
    }), "s")
    // the ROADMAP baseline's per-call job counts: median per call kind
    Seq("literal" -> "search_literal", "execute" -> "execute",
      "regex" -> "search_regex", "repo" -> "execute_repo",
      "snippets" -> "execute_with_snippets", "page" -> "execute_page")
      .foreach { case (kind, name) =>
        put(s"spark.jobs_per_query.$name", Stats.median(mains.collect {
          case (r, m) if r.name == s"client.$kind" => gs(m).jobs.toDouble
        }), "count")
      }
  }

  private def pipeline(): Unit = {
    val ops = Seq("dedup_edges", "dedup_cc", "firstwins", "span_dedup",
      "ivf_topk")
    ops.foreach(n => put(s"pipeline.${n}_s", meanSeconds(s"pipeline.$n"), "s"))
    val calls = ops.flatMap(n => named(s"pipeline.$n"))
    put("pipeline.jobs_per_op", Stats.mean(calls.map(gs(_).jobs.toDouble)),
      "count")
    put("pipeline.cached_rdds_after", wl match {
      case p: PipelineWorkload => p.cachedRdds.toDouble
      case _ => 0.0
    }, "count")
  }

  /** Self time per layer, per measured operation (set-up excluded). */
  private def selfTimes(): Unit = {
    val measured = roots(_ != "client.setup").map(_.op).toSet
    val inOps = spans.filter(s => measured(s.op))
    Seq("client", "query", "engine", "index", "pipeline").foreach { l =>
      val self = inOps.filter(_.layer == l).map(tracer.selfSeconds).sum
      put(s"self.${l}_s", if (measured.isEmpty) 0.0 else self / measured.size,
        "s")
    }
  }
}
