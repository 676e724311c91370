package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.corpus.CorpusGen
import graft.engine.{QueryExecutor, Searcher}
import graft.index.IndexBuilder
import graft.oracle.OracleEngine
import graft.pipeline.{Dedup, Similarity, TextOps}
import graft.query.QueryParser

/** What one run shares with its workload: the session, the tracer, a
  * private work directory, the seed and the failure tally.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val work: String, val seed: Long) {
  var attempted = 0L
  var failed = 0L
  /** main-call latency of each measured operation */
  val latencies = mutable.ArrayBuffer.empty[Double]
  /** per-operation counts recorded in traced runs: op id -> name -> value */
  val counts = mutable.HashMap.empty[Int, mutable.HashMap[String, Double]]

  def dir(name: String): String = s"$work/$name"

  /** Runs one checked operation: an exception or a false check counts as
    * a failure, never aborts the run.
    */
  def attempt(what: String)(f: => Boolean): Unit = {
    attempted += 1
    val ok = try f catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $what threw: $e")
        false
    }
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] $what: result mismatch")
    }
  }

  /** Record a count on the innermost open operation (traced runs only). */
  def count(name: String, v: Double): Unit =
    if (tracer.enabled) tracer.currentOp.foreach { op =>
      val m = counts.getOrElseUpdate(op, mutable.HashMap.empty)
      m(name) = m.getOrElse(name, 0.0) + v
    }
}

/** A workload: set-up (timed several times, median reported), a closed
  * loop of operations until the measuring time is spent, then the checks.
  */
trait Workload {
  /** Runs the workload's code paths once on a tiny input, untimed, so JIT
    * and code generation are done before set-up is timed.
    */
  def warmUp(): Unit
  /** Builds the inputs and state the measured loop starts from, into a
    * directory of its own for repetition `rep`.
    */
  def setup(rep: Int): Unit
  /** Untimed preparation after the last set-up. */
  def prepare(): Unit = ()
  /** One measured operation of the closed loop. */
  def step(): Unit
  /** Correctness checks after the window; each mismatch counts failed. */
  def check(): Unit
  /** Units of work done in the window, and the seconds they took. */
  def work: (Double, Double)
  /** Bytes of the index this workload built per byte of its input. */
  def indexBytesPerInputByte: Double
  /** Index directories whose artifact sizes the trace reports. */
  def indexRoots: Seq[String] = Seq.empty
  /** Contents for the tokenizer probe: (content, lang). */
  def tokenizeSample: Seq[(String, String)]
}

object Workloads {
  /** posting bucket size (docIds per bucket) of every index built here */
  val BucketSize = 1024L

  def apply(name: String, ctx: Ctx, benchDir: String): Workload = name match {
    case "build" => new BuildWorkload(ctx)
    case "query" => new QueryWorkload(ctx)
    case "pipeline" => new PipelineWorkload(ctx,
      java.nio.file.Paths.get(benchDir, "pipeline-digests.txt"))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Build corpus: repos × files per repo (1 500 files), small enough for
    * two builds per run; per-job fixed costs dominate a build this size.
    */
  val BuildRepos = 12
  val BuildFilesPerRepo = 125
  val BuildFiles = BuildRepos * BuildFilesPerRepo
  /** Query corpus (800 files): set-up builds its index three times. */
  val QueryRepos = 8
  val QueryFilesPerRepo = 100
  val PipelineDocs = 3000
  val PipelineVecs = 1500
  /** The pipeline input is fixed: its digests are recorded per input. */
  val PipelineSeed = 20260101L

  def contentBytes(spark: SparkSession, dir: String): Double =
    spark.read.parquet(dir).agg(sum(length(col("content")))).head()
      .getLong(0).toDouble

  def artifactBytes(root: String): Long =
    Seq("docs", "postings", "dict").map(d => Inputs.dirBytes(s"$root/$d")).sum

  def stagedBuild(ctx: Ctx, root: String, corpusDir: String): Unit = {
    val b = new IndexBuilder(ctx.spark, root, bucketSize = BucketSize)
    val corpus = ctx.spark.read.parquet(corpusDir)
    ctx.tracer.span("index.docs")(b.buildDocs(corpus))
    ctx.tracer.span("index.postings")(b.buildPostings())
    ctx.tracer.span("index.dict")(b.buildDict())
    ctx.tracer.span("index.repoidx")(b.buildRepoIndex())
  }

  /** Writes and indexes a tiny corpus (untimed warm-up); returns its root. */
  def warmBuild(ctx: Ctx): String = {
    val corpus = fresh(ctx, "warm-corpus")
    val root = fresh(ctx, "warm-index")
    Inputs.writeCorpus(ctx.spark, corpus, 2, 60, ctx.seed + 1)
    stagedBuild(ctx, root, corpus)
    root
  }

  /** (content, lang) of the first 400 files of a corpus. */
  def corpusSample(ctx: Ctx, dir: String): Seq[(String, String)] =
    ctx.spark.read.parquet(dir).select("content", "lang").limit(400)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq

  /** An emptied work directory. */
  def fresh(ctx: Ctx, name: String): String = {
    val d = ctx.dir(name)
    Inputs.rmTree(d)
    d
  }
}

import Workloads._

// ------------------------------------------------------------------ build
/** A fresh IndexBuilder build per operation over a seeded corpus written
  * to parquet in set-up. Checked by querying the last build against the
  * oracle over the same rows.
  */
final class BuildWorkload(ctx: Ctx) extends Workload {
  private var corpusDir = ""
  private var builds = 0
  private var buildSeconds = 0.0
  private var lastRoot = ""

  def warmUp(): Unit = warmBuild(ctx)

  def setup(rep: Int): Unit = {
    corpusDir = fresh(ctx, s"corpus-$rep")
    Inputs.writeCorpus(ctx.spark, corpusDir, BuildRepos, BuildFilesPerRepo,
      ctx.seed)
  }

  def step(): Unit = {
    val root = fresh(ctx, s"index-${builds % 2}")
    val (_, t) = ctx.tracer.op("client.build") {
      ctx.count("files", BuildFiles)
      stagedBuild(ctx, root, corpusDir)
    }
    ctx.latencies += t
    builds += 1
    buildSeconds += t
    lastRoot = root
  }

  def check(): Unit = {
    val rows = Inputs.corpusRows(ctx.spark, corpusDir)
    val oracle = new OracleEngine(rows)
    val s = new Searcher(ctx.spark, lastRoot)
    val qe = new QueryExecutor(s)
    ctx.attempt("build: docs count")(s.docs.count() == rows.size)
    val mix = new QueryMix(ctx.seed, BuildRepos)
    mix.checkQueries.foreach { q =>
      ctx.attempt(s"build: '$q' vs oracle") {
        val got = qe.execute(q, 10).collect().map(h => (h.docId, h.score)).toSeq
        got == oracle.executeQuery(q, 10)
      }
    }
    val re = mix.checkRegex
    ctx.attempt(s"build: regex '$re' vs oracle") {
      val got = s.searchRegex(re, 10).collect()
        .map(r => (r.getLong(0), r.getFloat(1))).toSeq
      got == oracle.searchRegex(re, 10)
    }
  }

  def work: (Double, Double) = (BuildFiles.toDouble * builds, buildSeconds)
  def indexBytesPerInputByte: Double =
    artifactBytes(lastRoot) / contentBytes(ctx.spark, corpusDir)
  override def indexRoots: Seq[String] = Seq(lastRoot)
  def tokenizeSample: Seq[(String, String)] = corpusSample(ctx, corpusDir)
}

// ------------------------------------------------------------ query mix
/** Seeded query texts over CorpusGen's vocabulary: hot terms (Zipf head)
  * and rare ones (deep tail), metadata filters and DNF `or`.
  */
final class QueryMix(seed: Long, nRepos: Int) {
  private val rng = new java.util.Random(seed * 31 + 7)
  private val v = CorpusGen.Vocab
  private def pick(lo: Int, hi: Int): String = v(lo + rng.nextInt(hi - lo))
  private def hot = pick(0, 12)
  private def mid = pick(12, 120)
  private def rare = pick(400, 1200)
  private def repo = s"repo${rng.nextInt(nRepos)}"
  private val langs = Array("rust", "python", "typescript", "go", "java")

  /** (kind, query text) for every slot of one cycle. The kinds, their
    * shares and their order are fixed, interleaved so that any prefix of
    * the loop holds every kind near its share; the texts depend on the
    * seed.
    */
  def cycle(): Seq[(String, String)] = Seq(
    "execute" -> hot, "literal" -> hot, "execute" -> s"$hot $rare",
    "regex" -> regexOf(), "execute" -> s"repo:$repo $mid",
    "page" -> hot, "execute" -> s"$mid $rare", "repo" -> s"repo:$repo",
    "execute" -> s"lang:${langs(rng.nextInt(5))} $hot",
    "snippets" -> s"$mid $hot", "execute" -> mid, "literal" -> s"$mid $rare",
    "execute" -> s"path:mod${rng.nextInt(13)} $mid", "regex" -> regexOf(),
    "execute" -> s"$hot $mid $rare", "page" -> pick(0, 4),
    "execute" -> s"$rare or $mid", "repo" -> s"repo:${repo.dropRight(1)}",
    "literal" -> mid, "snippets" -> mid)

  private def regexOf(): String = rng.nextInt(3) match {
    case 0 => s"${pick(12, 70)}(${pick(12, 40).capitalize}|${pick(12, 40).capitalize})"
    case 1 => s"${pick(12, 40)}_(er|ed|ing)"
    case _ => s"${pick(0, 30)} ${pick(0, 30)}"
  }

  lazy val checkQueries: Seq[String] =
    Seq(hot, s"$mid $rare", s"lang:${langs(rng.nextInt(5))} $mid",
      s"$rare or $hot")
  lazy val checkRegex: String = regexOf()
}

// ------------------------------------------------------------------ query
/** One closed-loop client running a seeded mix of the engine's public
  * query calls against an index built in set-up; every result is checked
  * against the oracle on docIds and f32 scores.
  */
final class QueryWorkload(ctx: Ctx) extends Workload {
  private var corpusDir = ""
  private var root = ""
  private var searcher: Searcher = _
  private var qe: QueryExecutor = _
  private lazy val mix = new QueryMix(ctx.seed, QueryRepos)
  private val pending = mutable.Queue.empty[(String, String)]
  /** (kind, query, result) of every measured operation */
  private val results = mutable.ArrayBuffer.empty[(String, String, Any)]
  private var opSeconds = 0.0

  /** The first set-up repetition is the cold one; the median of three
    * skips it.
    */
  def warmUp(): Unit = ()

  def setup(rep: Int): Unit = {
    corpusDir = fresh(ctx, s"corpus-$rep")
    root = fresh(ctx, s"index-$rep")
    Inputs.writeCorpus(ctx.spark, corpusDir, QueryRepos, QueryFilesPerRepo,
      ctx.seed)
    ctx.tracer.op("client.setup") {
      ctx.count("files", QueryRepos * QueryFilesPerRepo)
      stagedBuild(ctx, root, corpusDir)
    }
    searcher = new Searcher(ctx.spark, root)
    qe = new QueryExecutor(searcher)
    searcher.termStats(Seq("if")) // loads the searcher's in-memory dict
  }

  /** One untimed query of every kind: code generation, pooled threads. */
  override def prepare(): Unit =
    mix.cycle().groupBy(_._1).values.map(_.head).foreach { case (k, q) =>
      Query.run(ctx, searcher, qe, k, q, traced = false)
    }

  def step(): Unit = {
    if (pending.isEmpty) pending ++= mix.cycle()
    val (kind, q) = pending.dequeue()
    val (res, t) = Query.run(ctx, searcher, qe, kind, q, traced = true)
    ctx.latencies += t
    results += ((kind, q, res))
    opSeconds += t
  }

  def check(): Unit = {
    val oracle = new OracleEngine(Inputs.corpusRows(ctx.spark, corpusDir))
    val want = mutable.HashMap.empty[(String, String), Any]
    results.foreach { case (kind, q, res) =>
      ctx.attempt(s"query $kind '$q'") {
        res == want.getOrElseUpdate((kind, q), Query.expected(oracle, kind, q))
      }
    }
  }

  def work: (Double, Double) = (results.size.toDouble, opSeconds)
  def indexBytesPerInputByte: Double =
    artifactBytes(root) / contentBytes(ctx.spark, corpusDir)
  override def indexRoots: Seq[String] = Seq(root)
  def tokenizeSample: Seq[(String, String)] = corpusSample(ctx, corpusDir)
}

/** The query calls of the mix, their traced decomposition, and their
  * oracle twins.
  */
object Query {
  /** Result shapes, compared with the oracle after the window. */
  final case class Hits(h: Seq[(Long, Float)])
  final case class Repos(r: Seq[(Long, String, Float)])
  final case class Page(topk: Seq[(Long, Float)], total: Long,
                        langs: Seq[(String, Long)])

  val MainSpan = Map("execute" -> "engine.topk", "literal" -> "engine.topk",
    "regex" -> "engine.regex", "repo" -> "engine.repo",
    "snippets" -> "engine.snippets", "page" -> "engine.page_meta")

  private def contentTerms(s: Searcher, q: String): Seq[String] =
    QueryParser.parse(q).flatMap(_.target).collect {
      case QueryParser.ContentTarget(l) if !l.isRegex => s.queryTerms(l.value)
    }.flatten.distinct.sorted

  /** Runs one operation; returns its result and its main-call seconds. In
    * a traced run the operation also times the parse and the dictionary
    * lookup, and for top-k calls the stored-field fetch, as child spans
    * beside the main call.
    */
  def run(ctx: Ctx, s: Searcher, qe: QueryExecutor, kind: String, q: String,
          traced: Boolean): (Any, Double) = {
    val tr = ctx.tracer
    var main = 0.0
    def timedMain[T](f: => T): T = {
      val t0 = System.nanoTime()
      val r = tr.span(MainSpan(kind))(f)
      main = (System.nanoTime() - t0) / 1e9
      r
    }
    val body = () => {
      if (tr.enabled) {
        tr.span("query.parse")(QueryParser.parse(q))
        val terms = if (kind == "regex") Seq.empty[String]
          else if (kind == "literal") s.queryTerms(q) else contentTerms(s, q)
        val ts = tr.span("engine.dict_lookup")(s.termStats(terms))
        ctx.count("df_sum", ts.values.map(_._1.toDouble).sum)
      }
      val res: Any = kind match {
        case "execute" | "literal" =>
          val hits = timedMain {
            (if (kind == "execute") qe.execute(q, 10)
              else s.searchLiteral(q, 10)).collect().toSeq
          }
          if (tr.enabled) tr.span("engine.materialize") {
            import ctx.spark.implicits._
            s.materialize(hits.toDS()).collect()
          }
          Hits(hits.map(h => (h.docId, h.score)))
        case "regex" =>
          val rows = timedMain(s.searchRegex(q, 10).collect())
          if (tr.enabled) regexCounts(ctx, s, q)
          Hits(rows.map(r => (r.getLong(0), r.getFloat(1))).toSeq)
        case "repo" =>
          Repos(timedMain(qe.executeRepo(q, 10).collect()).map(r =>
            (r.getLong(0), r.getString(1), r.getFloat(2))).toSeq)
        case "snippets" =>
          Hits(timedMain(qe.executeWithSnippets(q, 100).collect()).map(r =>
            (r.getLong(0), r.getFloat(1))).toSeq)
        case "page" =>
          val pm = timedMain(qe.executePage(q, 10))
          Page(pm.topk.map(h => (h.docId, h.score)), pm.total, pm.langStats)
      }
      ctx.count("hits", res match {
        case Hits(h) => h.size.toDouble
        case Repos(r) => r.size.toDouble
        case Page(_, total, _) => total.toDouble
      })
      res
    }
    if (traced) {
      val (res, _) = tr.op(s"client.$kind") {
        ctx.count(s"kind.$kind", 1)
        body()
      }
      (res, main)
    } else (body(), main)
  }

  /** Regex verify ratio inputs: the trigram-prefilter candidate count and
    * the verified match count (extra jobs, traced runs only).
    */
  private def regexCounts(ctx: Ctx, s: Searcher, q: String): Unit =
    ctx.tracer.span("engine.regex_prefilter") {
      import graft.query.RegexPlanner
      val grams = RegexPlanner.requiredGrams(RegexPlanner.plan(q))
        .map("g:" + _).toSeq.sorted
      val cand =
        if (grams.isEmpty) s.docs.count()
        else {
          val ts = s.termStats(grams)
          if (ts.exists(_._2._1 == 0L)) 0L
          else s.scoreAll(grams, ts.map { case (t, (_, w)) => t -> w },
            conjunctive = true).count()
        }
      ctx.count("regex_candidates", cand.toDouble)
      ctx.count("regex_verified", s.regexAll(q).count().toDouble)
    }

  /** The oracle's answer, in the shape `run` returns. */
  def expected(o: OracleEngine, kind: String, q: String): Any = kind match {
    case "execute" => Hits(o.executeQuery(q, 10))
    case "literal" => Hits(o.searchLiteral(q, 10))
    case "regex" => Hits(o.searchRegex(q, 10))
    case "repo" => Repos(o.executeRepoQuery(q, 10))
    case "snippets" => Hits(o.executeQuery(q, 100))
    case "page" =>
      val all = o.executeQuery(q, Int.MaxValue)
      val langOf = o.docs.iterator.map(d => d.docId -> d.lang).toMap
      val langs = all.groupBy(h => langOf(h._1)).view
        .mapValues(_.size.toLong).toSeq.sortBy { case (l, c) => (-c, l) }
      Page(all.take(10), all.size.toLong, langs)
  }
}

// --------------------------------------------------------------- pipeline
/** One pass of the pipeline operators per operation over fixed documents
  * and embeddings (the seed does not apply). Each pass's outputs are
  * checked against digests recorded for this input.
  */
final class PipelineWorkload(ctx: Ctx, digestFile: java.nio.file.Path)
    extends Workload {
  private var docsDir = ""
  private var embsDir = ""
  private var ivfDir = ""
  private var passes = 0
  private var passSeconds = 0.0
  private val QueryIds = Seq(0L, 7L, 123L, 1024L)
  /** digests of every pass: name -> digest */
  private val seen = mutable.ArrayBuffer.empty[(String, String)]
  var cachedRdds = 0

  /** Writes the inputs and trains the IVF index under `tag`. */
  private def inputs(tag: String, docs: Int, vecs: Int): Unit = {
    docsDir = fresh(ctx, s"documents-$tag")
    embsDir = fresh(ctx, s"embeddings-$tag")
    ivfDir = fresh(ctx, s"ivf-$tag")
    Inputs.writeDocuments(ctx.spark, docsDir, docs, PipelineSeed)
    Inputs.writeEmbeddings(ctx.spark, embsDir, vecs, PipelineSeed)
    ctx.tracer.span("pipeline.ivf_build")(Similarity.buildIvfIndex(
      ctx.spark.read.parquet(embsDir), ivfDir))
  }

  def warmUp(): Unit = {
    inputs("warm", 300, 200)
    pass(QueryIds.head)
  }

  def setup(rep: Int): Unit =
    ctx.tracer.op("client.setup")(inputs(rep.toString, PipelineDocs,
      PipelineVecs))

  private def digestOf(rows: Array[org.apache.spark.sql.Row]): String =
    CorpusGen.sha256Hex(rows.map(_.mkString(",")).sorted.mkString("\n"))

  private def terminal[T](name: String)(f: => T): T = {
    val r = ctx.tracer.span(s"pipeline.$name")(f)
    cachedRdds = ctx.spark.sparkContext.getPersistentRDDs.size
    r
  }

  /** One pass over every pipeline operator; outputs by digest name. */
  private def pass(qid: Long): Seq[(String, Array[org.apache.spark.sql.Row])] = {
    val docs = ctx.spark.read.parquet(docsDir)
    val embs = ctx.spark.read.parquet(embsDir)
    val edges = terminal("dedup_edges")(
      Dedup.minhashStarEdges(docs).localCheckpoint())
    val cc = terminal("dedup_cc")(Dedup.duplicateClusters(edges).collect())
    val keep = terminal("firstwins")(
      Dedup.firstWinsKeep(docs).select("doc_id").collect())
    val span = terminal("span_dedup")(TextOps.spanDedupStats(docs)
      .select("doc_id", "n_grams", "n_dup").collect())
    val ivf = terminal("ivf_topk")(
      Similarity.ivfTopKIndexed(embs, ivfDir, qid, 10).collect())
    Seq("dedup_cc" -> cc, "firstwins" -> keep, "span_dedup" -> span,
      s"ivf_topk_q$qid" -> ivf)
  }

  def step(): Unit = {
    val qid = QueryIds(passes % QueryIds.size)
    val (out, t) = ctx.tracer.op("client.pipeline")(pass(qid))
    out.foreach { case (name, rows) => seen += name -> digestOf(rows) }
    passes += 1
    passSeconds += t
    ctx.latencies += t
  }

  private def recorded: Map[String, String] =
    if (!java.nio.file.Files.exists(digestFile)) Map.empty
    else java.nio.file.Files.readAllLines(digestFile).toArray
      .map(_.toString.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\\s+"); k -> v }.toMap

  def check(): Unit = {
    val want = recorded
    seen.foreach { case (name, d) =>
      ctx.attempt(s"pipeline $name digest")(want.get(name).contains(d))
    }
  }

  /** Digest lines for this input: one untimed pass per query id. */
  def digestLines(): Seq[String] =
    QueryIds.flatMap(pass).map { case (name, rows) =>
      name -> digestOf(rows)
    }.distinct.sortBy(_._1).map { case (k, v) => s"$k $v" }

  def work: (Double, Double) = (PipelineDocs.toDouble * passes, passSeconds)
  def indexBytesPerInputByte: Double =
    Inputs.dirBytes(ivfDir).toDouble / (PipelineVecs * 64 * 4)
  def tokenizeSample: Seq[(String, String)] =
    ctx.spark.read.parquet(docsDir).select("text").limit(400).collect()
      .map(r => (r.getString(0), "")).toSeq
}
