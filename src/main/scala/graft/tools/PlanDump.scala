package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

import graft.engine.{FuzzyPath, QueryExecutor, Searcher}

/** Dump `.explain("formatted")` for named query shapes into plans/<tag>/ —
  * the plan evidence files (<name>_<suffix>.txt) PLANS.md quotes. Usage:
  *
  *   sbt "runMain graft.tools.PlanDump <tag> <suffix> [name,name,…]"
  *
  * A name is a `SparkEntry.queries` key or an engine shape (`shapes`) —
  * the latter run over the `SparkEntry.indexFor` index of the data dir.
  * Data dir from SPARK_GRAFT_SF_DIR (default sf0.01 — plan shapes are
  * scale-independent), master local[SPARK_GRAFT_CPUS]. With no name list,
  * dumps every query and every shape whose DataFrame can be constructed.
  */
object PlanDump {

  /** The engine's key query shapes, over any built index. */
  private[graft] val shapes: Map[String, Searcher => DataFrame] = Map(
    // In(term) reaches the parquet scan: other terms' row groups stay on disk
    "term_lookup" -> (s => {
      import s.spark.implicits._
      s.postings.filter($"term".isin("merge", "join")).toDF()
    }),
    // candidate decode → per-doc f32 sum → TakeOrderedAndProject
    "exhaustive_literal" -> (s =>
      s.searchLiteral("merge join", 10, useWand = false).toDF()),
    // the ≤k hits broadcast-join the docs table (stored-field fetch)
    "materialize" -> (s => s.materialize(s.searchLiteral("merge join", 10))),
    // ReadSchema excludes content; the lang predicate is pushed down
    "metadata_scan" -> (s =>
      s.docs.select("docId", "repo", "lang").filter("lang = 'en'")),
    // a no-target branch: pushed filter + TakeOrdered, no Exchange
    "metadata_branch" -> (s =>
      new QueryExecutor(s).execute("repo:src1 lang:en", 10).toDF()),
    // runs on the repo-name sub-index only
    "repo_search" -> (s => new QueryExecutor(s).executeRepo("repo:rc1", 10)),
    // 1–2-char path query through the short-gram postings
    "fuzzy_short" -> (s => FuzzyPath.candidates(s, "f1")),
    "repo_short" -> (s => new QueryExecutor(s).executeRepo("repo:rc", 10)),
    "snippet_page" -> (s =>
      new QueryExecutor(s).executeWithSnippets("merge", 10)))

  private[graft] def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  def main(args: Array[String]): Unit = {
    val tag = if (args.length > 0) args(0) else "r06"
    val suffix = if (args.length > 1) args(1) else "before"
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = new java.io.File(s"plans/$tag")
    dir.mkdirs()
    lazy val searcher = graft.SparkEntry.indexFor(spark, sfDir)
    val all: Map[String, () => DataFrame] =
      graft.SparkEntry.queries.map { case (n, f) =>
        n -> (() => f(spark, sfDir))
      } ++ shapes.map { case (n, f) => n -> (() => f(searcher)) }
    val names = only.getOrElse(all.keySet).toSeq.sorted
    names.foreach { name =>
      all.get(name) match {
        case None => println(s"SKIP unknown query $name")
        case Some(f) =>
          try {
            val path = s"plans/$tag/${name}_$suffix.txt"
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(path), formatted(f()))
            println(s"WROTE $path")
          } catch {
            case e: Throwable =>
              println(s"FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
