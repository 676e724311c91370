package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.corpus.CorpusGen

/** Generated inputs. Everything is a pure function of the seed, and is
  * written to parquet during set-up so the timed calls read files, not
  * CorpusGen's content UDF.
  */
object Inputs {

  /** A CorpusGen.synth corpus (Zipf tokens, hot `if`/`return`/`import`). */
  def writeCorpus(spark: SparkSession, dir: String, nRepos: Int,
                  filesPerRepo: Int, seed: Long): Unit =
    CorpusGen.synth(spark, nRepos, filesPerRepo, seed)
      .write.mode("overwrite").parquet(dir)

  /** Rows the oracle takes: (repo, path, commit, lang, content). */
  def corpusRows(spark: SparkSession, dir: String)
      : Seq[(String, String, String, String, String)] =
    spark.read.parquet(dir)
      .select("repo", "path", "commit", "lang", "content").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4))).toSeq

  private val Words = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "batch", "part", "line", "order", "small",
    "sort", "fast", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "row", "data", "join", "index", "a", "the", "of")
  private val Langs = Array("en", "en", "en", "zh", "es", "fr", "de")

  /** Fixed pipeline input, shaped like the documents table the pipeline
    * operators read (doc_id, text, lang, source, n_chars): word-bag texts
    * of a 31-word vocabulary, with exact and near duplicates (a copy of an
    * earlier doc with one to three words replaced) so dedup has edges.
    */
  def writeDocuments(spark: SparkSession, dir: String, n: Int,
                     seed: Long): Unit = {
    import spark.implicits._
    val rng = new java.util.Random(seed)
    val texts = new Array[String](n)
    (0 until n).foreach { i =>
      val u = rng.nextDouble()
      texts(i) =
        if (i > 10 && u < 0.03) texts(rng.nextInt(i))
        else if (i > 10 && u < 0.13) {
          val w = texts(rng.nextInt(i)).split(' ')
          (0 to rng.nextInt(3)).foreach(_ =>
            w(rng.nextInt(w.length)) = Words(rng.nextInt(Words.length)))
          w.mkString(" ")
        } else {
          val len = math.max(3, math.exp(3.6 + 0.7 * rng.nextGaussian()).toInt)
          Array.fill(len)(Words(rng.nextInt(Words.length))).mkString(" ")
        }
    }
    texts.indices.map { i =>
      (i.toLong, texts(i), Langs(i % Langs.length), s"src${i % 20}",
        texts(i).length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Fixed embeddings: `n` unit-free 64-d vectors around 16 labelled
    * centres (vec_id, embedding, label).
    */
  def writeEmbeddings(spark: SparkSession, dir: String, n: Int,
                      seed: Long): Unit = {
    import spark.implicits._
    val rng = new java.util.Random(seed)
    val centres = Array.fill(16, 64)(rng.nextGaussian().toFloat)
    (0 until n).map { i =>
      val label = rng.nextInt(16)
      val v = centres(label).map(c => c + 0.6f * rng.nextGaussian().toFloat)
      (i.toLong, v.toSeq, label)
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Bytes under a directory (artifact sizes). */
  def dirBytes(dir: String): Long = {
    val f = new java.io.File(dir)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty)
      .filterNot(_.getName.startsWith("."))
      .map(c => dirBytes(c.getPath)).sum
  }

  def rmTree(dir: String): Unit = graft.util.FsUtil.rmTree(dir)
}
