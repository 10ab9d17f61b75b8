package perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** LLM-corpus dedup: a seeded corpus with planted near-duplicate clusters
  * and a boilerplate phrase whose grams are hot, written as the input
  * dir's documents.parquet. The ops run `c12_dedup_ngram_jaccard`,
  * `c16_dedup_components` and `c02_dedup_near_minhash` in turn to a noop
  * sink. After the timed region each query's result is written out and
  * run.py checks it against the query's DuckDB oracle SQL. */
final class DedupCorpus(spark: SparkSession, seed: Long) extends Workload {
  import DedupCorpus._
  private val g = new Gen(seed)
  private var in: Path = _
  private var check: Path = _
  private var next = 0
  private var dupDocs = 0L
  private var hotDocs = 0L

  /** Word `p` of base document `d`: uniform over the vocabulary. */
  private def word(d: String, p: String) =
    s"concat('w', CAST(pmod(xxhash64($d, $p, ${seed}L, 7), $Vocab) AS STRING))"

  def setup(dir: Path, round: Int): Unit = {
    in = dir.resolve("in")
    check = dir.resolve("check")
    // a duplicate copies an earlier doc's words and re-draws 1 in 100 of
    // them, and opens with the boilerplate phrase exactly when its source
    // does: 3-gram Jaccard ≈ 0.95 to its source and ≈ 0.9 to a sibling.
    // c02's LSH recall contract (1-(1-J^4)^4 per pair, checked as recall
    // >= 0.9) is stated for such close duplicates.
    spark.range(0, NDocs, 1, 2).selectExpr("id AS doc_id",
        s"${g.u(1, 1000)} < ${(DupRate * 1000).toInt} AND id >= 10 AS dup")
      .selectExpr("doc_id", "dup", s"IF(dup, ${g.u(2, 1L << 30, "doc_id")} % doc_id, doc_id) AS src")
      .selectExpr("doc_id", "dup", "src", s"${g.u(3, 1000, "src")} < ${(HotShare * 1000).toInt} AS hot")
      .selectExpr("doc_id", "dup", "hot", "src",
        s"CAST(pmod(xxhash64(src, ${seed}L, 8), 60) AS INT) + 30 AS n")
      .selectExpr("doc_id", "dup", "hot",
        s"concat_ws(' ', transform(sequence(0, n - 1), p -> IF(dup AND pmod(xxhash64(doc_id, p, ${seed}L, 9), 100) = 0, " +
          s"${word("doc_id", "p")}, ${word("src", "p")}))) AS body")
      .selectExpr("doc_id", "dup", "hot",
        s"IF(hot, concat('$Boilerplate ', body), body) AS text")
      .selectExpr("doc_id", "text", "'en' AS lang",
        s"concat('src', CAST(pmod(doc_id, 7) AS STRING)) AS source", "CAST(length(text) AS BIGINT) AS n_chars",
        "dup", "hot")
      .cache()
      .createOrReplaceTempView("pb_corpus")
    val corpus = spark.table("pb_corpus")
    corpus.drop("dup", "hot").coalesce(1).write.parquet(in.resolve("documents.parquet").toString)
    val c = corpus.selectExpr("sum(CAST(dup AS INT))", "sum(CAST(hot AS INT))").head()
    dupDocs = c.getLong(0)
    hotDocs = c.getLong(1)
    corpus.unpersist()
    next = 0
  }

  /** Each query once. */
  override def warmUp(): Unit = Queries.foreach(q => run(q))

  private def run(q: String): Unit =
    SparkEntry.queries(q)(spark, in.toString).write.format("noop").mode("overwrite").save()

  def step(ctx: Ctx): Unit = {
    val q = Queries(next % Queries.size)
    next += 1
    ctx.op(q) { run(q); (true, NDocs) }
  }

  def finish(ctx: Ctx): (Long, Long) = {
    Queries.foreach { q =>
      SparkEntry.queries(q)(spark, in.toString).write.parquet(check.resolve(q).toString)
    }
    (0L, 0L)
  }

  override def externalChecks: Seq[ExternalCheck] = Queries.map { q =>
    ExternalCheck(q, SparkEntry.oracleSql(q), check.resolve(q), in.resolve("documents.parquet"),
      next / Queries.size + (if (Queries.indexOf(q) < next % Queries.size) 1 else 0))
  }

  def props: Seq[(String, Any)] = Seq(
    "docs" -> NDocs, "vocabulary" -> Vocab,
    "duplicate_rate" -> dupDocs.toDouble / NDocs,
    "hot_gram_share" -> hotDocs.toDouble / NDocs,
    "hot_phrase_words" -> Boilerplate.split(" ").length,
    "read_write_mix" -> "1:0")
}

object DedupCorpus {
  val NDocs = 3000L
  val Vocab = 4000
  val DupRate = 0.15
  val HotShare = 0.08
  val Boilerplate = "subscribe to our newsletter for weekly updates"
  val Queries = Seq("c12_dedup_ngram_jaccard", "c16_dedup_components", "c02_dedup_near_minhash")
}
