package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Gated
import graft.functions._
import graft.sources.Tables._

/** The two reference jobs re-expressed as Catalyst-visible DataFrame
  * plans over the `documents` table (the parquet-scale analogue of the
  * reference's text inputs), so pushdown/pruning/partial-agg all apply —
  * SURVEY.md §3.1's whole MapReduce trace collapses into one plan.
  *
  * The typed `MapReduceJob` surface in [[MapReduce]] keeps byte-exact
  * reference semantics for golden tests; these queries are the
  * engine-native form the driver hash-checks against DuckDB.
  */
object MapReduceQueries {

  /** Word count (reference job 1) at parquet scale: tokenize → explode →
    * count per token. Spark plans partial counts before the single
    * shuffle on the token key (the map-side combine the reference lacks,
    * SURVEY.md §2d A4).
    */
  def mrWordCount(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("word"))

  val mrWordCountSql: String =
    """SELECT word, COUNT(*) AS cnt
      |FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word
      |      FROM documents) t
      |WHERE word <> ''
      |GROUP BY word
      |ORDER BY word""".stripMargin

  /** Word count serialized in the reference's KV-text sink format
    * `key <--> value` (S9/P7, `dfs/wordcountjob.go:217-221`).
    */
  def mrWordCountKv(s: SparkSession, d: String): DataFrame =
    mrWordCount(s, d)
      .select(kvEncode(col("word"), col("cnt")).as("line"))
      .orderBy(col("line"))

  val mrWordCountKvSql: String =
    """SELECT concat(word, ' <--> ', CAST(cnt AS VARCHAR)) AS line
      |FROM (SELECT word, COUNT(*) AS cnt
      |      FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word
      |            FROM documents) u
      |      WHERE word <> ''
      |      GROUP BY word) t
      |ORDER BY line""".stripMargin

  /** Question percentage (reference job 2) at parquet scale. The corpus
    * has no '?' characters, so the marker predicate is `contains 'spark'`
    * — same operator shape as the reference (contains → flag → per-key
    * floor-division percentage with '%' suffix,
    * `dfs/questionpercentagejob.go:21-64`), non-degenerate on this data.
    * Key = `lang + " " + source`, mirroring the reference's composite
    * `charID + " " + charName` key (P3).
    */
  def mrQuestionPct(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(concat_ws(" ", col("lang"), col("source")).as("key"))
      .agg(
        sum(when(col("text").contains("spark"), 1L).otherwise(0L)).as("n_q"),
        count(lit(1)).as("n_total"))
      .select(
        col("key"),
        concat(floor(lit(100) * col("n_q") / col("n_total")).cast(LongType)
          .cast("string"), lit("%")).as("pct"),
        col("n_q"), col("n_total"))
      .orderBy(col("key"))

  val mrQuestionPctSql: String =
    """SELECT key,
      |  concat(CAST(CAST(FLOOR((100 * n_q) / n_total) AS BIGINT) AS VARCHAR), '%') AS pct,
      |  n_q, n_total
      |FROM (SELECT concat_ws(' ', lang, source) AS key,
      |        CAST(SUM(CASE WHEN contains(text, 'spark') THEN 1 ELSE 0 END) AS BIGINT) AS n_q,
      |        COUNT(*) AS n_total
      |      FROM documents
      |      GROUP BY 1) t
      |ORDER BY key""".stripMargin

  val gated: Seq[Gated] = Seq(
    Gated("mr_wordcount",    mrWordCount,   mrWordCountSql),
    Gated("mr_wordcount_kv", mrWordCountKv, mrWordCountKvSql),
    Gated("mr_question_pct", mrQuestionPct, mrQuestionPctSql),
  )
}
