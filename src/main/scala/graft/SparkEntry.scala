package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{AsOfJoin, CorpusOps, Dedup, Dedup2, EventAnalytics, GraphRank, HeavyHitters, MapReduceQueries, Multimodal, Pii, Pipeline, Relational, Relational2, Relational3, Relational4, Relational5, Similarity, TextAnalysis}
import graft.streaming.{DocStreams, EventStreams, VecStreams}

/** One gated query: the name the driver keys it by, its build over
  * `(session, sf dir)`, and the DuckDB SQL its result is hash-checked
  * against. Each module declares its rows once, in its `gated` list.
  */
final case class Gated(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)

/** Driver contract — see SURVEY.md §7.
  *
  * One table of every module's [[Gated]] rows. Every key carries oracle
  * SQL, so the driver hash-checks every key against DuckDB at sf0.01.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The end-to-end corpus pipeline exercises the engine's
    * breadth in one plan: quality scoring, fingerprint dedup,
    * context-window chunking, and grouped aggregation.
    */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.pipeE2e(spark, "/root/testdata/sf0.001")

  /** The rows keyed by name; a name declared twice is rejected. */
  private[graft] def table(rows: Seq[Gated]): Map[String, Gated] = {
    val dups = rows.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    require(dups.isEmpty,
      s"gated query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    rows.map(g => g.name -> g).toMap
  }

  private val gated: Map[String, Gated] = table(Seq(
    Relational.gated, Relational2.gated, Relational3.gated,
    Relational4.gated, Relational5.gated, MapReduceQueries.gated,
    TextAnalysis.gated, Dedup.gated, Dedup2.gated, Similarity.gated,
    EventStreams.gated, Multimodal.gated, AsOfJoin.gated, Pipeline.gated,
    CorpusOps.gated, Pii.gated, HeavyHitters.gated, EventAnalytics.gated,
    GraphRank.gated, VecStreams.gated, DocStreams.gated,
  ).flatten)

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    gated.map { case (n, g) => n -> g.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  val oracleSql: Map[String, String] =
    gated.map { case (n, g) => n -> g.oracleSql }
}
