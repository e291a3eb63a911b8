package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Gated
import graft.functions.{tokens, SpaceSaving}
import graft.sources.Tables._

/** Heavy-hitters vocabulary statistics via the space-saving sketch
  * ([[graft.functions.SpaceSavingTopK]]) — at 100 TB the exact
  * top-terms groupBy shuffles every distinct term; the sketch ships
  * ≤ `Capacity` counters per partition and still GUARANTEES presence
  * of every term above the n/Capacity frequency line. The reference's
  * closest surface is wordcount-then-sort (`dfs/wordcountjob.go`),
  * which materializes the whole vocabulary.
  *
  * The gated query follows the q27 sketch pattern: the hash-compared
  * columns are the EXACT top-[[TopN]] terms (oracle-reproducible),
  * plus invariants of the sketch pinned TRUE — the presence guarantee
  * and the est/err bounds — so a broken sketch fails the gate while
  * its (arrival-order-dependent) raw content stays out of the compare.
  */
object HeavyHitters {

  val Capacity = 256
  val TopN = 20

  def taHeavyHitters(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(explode(tokens(col("text"))).as("term"))
    val exactTop = toks.groupBy(col("term"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term"))
      .limit(TopN)
    val total = toks.agg(count(lit(1)).as("n"))
    val sketch = SpaceSaving.unpacked(
      toks.agg(SpaceSaving.topK(col("term"), Capacity).as("sk")))
    exactTop
      .crossJoin(broadcast(total))
      .join(broadcast(sketch), Seq("term"), "left")
      .select(col("term"), col("cnt"),
        // any term with cnt > n/Capacity must be in the sketch
        (!(col("cnt") * Capacity > col("n")) || col("est").isNotNull)
          .as("in_sketch_ok"),
        // where present: est upper-bounds cnt, est - err lower-bounds it
        (col("est").isNull ||
          (col("est") >= col("cnt") && col("est") - col("err") <= col("cnt")))
          .as("bounds_ok"))
      .orderBy(col("cnt").desc, col("term"))
  }

  val taHeavyHittersSql: String =
    s"""WITH toks AS (
       |  SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS term
       |  FROM documents),
       |exact AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY term)
       |SELECT term, cnt, TRUE AS in_sketch_ok, TRUE AS bounds_ok
       |FROM exact
       |ORDER BY cnt DESC, term
       |LIMIT $TopN""".stripMargin

  val gated: Seq[Gated] = Seq(
    Gated("ta_heavy_hitters", taHeavyHitters, taHeavyHittersSql),
  )
}
