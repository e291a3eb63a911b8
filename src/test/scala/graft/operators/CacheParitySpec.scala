package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.Tables

/** Artifact parity: every session artifact the engine declares must
  * serve exactly the rows of its un-materialized build — a stored frame
  * drifting from the frame-parametric form would silently change gated
  * results (the oracle gate would catch it a run later; this pins it at
  * the unit level).
  */
class CacheParitySpec extends SparkTestBase {

  /** A frame's rows as a sorted multiset: duplicates count. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("every declared artifact serves exactly its un-materialized build") {
    assert(graft.SparkEntry.queries.nonEmpty) // initializes every declaring operator object
    val all = Artifacts.all
    assert(all.size >= 33, all.map(_.name))
    all.foreach { a =>
      val (served, built) = (rows(a(spark, sf0001)), rows(a.build(spark, sf0001)))
      val same = served == built
      assert(same, s"artifact '${a.name}': ${served.size} rows served, " +
        s"${built.size} built; served only: ${served.diff(built).take(3)}; " +
        s"built only: ${built.diff(served).take(3)}")
    }
  }

  test("cachedTokRel equals the inline tokenized corpus, one row per doc") {
    val docs = Tables.documents(spark, sf0001)
    val inline = docs.select(col("doc_id"), col("lang"),
      graft.functions.tokens(col("text")).as("t"))
    val cached = TextAnalysis.cachedTokRel(spark, sf0001)
    assert(cached.count() == docs.count(), "one row per document")
    assert(rows(cached) == rows(inline))
  }

  test("cachedWinRel equals the inline window-hash relation") {
    val inline = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        posexplode(graft.functions.WordShingleHashesExpr
          .wordShingleHashesNative(col("text"), Dedup2.SpanWindow))
          .as(Seq("pos0", "h")))
      .select(col("doc_id"),
        (col("pos0") + 1).cast("long").as("pos"), col("h"))
    assert(rows(Dedup2.cachedWinRel(spark, sf0001)) == rows(inline))
  }

  test("cachedQaKept equals the exposed build relation and keptVecIds' id set") {
    val docs = Tables.documents(spark, sf0001)
    val cached = Pipeline.cachedQaKept(spark, sf0001)
    assert(rows(cached) == rows(Pipeline.cachedQaKept.build(spark, sf0001)))
    val cachedIds = cached.select(col("doc_id")).collect()
      .map(_.getLong(0)).sorted.toSeq
    val inlineIds = Pipeline.keptVecIds(docs).collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(cachedIds == inlineIds,
      "the struct-min survivor ids must equal the min-per-fp ids")
  }
}
