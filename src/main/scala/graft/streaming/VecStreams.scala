package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Gated
import graft.functions.{HyperplaneBuckets, VectorExpressions}
import graft.operators.Similarity
import graft.sources.Tables

/** Streaming similarity serving: a stream of query vectors answered
  * against a STATIC corpus — the online half of the similarity family
  * (the batch half is [[graft.operators.Similarity]]).
  */
object VecStreams {

  val ServeWindowSec = 600L

  /** Streaming ANN over a static corpus via hyperplane LSH — the
    * serving-path topology, chosen because every stage before the one
    * aggregation is STATELESS:
    *
    *  1. each arriving query explodes to its `(table, bucket)` keys in
    *     the same codegen'd one-pass kernel the batch `sim_ann_lsh`
    *     uses — probe selection is map-side (unlike IVF, whose probe
    *     ranking needs a per-query argmax — that is why the streaming
    *     arm is LSH);
    *  2. a stream-static equi-join on `(table, bucket)` attaches the
    *     bucketed corpus candidates (stateless — the static side is
    *     just a relation; at scale it is the bucket-partitioned index);
    *  3. exact cosine per candidate, map-side;
    *  4. ONE watermarked tumbling-window aggregation per (window,
    *     query) collects the candidate structs and finishes IN ARRAY
    *     SPACE: `array_distinct` dedups the multi-table collisions,
    *     a comparator `array_sort` orders by (cosine desc, c_id), and
    *     `slice` keeps k — so multi-table dedup + top-k, which in batch
    *     take a dropDuplicates plus a rank window, cost a single
    *     stateful operator whose state is bounded by (windows × queries
    *     × candidates), evicted by the watermark.
    *
    * Works identically on a batch frame (watermark no-ops, the window
    * still groups), which is how the spec oracles it against the gated
    * `sim_ann_lsh`. Output: `(win_start_s, q_id, topk_ids)` with
    * `topk_ids` the comma-joined neighbor ids in rank order.
    *
    * LATE QUERIES: Spark drops behind-watermark rows at the
    * aggregation only best-effort (measured on 4.1: a late query is
    * aggregated and emits as its own late window row). Because
    * candidate generation is stateless and watermark-independent, a
    * late query either vanishes or receives exactly its complete
    * answer — never a partial candidate set (pinned in
    * `VecStreamsSpec`). Downstream consumers keyed on (window, q_id)
    * should upsert, not append-count.
    *
    * `excludeSelfIds` (default true) drops candidates with
    * `c_id == q_id` — correct when queries are drawn FROM the corpus
    * (the gated twin's shape). It assumes a SHARED id space: when
    * queries and corpus come from unrelated id spaces, pass `false`,
    * or an unrelated corpus vector whose id happens to equal a query
    * id would be silently dropped from that query's candidates.
    */
  def annServe(queries: DataFrame, corpus: DataFrame,
      k: Int = Similarity.TopK,
      excludeSelfIds: Boolean = true): DataFrame = {
    // resolution from the STATIC corpus side (one batch count at plan
    // build); the query stream masks to the same bits, so collisions
    // agree — see HyperplaneBuckets.resolutionBits
    val bits = HyperplaneBuckets.resolutionBits(corpus.count())
    val c = corpus.select(col("vec_id").as("c_id"),
      col("embedding").as("cv"),
      VectorExpressions.l2NormF(col("embedding")).as("cn"),
      posexplode(
        HyperplaneBuckets.hyperplaneBuckets(col("embedding"), bits))
        .as(Seq("table", "bucket")))
    val qb = queries.withWatermark("ts", "1 hour")
      .select(col("vec_id").as("q_id"), col("ts"),
        col("embedding").as("qv"),
        VectorExpressions.l2NormF(col("embedding")).as("qn"),
        posexplode(
          HyperplaneBuckets.hyperplaneBuckets(col("embedding"), bits))
          .as(Seq("table", "bucket")))
    val selfCond =
      if (excludeSelfIds) col("q_id") =!= col("c_id") else lit(true)
    val scored = qb.join(c, Seq("table", "bucket"))
      .filter(selfCond)
      .select(col("q_id"), col("ts"), col("c_id"),
        (VectorExpressions.dotF(col("qv"), col("cv")) /
          (col("qn") * col("cn"))).as("cosine"))
    val byScore = (a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column) =>
      when(a.getField("cosine") > b.getField("cosine"), -1)
        .when(a.getField("cosine") < b.getField("cosine"), 1)
        .otherwise(signum(a.getField("c_id") - b.getField("c_id"))
          .cast("int"))
    scored
      .groupBy(window(col("ts"), s"$ServeWindowSec seconds"), col("q_id"))
      .agg(collect_list(struct(col("c_id"), col("cosine"))).as("parts"))
      .select(
        unix_timestamp(col("window.start")).as("win_start_s"),
        col("q_id"),
        concat_ws(",", transform(
          slice(array_sort(array_distinct(col("parts")), byScore), 1, k),
          p => p.getField("c_id").cast("string"))).as("topk_ids"))
  }

  /** Deterministic arrival epoch for the gated batch twin: queries are
    * stamped `ServeT0 + vec_id` seconds, all inside one serving window.
    */
  val ServeT0 = 1700000000L

  /** Gated batch twin of [[annServe]]: the gate query vectors arrive at
    * deterministic timestamps and the serving plan runs in batch mode
    * (watermark no-ops, the window still groups) — certifying the
    * bucketing, candidate dedup, scoring, and array-space top-k against
    * a DuckDB mirror of the whole chain. The streaming execution of the
    * SAME plan (micro-batches, watermark, late arrivals) is verified in
    * `VecStreamsSpec`.
    */
  def stAnn(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < Similarity.NumQueryVectors)
      .select(col("vec_id"),
        expr(s"timestamp_seconds($ServeT0 + vec_id)").as("ts"),
        col("embedding"))
    annServe(q, e).orderBy(col("q_id"))
  }

  /** DuckDB mirror on the shared hyperplane CTE chain: the same
    * DISTINCT candidate pairs and left-fold cosines as `sim_ann_lsh`,
    * regrouped per (tumbling window, query) with the neighbor list
    * ordered (cosine DESC, c_id) and comma-joined — element-wise
    * identical to the comparator-sorted array the Spark side emits.
    */
  val stAnnSql: String = {
    val n = Similarity.NumQueryVectors
    val k = Similarity.TopK
    s"""WITH ${Similarity.bucketsCtesSql},
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
       |  FROM buckets c JOIN buckets q ON c.t = q.t AND c.bucket = q.bucket
       |  WHERE q.vec_id < $n AND q.vec_id <> c.vec_id),
       |scored AS (
       |  SELECT q_id, c_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_zip(eq.v, ec.v), pr -> pr[1] * pr[2])),
       |      (acc, x) -> acc + x) / (eq.nrm * ec.nrm) AS cosine
       |  FROM cand JOIN e eq ON eq.vec_id = q_id JOIN e ec ON ec.vec_id = c_id),
       |top AS (
       |  SELECT q_id, list(c_id ORDER BY cosine DESC, c_id) AS ids
       |  FROM scored GROUP BY q_id)
       |SELECT CAST(((CAST($ServeT0 AS BIGINT) + q_id) // $ServeWindowSec)
       |         * $ServeWindowSec AS BIGINT) AS win_start_s,
       |  q_id,
       |  array_to_string(list_transform(ids[1:$k], x -> CAST(x AS VARCHAR)), ',')
       |    AS topk_ids
       |FROM top
       |ORDER BY q_id""".stripMargin
  }

  val gated: Seq[Gated] = Seq(
    Gated("st_ann", stAnn, stAnnSql),
  )
}
