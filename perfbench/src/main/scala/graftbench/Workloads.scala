package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.api.Corpus
import graft.operators.MapReduce

/** A closed-loop workload: the benchmark runs `pass` once cold and then
  * again and again for the measured seconds. One client thread.
  */
trait Workload {
  def prepare(ctx: Ctx): Unit = ()
  /** One pass; `check` is true on the pass whose outputs get checked. */
  def pass(ctx: Ctx, check: Boolean): Unit
  /** True when the inputs cannot feed another pass. */
  def exhausted(ctx: Ctx): Boolean = false
  /** Write what an outside oracle needs to check the outputs. */
  def dumpForOracle(ctx: Ctx, dir: String): Unit = ()
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "sql_mix" => new QueryMix(SqlQueries, evict = false)
    case "corpus_curate" => new QueryMix(CurationQueries, evict = true)
    case "mr_dfs" => new MrDfs
    case "index_refresh" => new IndexRefresh
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val SqlQueries: Seq[String] = Seq("q1_agg", "q3_join_agg",
    "q4_broadcast_join", "q5_multi_join", "q9_window_topk", "q11_distinct",
    "q12_setops", "q13_rollup", "q19_outer_join", "q21_pivot",
    "q26_percentile", "q27_approx", "q28_topk_custom", "q32_date_arith",
    "q36_range_join", "q41_exists_correlated")

  /** Near-dup candidates by MinHash LSH, which builds the cached
    * signature and candidate relations, the Jaccard estimate served from
    * those cached candidates, and the TopK-planned domain cap.
    */
  val CurationQueries: Seq[String] = Seq("dd_minhash_lsh", "dd_minhash_est",
    "cp_domain_cap")

  /** The queries whose plans run the custom TopKPerGroupExec operator. */
  val TopKQueries: Set[String] = Set("q28_topk_custom", "cp_domain_cap")

  def family(query: String): String = query.takeWhile(_.isLetter)

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }
}

/** A fixed list of registered queries, each built by its query function
  * and run to completion through the `noop` sink.
  */
final class QueryMix(queries: Seq[String], evict: Boolean) extends Workload {
  private lazy val fns = queries.map(q => q -> SparkEntry.queries(q))

  /** The checked (cold) pass writes each result as parquet for the
    * oracle instead of discarding it, so checking costs no extra run.
    */
  def pass(ctx: Ctx, check: Boolean): Unit = {
    val spark = ctx.spark
    if (evict) ctx.tracer.span("api", "evictCaches")(Corpus.evictCaches(spark, ctx.inputs))
    fns.foreach { case (q, fn) =>
      ctx.op("operators", q) {
        val before = if (ctx.tracer.enabled) StorageProbe.persistedIds(spark) else Set.empty[Int]
        val df = ctx.tracer.span("operators", "construct")(fn(spark, ctx.inputs))
        if (ctx.tracer.enabled) ctx.tracer.span("trace", "inspect") {
          val after = StorageProbe.persistedIds(spark)
          val leaves = df.queryExecution.logical.collect {
            case l: LogicalRDD => l.rdd.id
          }.toSet
          ctx.gauge("api.cache_built", (after -- before).size.toDouble)
          ctx.gauge("api.cache_hits", (leaves intersect before).size.toDouble)
          df.queryExecution.tracker.phases.get("analysis")
            .foreach(p => ctx.gauge("spark.construct_analysis_ms", p.durationMs.toDouble))
        }
        if (check) ctx.tracer.span("spark", "execute[parquet sink]")(
          df.write.mode("overwrite").parquet(s"${ctx.work}/check/$q"))
        else ctx.tracer.span("spark", "execute[noop sink]")(
          df.write.format("noop").mode("overwrite").save())
      }
    }
    if (ctx.tracer.enabled) ctx.untimed(
      ctx.gauge("api.cache_bytes", StorageProbe.cachedBytes(spark).toDouble))
  }

  /** The DuckDB SQL of each checked query. */
  override def dumpForOracle(ctx: Ctx, dir: String): Unit = {
    val oracle = SparkEntry.oracleSql
    val json = queries.filter(oracle.contains)
      .map(q => Json.str(q) + ":" + Json.str(oracle(q))).mkString("{", ",", "}")
    Files.writeString(Paths.get(dir, "oracle_sql.json"), json)
  }
}

/** The paper's job: text and dialog lines put into the DFS, both
  * reference MapReduce jobs plus the combining word count, their results
  * put back, then the read-back and metadata verbs.
  */
final class MrDfs extends Workload {
  private val names = Seq("text", "dialogs", "wc_run", "wc_assoc", "qp_run")
  private var storage: TracedStorage = _
  private var oracle: Oracle = _

  override def prepare(ctx: Ctx): Unit = {
    storage = new TracedStorage(ctx.spark, s"${ctx.work}/dfs", ctx.tracer)
    oracle = Oracle(s"${ctx.inputs}/text.txt", s"${ctx.inputs}/dialogs.txt")
  }

  def pass(ctx: Ctx, check: Boolean): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    ctx.op("sources", "putText(text)")(storage.putText("text",
      spark.read.textFile(s"${ctx.inputs}/text.txt"), overwrite = true))
    ctx.op("sources", "putText(dialogs)")(storage.putText("dialogs",
      spark.read.textFile(s"${ctx.inputs}/dialogs.txt"), overwrite = true))
    ctx.op("operators", "mapreduce.run(wordCount)[forced by putText]") {
      storage.putText("wc_run", MapReduce.toKvLines(
        MapReduce.run(storage.getText("text"), MapReduce.wordCountJob)),
        overwrite = true)
    }
    val assoc = ctx.sparkDelta {
      ctx.op("operators", "mapreduce.runAssociative(wordCount)[forced by put]") {
        storage.put("wc_assoc", MapReduce.runAssociative[String, Long](
          storage.getText("text"),
          line => MapReduce.fields(line).map(w => (w, 1L)), _ + _)
          .toDF("word", "count"), overwrite = true)
      }
    }
    ctx.op("operators", "mapreduce.run(questionPercentage)[forced by putText]") {
      storage.putText("qp_run", MapReduce.toKvLines(MapReduce.run(
        storage.getText("dialogs"), MapReduce.questionPercentageJob)),
        overwrite = true)
    }
    if (ctx.tracer.enabled) {
      val pairs = 2 * oracle.tokens + oracle.dialogLines
      ctx.gauge("operators.mapreduce.pairs_emitted", pairs.toDouble)
      ctx.gauge("mr.assoc_shuffle_records",
        assoc.getOrElse("shuffle_records", 0L).toDouble)
      ctx.gauge("mr.assoc_pairs", oracle.tokens.toDouble)
    }
    ctx.op("sources", "getText(wc_run)[forced by count]") {
      ctx.tracer.span("sources", "getText[forced by count]") {
        storage.getText("wc_run").count()
      }
    }
    if (check) ctx.untimed(verify(ctx))
    ctx.op("sources", "meta(ls+info+delete)") {
      storage.ls(); storage.info(); names.foreach(storage.delete)
    }
    if (ctx.tracer.enabled) {
      ctx.gauge("sources.put_bytes", storage.putBytes.getAndSet(0L).toDouble)
      ctx.gauge("sources.put_files", storage.putFiles.getAndSet(0L).toDouble)
    }
  }

  private def verify(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    def kv(name: String): Map[String, String] =
      MapReduce.fromKvLines(storage.getText(name)).collect().toMap
    val wc = kv("wc_run")
    val want = oracle.wordCounts.map { case (k, v) => k -> v.toString }
    if (wc != want) ctx.wrong("mapreduce.run(wordCount)[forced by putText]",
      s"${wc.size} keys vs oracle ${want.size}, " +
        s"${(want.toSet diff wc.toSet).size} pairs differ")
    val assoc = storage.get("wc_assoc").as[(String, Long)].collect().toMap
    if (assoc != oracle.wordCounts)
      ctx.wrong("mapreduce.runAssociative(wordCount)[forced by put]",
        s"${assoc.size} keys vs oracle ${oracle.wordCounts.size}")
    if (assoc.map { case (k, v) => k -> v.toString } != wc)
      ctx.wrong("mapreduce.runAssociative(wordCount)[forced by put]",
        "runAssociative disagrees with run")
    val qp = kv("qp_run")
    if (qp != oracle.questionPct)
      ctx.wrong("mapreduce.run(questionPercentage)[forced by putText]",
        s"${qp.size} keys vs oracle ${oracle.questionPct.size}, " +
          s"${(oracle.questionPct.toSet diff qp.toSet).size} differ")
    val listed = storage.ls().map(_.name).toSet
    if (!names.forall(listed))
      ctx.wrong("getText(wc_run)[forced by count]", s"ls lists only $listed")
  }
}

/** Word counts and question percentages by plain Scala over the input
  * files, independent of Spark and of the engine.
  */
final case class Oracle(tokens: Long, dialogLines: Long,
    wordCounts: Map[String, Long], questionPct: Map[String, String])

object Oracle {
  def apply(text: String, dialogs: String): Oracle = {
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    var tokens = 0L
    Files.readAllLines(Paths.get(text)).asScala.foreach { line =>
      line.split("\\s+").foreach { w =>
        if (w.nonEmpty) { counts(w) = counts.getOrElse(w, 0L) + 1; tokens += 1 }
      }
    }
    val q = scala.collection.mutable.HashMap.empty[String, (Int, Int)]
    var n = 0L
    Files.readAllLines(Paths.get(dialogs)).asScala.foreach { line =>
      val t = line.split(" \\+\\+\\+\\$\\+\\+\\+ ", -1)
      if (t.length >= 5) {
        n += 1
        val key = t(1) + " " + t(3)
        val (qs, all) = q.getOrElse(key, (0, 0))
        q(key) = (qs + (if (t(4).contains("?")) 1 else 0), all + 1)
      }
    }
    Oracle(tokens, n, counts.toMap,
      q.map { case (k, (qs, all)) => k -> s"${qs * 100 / all}%" }.toMap)
  }
}

/** Writes beside reads: a persisted ANN index over a versioned vector
  * table, maintained by the streaming sink's refresh loop and served
  * after every refresh night. The cold pass lands the base corpus and
  * builds and saves the index. Every pass then runs one night: the next
  * delta file lands, the sink ingests it as one micro-batch and
  * refreshes the index, the delta is served back, and `describeIndexes`
  * reports the index.
  */
final class IndexRefresh extends Workload {
  // the sink compacts the corpus table every 4 batches and keeps 3
  // versions past the index's consumed one, so every few passes cross
  // a compaction and a vacuum
  private val CompactEvery = 4
  private val VacuumKeep = 3
  private var storage: TracedStorage = _
  private var deltas: Seq[Path] = Nil
  private var schema: org.apache.spark.sql.types.StructType = _
  private var used = 0

  override def prepare(ctx: Ctx): Unit = {
    storage = new TracedStorage(ctx.spark, s"${ctx.work}/wh", ctx.tracer,
      pointerTable = "idx__ann")
    Files.createDirectories(Paths.get(ctx.work, "landing"))
    deltas = Files.list(Paths.get(ctx.inputs, "deltas")).iterator().asScala
      .toSeq.sortBy(_.getFileName.toString)
    schema = ctx.spark.read.parquet(s"${ctx.inputs}/base.parquet").schema
  }

  override def exhausted(ctx: Ctx): Boolean = used >= deltas.size

  def pass(ctx: Ctx, check: Boolean): Unit = {
    val spark = ctx.spark
    if (used == 0) {
      ctx.op("sources", "putVersioned(base)")(storage.putVersioned("vecs",
        spark.read.parquet(s"${ctx.inputs}/base.parquet")))
      var built: graft.api.AnnIndex = null
      ctx.op("api", "index_build") {
        built = Corpus.buildAnnIndex(storage.readVersioned("vecs"))
      }
      ctx.op("api", "index_save") {
        Corpus.saveAnnIndex(built, storage, "idx", storage.versions("vecs").last)
      }
      if (built != null) ctx.tracer.span("api", "index_close")(built.close())
    }
    val delta = deltas(used)
    used += 1
    ctx.op("streaming", "night[sink+refresh]") {
      val landed = Paths.get(ctx.work, "landing").resolve(delta.getFileName)
      Files.copy(delta, landed, StandardCopyOption.REPLACE_EXISTING)
      // the file source orders new files by modification time
      Files.setLastModifiedTime(landed,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + used * 1000L))
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(landed.getParent.toString)
      storage.watchRefreshes = true
      val q = Corpus.sinkWithAnnRefresh(stream, storage, "vecs",
        s"${ctx.work}/checkpoint", "idx", refreshEvery = 1,
        trigger = Trigger.AvailableNow(), compactEvery = CompactEvery,
        vacuumKeep = VacuumKeep)
      try q.awaitTermination() finally storage.watchRefreshes = false
      q.exception.foreach(e => throw e)
      if (ctx.tracer.enabled) q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
        ctx.gauge("streaming.batches", 1)
        ctx.gauge("streaming.rows", p.numInputRows.toDouble)
        ctx.gauge("streaming.batch_ms_sum",
          p.durationMs.getOrDefault("triggerExecution", 0L).toDouble)
      }
    }
    var idx: graft.api.AnnIndex = null
    var hits = Array.empty[Row]
    ctx.op("api", "index_serve[load+topK]") {
      idx = ctx.tracer.span("api", "index_load")(Corpus.loadAnnIndex(storage, "idx"))
      val probes = spark.read.parquet(delta.toString).select(col("vec_id"), col("embedding"))
      hits = ctx.tracer.span("api", "index_topK")(idx.topK(probes, k = 1).collect())
    }
    if (idx != null) {
      ctx.untimed(verifyNight(ctx, idx, delta, hits))
      ctx.tracer.span("api", "index_close")(idx.close())
    }
    ctx.op("api", "describeIndexes") {
      Corpus.describeIndexes(storage, Map("idx" -> "vecs")).collect()
    }
    if (ctx.tracer.enabled) ctx.untimed {
      ctx.gauge("sources.commits", storage.commits.getAndSet(0L).toDouble)
      ctx.gauge("sources.commit_retries", storage.commitRetries.getAndSet(0L).toDouble)
      val live = storage.lsVersioned().map { t =>
        storage.describeVersioned(t).head().getAs[Long]("bytes")
      }.sum
      ctx.gauge("sources.live_bytes", live.toDouble)
      ctx.gauge("sources.disk_bytes", Workloads.treeBytes(Paths.get(storage.warehouse)).toDouble)
    }
  }

  /** Every vector of the night's delta is in the index's lists and is
    * served back to itself at cosine 1.
    */
  private def verifyNight(ctx: Ctx, idx: graft.api.AnnIndex, delta: Path,
      hits: Array[Row]): Unit = {
    val ids = ctx.spark.read.parquet(delta.toString).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val listed = idx.lists.filter(col("c_id").isInCollection(ids))
      .select("c_id").distinct().count()
    if (listed != ids.size)
      ctx.wrong("night[sink+refresh]", s"$listed of ${ids.size} delta vectors listed")
    val unit = hits.count(r => ids.contains(r.getLong(0)) &&
      r.getLong(0) == r.getLong(2) && math.abs(r.getDouble(3) - 1.0) < 1e-6)
    if (unit != ids.size)
      ctx.wrong("index_serve[load+topK]",
        s"$unit of ${ids.size} delta vectors served at cosine 1")
  }
}

/** Minimal JSON text helpers. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
