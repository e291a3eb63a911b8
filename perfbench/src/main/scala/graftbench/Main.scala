package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run of one workload, driven by `perfbench/run.py`:
  *
  *   graftbench.Main --workload <name> --inputs <dir> --work <dir>
  *     --seconds <n> --trace <0|1> --out <result.json> --spans <spans.json>
  *
  * Sets up the session five times, runs one cold pass and one settling
  * pass, then measured warm passes until `--seconds` have passed, and
  * writes the raw timings (and, when traced, the per-layer metrics and
  * every span) as JSON.
  */
object Main {

  val SettlingPasses = 1

  final case class PassResult(pass: Int, traced: Boolean, wall: Double,
      layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => (k, v) }.toMap
    val workloadName = opt("--workload")
    val seconds = opt("--seconds").toDouble
    val traced = opt("--trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val workload = Workloads(workloadName)

    // set-up: the first from JVM start, four more after a full stop
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = ArrayBuffer.empty[Double]
    def session(): SparkSession = {
      val s = GraftSession.getOrCreate(s"local[$cores]", cores)
      s.sparkContext.setLogLevel("WARN")
      s
    }
    var spark = session()
    setups += (System.currentTimeMillis() - jvmStartMs) / 1e3
    for (_ <- 1 to 4) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      spark = session()
      setups += (System.nanoTime() - t0) / 1e9
    }

    val loadBefore = Ambient.loadAvg()
    val calibBefore = Ambient.calibrate()
    val tracer = new Tracer(s"$workloadName-${opt.getOrElse("--seed", "0")}")
    val ctx = new Ctx(spark, tracer, opt("--inputs"), opt("--work"))
    val probe = new SparkProbe(spark)
    ctx.probe = Some(probe)
    workload.prepare(ctx)

    def runPass(i: Int, trace: Boolean, check: Boolean): PassResult = {
      ctx.untimedSeconds = 0.0
      ctx.gauges.clear()
      tracer.pass = i
      System.gc()
      val snap0 = if (trace) { probe.register(); probe.snapshot() } else Map.empty[String, Long]
      tracer.enabled = trace
      val t0 = System.nanoTime()
      workload.pass(ctx, check)
      val wall = (System.nanoTime() - t0) / 1e9 - ctx.untimedSeconds
      tracer.enabled = false
      val layers =
        if (!trace) Map.empty[String, Double]
        else {
          val snap1 = probe.snapshot()
          probe.unregister()
          LayerMetrics(tracer.ofPass(i), ctx.gauges.toMap,
            snap1.map { case (k, v) => k -> (v - snap0(k)) }, wall, cores)
        }
      PassResult(i, trace, wall, layers)
    }

    val checkDir = opt("--work") + "/check"
    Files.createDirectories(Paths.get(checkDir))
    val cold = runPass(0, trace = false, check = true)
    workload.dumpForOracle(ctx, checkDir)

    // the first warm pass still pays JIT tiering (measured 10-40% slower
    // than the passes after it): run it, report it apart
    val settling = (1 to SettlingPasses).map(i => runPass(i, trace = false, check = false))
    val passes = ArrayBuffer.empty[PassResult]
    val start = System.nanoTime()
    // a traced run alternates traced and untraced passes, so the cost of
    // tracing is measured in the run that pays it
    while (((System.nanoTime() - start) / 1e9 < seconds ||
        passes.size < (if (traced) 3 else 2)) && !workload.exhausted(ctx)) {
      val i = passes.size + SettlingPasses + 1
      passes += runPass(i, trace = traced && passes.size % 2 == 0, check = false)
    }

    // Spark's ContextCleaner frees blocks and shuffle state of objects a
    // collection found unreachable, asynchronously: collect, let it run,
    // and collect again until nothing is left for it
    val rt = Runtime.getRuntime
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    System.gc()
    val retainedMb = (rt.totalMemory() - rt.freeMemory()) / 1e6
    val calibAfter = Ambient.calibrate()
    val loadAfter = Ambient.loadAvg()

    def coldOp(name: String): Double =
      ctx.ops.filter(o => o.pass == 0 && o.name == name).map(_.seconds).sum
    val tracedPasses = passes.filter(_.traced)
    val plainPasses = passes.filterNot(_.traced)
    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val keys = tracedPasses.flatMap(_.layers.keys).distinct
        keys.map(k => k -> Stats.median(tracedPasses.map(_.layers.getOrElse(k, 0.0))))
          .toMap ++ Map(
            "session.build_s" -> Stats.median(setups.toSeq),
            // built once per run, in the cold pass
            "api.index_build_s" -> coldOp("index_build"),
            "api.index_save_s" -> coldOp("index_save"),
            "trace.overhead" -> Stats.median(tracedPasses.map(_.wall)) /
              Stats.median(plainPasses.map(_.wall)))
      }

    val ops = ctx.ops.toSeq
    def opJson(o: OpResult) = Json.obj(Seq("pass" -> o.pass.toString,
      "name" -> Json.str(o.name), "s" -> Json.num(o.seconds),
      "ok" -> o.ok.toString))
    def passJson(p: PassResult) = Json.obj(Seq("pass" -> p.pass.toString,
      "traced" -> p.traced.toString, "wall_s" -> Json.num(p.wall)))
    val out = Json.obj(Seq(
      "workload" -> Json.str(workloadName),
      "cores" -> cores.toString,
      "heap_max_mb" -> Json.num(rt.maxMemory() / 1e6),
      "spark_version" -> Json.str(spark.version),
      "setup_s" -> Json.arr(setups.map(Json.num)),
      "first_pass_s" -> Json.num(cold.wall),
      "settling_pass_s" -> Json.arr(settling.map(p => Json.num(p.wall))),
      "passes" -> Json.arr(passes.map(passJson)),
      "ops" -> Json.arr(ops.map(opJson)),
      "errors" -> Json.arr(ctx.errors.map(Json.str)),
      "retained_heap_mb" -> Json.num(retainedMb),
      "calib_s" -> Json.obj(Seq("before" -> Json.num(calibBefore),
        "after" -> Json.num(calibAfter))),
      "loadavg" -> Json.obj(Seq("before" -> Json.num(loadBefore),
        "after" -> Json.num(loadAfter))),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.num(v) })))
    Files.writeString(Paths.get(opt("--out")), out)
    if (traced) opt.get("--spans").foreach { path =>
      Files.writeString(Paths.get(path), Json.arr(
        (0 to passes.size + SettlingPasses).flatMap(tracer.ofPass).map { s =>
          Json.obj(Seq("run" -> Json.str(tracer.runId), "id" -> s.id.toString,
            "parent" -> s.parent.toString, "layer" -> Json.str(s.layer),
            "name" -> Json.str(s.name), "pass" -> s.pass.toString,
            "start_ns" -> s.start.toString, "end_ns" -> s.end.toString))
        }))
    }
    spark.stop()
  }
}

object Stats {
  def median(xs: scala.collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Readings of the machine around a run, recorded and never gated. */
object Ambient {
  /** Seconds for a fixed single-threaded integer kernel (100M xorshift
    * steps): how much CPU one thread is getting right now.
    */
  def calibrate(): Double = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    val t0 = System.nanoTime()
    while (i < 100000000) {
      h ^= h << 13; h ^= h >>> 7; h ^= h << 17; h += i; i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (h == 42L) System.err.println("[perfbench] calib sentinel")
    dt
  }

  def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }
}

/** Per-layer metrics of one traced pass, from its spans, the workload's
  * gauges and the Spark counters over the pass.
  */
object LayerMetrics {
  val Families = Seq("q", "pipe", "dd", "cp", "ta", "sim", "emb")
  val Layers = Seq("sources", "operators", "api", "streaming", "spark", "trace")

  def apply(spans: Seq[Span], g: Map[String, Double], sc: Map[String, Long],
      wall: Double, cores: Int): Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    val top = spans.filter(_.parent < 0)
    def ancestors(s: Span): Iterator[Span] =
      Iterator.iterate(byId.get(s.parent))(_.flatMap(p => byId.get(p.parent)))
        .takeWhile(_.isDefined).map(_.get)
    def outermost(p: Span => Boolean): Double =
      spans.filter(s => p(s) && !ancestors(s).exists(p)).map(_.seconds).sum
    def topSum(p: Span => Boolean): Double = top.filter(p).map(_.seconds).sum
    def gauge(k: String) = g.getOrElse(k, 0.0)
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val children = spans.groupBy(_.parent)
    def self(s: Span) = s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum
    val taskRun = sc.getOrElse("task_run_ns", 0L) / 1e9

    val m = Map(
      "sources.put_s" -> topSum(s => s.layer == "sources" && s.name.startsWith("put")),
      "sources.put_mb" -> gauge("sources.put_bytes") / 1e6,
      "sources.put_files" -> gauge("sources.put_files"),
      "sources.get_s" -> topSum(_.name.startsWith("getText(")),
      "sources.meta_s" -> topSum(_.name.startsWith("meta(")),
      "sources.commit_s" -> outermost(_.name.startsWith("commit.")),
      "sources.commits" -> gauge("sources.commits"),
      "sources.commit_retries" -> gauge("sources.commit_retries"),
      "sources.compact_s" -> outermost(_.name == "compact"),
      "sources.vacuum_s" -> outermost(_.name == "vacuum"),
      "sources.live_bytes_ratio" ->
        ratio(gauge("sources.live_bytes"), gauge("sources.disk_bytes")),
      "operators.mapreduce.run_s" -> topSum(_.name.startsWith("mapreduce.run(")),
      "operators.mapreduce.assoc_s" ->
        topSum(_.name.startsWith("mapreduce.runAssociative(")),
      "operators.mapreduce.pairs_emitted" -> gauge("operators.mapreduce.pairs_emitted"),
      "operators.mapreduce.shuffle_per_pair" ->
        ratio(gauge("mr.assoc_shuffle_records"), gauge("mr.assoc_pairs")),
      "operators.construct_s" -> outermost(_.name == "construct"),
      "plans.topk_s" -> topSum(s => Workloads.TopKQueries(s.name)),
      "api.cache_built" -> gauge("api.cache_built"),
      "api.cache_hit_ratio" -> ratio(gauge("api.cache_hits"),
        gauge("api.cache_hits") + gauge("api.cache_built")),
      "api.cache_mb" -> gauge("api.cache_bytes") / 1e6,
      "api.evict_s" -> outermost(_.name == "evictCaches"),
      "api.index_refresh_s" -> outermost(_.name.startsWith("index_refresh")),
      "api.index_load_s" -> outermost(_.name == "index_load"),
      "api.index_serve_s" -> topSum(_.name.startsWith("index_serve")),
      "api.describe_s" -> topSum(_.name == "describeIndexes"),
      "streaming.batches" -> gauge("streaming.batches"),
      "streaming.batch_s" ->
        ratio(gauge("streaming.batch_ms_sum") / 1e3, gauge("streaming.batches")),
      "streaming.rows_per_s" ->
        ratio(gauge("streaming.rows"), gauge("streaming.batch_ms_sum") / 1e3),
      "spark.analysis_s" ->
        (sc.getOrElse("analysis_ms", 0L) + gauge("spark.construct_analysis_ms")) / 1e3,
      "spark.optimization_s" -> sc.getOrElse("optimization_ms", 0L) / 1e3,
      "spark.planning_s" -> sc.getOrElse("planning_ms", 0L) / 1e3,
      "spark.jobs" -> sc.getOrElse("jobs", 0L).toDouble,
      "spark.stages" -> sc.getOrElse("stages", 0L).toDouble,
      "spark.tasks" -> sc.getOrElse("tasks", 0L).toDouble,
      "spark.sched_delay_s" -> sc.getOrElse("sched_delay_ms", 0L) / 1e3,
      "spark.failed_tasks" -> sc.getOrElse("failed_tasks", 0L).toDouble,
      "spark.task_run_s" -> taskRun,
      "spark.task_cpu_s" -> sc.getOrElse("task_cpu_ns", 0L) / 1e9,
      "spark.core_util" -> ratio(taskRun, wall * cores),
      "spark.gc_s" -> sc.getOrElse("gc_ms", 0L) / 1e3,
      "spark.spill_mb" -> sc.getOrElse("spill_bytes", 0L) / 1e6,
      "spark.shuffle_write_mb" -> sc.getOrElse("shuffle_write_bytes", 0L) / 1e6,
      "spark.shuffle_read_mb" -> sc.getOrElse("shuffle_read_bytes", 0L) / 1e6,
      "spark.shuffle_records" -> sc.getOrElse("shuffle_records", 0L).toDouble,
      "spark.fetch_wait_s" -> sc.getOrElse("fetch_wait_ms", 0L) / 1e3,
      "spark.input_mb" -> sc.getOrElse("input_bytes", 0L) / 1e6,
      "spark.output_mb" -> sc.getOrElse("output_bytes", 0L) / 1e6,
      "trace.uncovered_share" -> ratio(wall - top.map(_.seconds).sum, wall))
    val families = Families.map(f => s"operators.${f}_s" ->
      topSum(s => s.layer == "operators" && Workloads.family(s.name) == f))
    val selfTimes = Layers.map(l => s"self.${l}_s" ->
      spans.filter(_.layer == l).map(self).sum)
    m ++ families ++ selfTimes
  }
}
