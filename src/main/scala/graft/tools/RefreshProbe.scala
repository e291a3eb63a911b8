package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.api.Corpus
import graft.sources.{Storage, Tables}

/** Measures the claim behind `Corpus.refreshAnnIndex` at the 100×
  * corpus: nightly index maintenance must cost O(delta), not
  * O(corpus) — the delta is consumed through the versioned table's
  * CDC read (only the appended directories are scanned), assigned
  * under the FROZEN centroids (no Lloyd pass), and appended to the
  * lists table as one O(delta) commit. The probe builds the base
  * index once, then refreshes at two delta fractions and times the
  * full retrain-and-save alternative for the same grown corpus —
  * the number an operator compares against when choosing a retrain
  * cadence. Sanity: after each refresh, a sample of delta vectors
  * must find THEMSELVES at cosine 1 (serve-equality with a from-
  * scratch assignment under the same centroids is spec-pinned in
  * `CorpusSpec`; this is the at-scale smoke of the same fact).
  *
  *   SPARK_GRAFT_SF_DIR=/tmp/graft100x \
  *     sbt "runMain graft.tools.RefreshProbe 0.05 0.20"
  *
  * Each argument is one delta fraction (appended on top of the
  * previous state, compounding like real nights).
  */
object RefreshProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft100x")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-refresh-probe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val wh = java.nio.file.Files.createTempDirectory("graft-refresh-wh-")
    val storage = new Storage(spark, wh.toString)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val n = e.count()
    val fracs = (if (args.nonEmpty) args.toSeq else Seq("0.05", "0.20"))
      .map(_.toDouble)
    // 5% of the id space is reserved past the nights for the
    // crashed-night rung below
    val baseFrac = 1.0 - fracs.sum - 0.05
    require(baseFrac > 0, s"delta fractions must sum below 0.95: $fracs")

    // day 0: train + persist on the base slice. Ids in the replicated
    // 100x corpus are SPARSE (replica offsets), so slices cut on
    // vec_id % 100 — a value split would land everything in one slice.
    val pct = col("vec_id") % 100
    val baseCut = (baseFrac * 100).toLong
    storage.putVersioned("vecs", e.filter(pct < baseCut))
    val baseRows = storage.readVersioned("vecs").count()
    val (built, tBuild) = time {
      val idx = Corpus.buildAnnIndex(storage.readVersioned("vecs"))
      idx.lists.count(); idx
    }
    val (_, tSave) = time {
      Corpus.saveAnnIndex(built, storage, "idx",
        corpusVersion = storage.versions("vecs").last)
    }
    println(f"corpus $sfDir n=$n base=$baseRows " +
      f"build=$tBuild%7.1fs save=$tSave%5.1fs")

    // nights 1..k: append a delta, refresh, sanity-probe
    var lo = baseCut
    fracs.foreach { frac =>
      val hi = math.min(100L, lo + (frac * 100).toLong)
      val delta = e.filter(pct >= lo && pct < hi)
      storage.appendVersioned("vecs", delta)
      val (_, tRefresh) = time {
        Corpus.refreshAnnIndex(storage, "idx", "vecs")
      }
      val loaded = Corpus.loadAnnIndex(storage, "idx")
      // the upsert witness: the delta's vectors are IN the refreshed
      // lists (a sample by id), and serving a delta query returns a
      // cosine-1 hit (this replicated corpus carries exact-duplicate
      // embeddings, so the tie-break may surface a lower-id twin —
      // either way the unit vector is served)
      val sampleIds = delta.orderBy(col("vec_id")).limit(4)
        .collect().map(_.getLong(0)).toSeq
      val listed = loaded.lists
        .filter(col("c_id").isInCollection(sampleIds)).count()
      val unitHits = loaded.topK(
          delta.orderBy(col("vec_id")).limit(4), k = 1).collect()
        .count(r => math.abs(r.getDouble(3) - 1.0) < 1e-9)
      println(f"delta=${delta.count()}%7d (${frac * 100}%4.1f%%) " +
        f"refresh=$tRefresh%7.1fs listed=$listed/4 unit_hits=$unitHits/4")
      require(listed == 4 && unitHits == 4,
        "refreshed index must carry and serve the delta")
      loaded.close()
      lo = hi
    }

    // a CRASHED night at scale: the refresh's lists append lands
    // (base-pinned, exactly as the verb writes it) but the pointer
    // commit never happens; the operator's re-run must not
    // double-index the delta — the hazard the base-pinned
    // appendVersionedOnto exists to kill
    if (lo < 100) {
      val hi = math.min(100L, lo + 5)
      storage.appendVersioned("vecs", e.filter(pct >= lo && pct < hi))
      val ptr = storage.readVersioned("idx__ann").collect()(0)
      val cent = storage.readVersioned("idx__centroids",
        ptr.getAs[Long]("centroids_version")).localCheckpoint()
      val (_, tHalf) = time {
        storage.appendVersionedOnto("idx__lists",
          graft.operators.Similarity.kernelProbeCells(
            storage.readVersionedSince("vecs",
                ptr.getAs[Long]("corpus_version"))
              .select(col("vec_id"), col("embedding")),
            cent, 1, "c_id", "cv_c", "cn_c"),
          ptr.getAs[Long]("lists_version"))
      }
      val (_, tRerun) = time { Corpus.refreshAnnIndex(storage, "idx", "vecs") }
      val loaded = Corpus.loadAnnIndex(storage, "idx")
      val total = storage.readVersioned("vecs").count()
      val listed = loaded.lists.count()
      require(listed == total,
        s"crashed-night rerun double-indexed: $listed lists rows for " +
          s"$total corpus vectors")
      println(f"crashed-night orphan=$tHalf%5.1fs rerun=$tRerun%5.1fs " +
        f"lists=$listed%d == corpus=$total%d (no double-index)")
      graft.operators.Artifacts.freeLocalCheckpoint(cent)
      loaded.close()
      lo = hi
    }

    // the alternative an operator weighs refresh against: full retrain
    // + re-save on the grown corpus
    val (_, tRetrain) = time {
      val idx = Corpus.buildAnnIndex(storage.readVersioned("vecs"))
      Corpus.saveAnnIndex(idx, storage, "idx_full",
        corpusVersion = storage.versions("vecs").last)
      idx.close()
    }
    println(f"full retrain+save on grown corpus: $tRetrain%7.1fs")

    // retention at scale: the nights above left one pointer generation
    // per refresh, each pinning its own lists version whose manifests
    // share directories — vacuumAnnIndex keeps only what the retained
    // pointer pins and reports what it actually freed
    def duBytes(p: java.nio.file.Path): Long = {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum
      finally s.close()
    }
    val dirsBefore = storage.versionDirCount("idx__lists")
    val (_, tCompact) = time { Corpus.compactAnnIndex(storage, "idx") }
    val before = duBytes(wh)
    val ((m, d), tVac) = time { Corpus.vacuumAnnIndex(storage, "idx", 1) }
    val after = duBytes(wh)
    val survivor = Corpus.loadAnnIndex(storage, "idx")
    require(survivor.lists.count() == storage.readVersioned("vecs").count(),
      "the retained pointer must still serve the full corpus after " +
        "compact + vacuum")
    println(f"compactAnnIndex: $dirsBefore dirs -> " +
      f"${storage.versionDirCount("idx__lists")} in $tCompact%5.1fs; " +
      f"vacuumAnnIndex(keep=1): $m manifests, $d dirs freed, " +
      f"${before / 1e6}%.1f -> ${after / 1e6}%.1f MB in $tVac%5.1fs; " +
      "survivor serves")
    survivor.close()
    built.close()

    // IVF×PQ: the 100 TB serve composition's refresh — BOTH quantizers
    // frozen (coarse assignment + kernel encode, two scan-bound O(delta)
    // passes) vs the full rebuild (two Lloyd runs + full encode)
    storage.putVersioned("pqvecs", e.filter(pct < 90))
    val (pqBuilt, tPqBuild) = time {
      val i = Corpus.buildIvfPqIndex(storage.readVersioned("pqvecs"))
      i.codes.count(); i
    }
    Corpus.saveIvfPqIndex(pqBuilt, storage, "pqidx",
      corpusVersion = storage.versions("pqvecs").last)
    storage.appendVersioned("pqvecs", e.filter(pct >= 90))
    val (_, tPqRefresh) = time {
      Corpus.refreshIvfPqIndex(storage, "pqidx", "pqvecs")
    }
    val pqLoaded = Corpus.loadIvfPqIndex(storage, "pqidx")
    val pqTotal = storage.readVersioned("pqvecs").count()
    require(pqLoaded.ann.lists.count() == pqTotal &&
      pqLoaded.codes.count() == pqTotal * graft.operators.Similarity.PqM,
      "refreshed IVF-PQ index must carry every vector exactly once")
    val (_, tPqRebuild) = time {
      val i = Corpus.buildIvfPqIndex(storage.readVersioned("pqvecs"))
      i.codes.count(); i.close()
    }
    println(f"ivfpq: build(180k)=$tPqBuild%6.1fs refresh(10%% delta)=" +
      f"$tPqRefresh%5.1fs full rebuild(200k)=$tPqRebuild%6.1fs")
    pqLoaded.close(); pqBuilt.close()
    spark.stop()
  }
}
