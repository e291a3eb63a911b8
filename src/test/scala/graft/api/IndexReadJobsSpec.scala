package graft.api

import java.nio.file.Files

import org.apache.spark.graftest.JobCount

import graft.SparkTestBase
import graft.sources.{Storage, VersionedFiles}

/** What resolving a persisted ANN index costs in Spark jobs. The
  * versioned tables record their schema in the manifest (`#schema=`),
  * so no read runs Spark's footer-reading inference job: what is left
  * is the one collect of the pointer row and the `localCheckpoint` of
  * each artifact table. A change that drops the header fails here
  * instead of silently adding one job (about 85 ms on 4 cores) per
  * versioned read.
  */
class IndexReadJobsSpec extends SparkTestBase {
  import spark.implicits._

  /** A corpus of 4/5 of the embeddings, an index saved over it, and
    * the last fifth left to append.
    */
  private def savedIndex(wh: String): (Storage, org.apache.spark.sql.DataFrame) = {
    val st = new Storage(spark, wh)
    val e = graft.sources.Tables.embeddings(spark, sf0001)
    val n = e.count()
    st.putVersioned("vecs", e.filter($"vec_id" < n * 4 / 5))
    val built = Corpus.buildAnnIndex(st.readVersioned("vecs"))
    Corpus.saveAnnIndex(built, st, "idx", corpusVersion = st.versions("vecs").last)
    built.close()
    (st, e.filter($"vec_id" >= n * 4 / 5))
  }

  /** Every delta vector is served back to itself at cosine 1. */
  private def servesDelta(idx: AnnIndex, delta: org.apache.spark.sql.DataFrame): Unit = {
    val q = delta.select($"vec_id", $"embedding")
    val self = idx.topK(q, k = 3).collect().filter(r => r.getLong(0) == r.getLong(2))
    assert(self.map(_.getLong(0)).sorted.toSeq ==
      q.select($"vec_id").as[Long].collect().sorted.toSeq)
    assert(self.forall(r => math.abs(r.getDouble(3) - 1.0) < 1e-6))
  }

  test("a saved ANN index resolves with no inference job: schema 0, load 3, describe 1") {
    val (st, delta) = savedIndex(Files.createTempDirectory("graft-jobs-").toString)
    assert(JobCount(spark)(st.readVersioned("idx__ann").schema) == 0)
    var loaded: AnnIndex = null
    // the pointer collect and the two artifact localCheckpoints
    assert(JobCount(spark) { loaded = Corpus.loadAnnIndex(st, "idx") } == 3)
    assert(JobCount(spark)(Corpus.describeIndexes(st).collect()) == 1)
    loaded.close()
    // a refresh appends onto the lists and the corpus: the header
    // rides every commit, so the refreshed index resolves as cheaply
    st.appendVersioned("vecs", delta)
    // the refresh is pinned too: a pointer read or write that costs
    // one more Spark job fails here (the delta's count is one job)
    assert(JobCount(spark)(Corpus.refreshAnnIndex(st, "idx", "vecs")) == 7)
    assert(JobCount(spark) { loaded = Corpus.loadAnnIndex(st, "idx") } == 3)
    servesDelta(loaded, delta)
    loaded.close()
  }

  test("every family's refresh, no-op refresh and load cost a pinned number of Spark jobs") {
    val st = new Storage(spark, Files.createTempDirectory("graft-jobs-fam-").toString)
    val e = graft.sources.Tables.embeddings(spark, sf0001)
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val ev = graft.sources.Tables.events(spark, sf0001)
    val (vCut, dCut, eCut) =
      (e.count() * 4 / 5, docs.count() * 4 / 5, ev.count() * 4 / 5)
    st.putVersioned("vecs", e.filter($"vec_id" < vCut))
    st.putVersioned("docs", docs.filter($"doc_id" < dCut))
    st.putVersioned("events", ev.filter($"event_id" < eCut))
    val (vv, dv) = (st.versions("vecs").last, st.versions("docs").last)
    val pq = Corpus.buildIvfPqIndex(st.readVersioned("vecs"))
    Corpus.saveIvfPqIndex(pq, st, "pq", corpusVersion = vv)
    val hy = Corpus.buildHybridIndex(st.readVersioned("docs"), st.readVersioned("vecs"))
    Corpus.saveHybridIndex(hy, st, "hy", vv, st.readVersioned("docs"), dv)
    val rm = Corpus.buildRankModel(st.readVersioned("docs"))
    Corpus.saveRankModel(rm, st, "tr", docsCorpusVersion = dv)
    Events.buildGrowthLedger(st, "events", "gl")
    pq.close(); hy.close(); rm.close()
    st.appendVersioned("vecs", e.filter($"vec_id" >= vCut))
    st.appendVersioned("docs", docs.filter($"doc_id" >= dCut))
    st.appendVersioned("events", ev.filter($"event_id" >= eCut))
    def loaded[H](load: => H)(close: H => Unit): Int = {
      var h = Option.empty[H]
      try JobCount(spark) { h = Some(load) } finally h.foreach(close)
    }
    val refreshes = Seq(
      "ivfpq" -> (() => Corpus.refreshIvfPqIndex(st, "pq", "vecs")),
      "hybrid" -> (() => Corpus.refreshHybridIndex(st, "hy", "docs", "vecs")),
      "rank" -> (() => Corpus.refreshRankModel(st, "tr", "docs")),
      "ledger" -> (() => Events.refreshGrowthLedger(st, "events", "gl")))
    val measured = refreshes.map { case (f, r) => s"$f refresh" -> JobCount(spark)(r()) } ++
      refreshes.map { case (f, r) => s"$f no-op refresh" -> JobCount(spark)(r()) } ++ Seq(
        "ivfpq load" -> loaded(Corpus.loadIvfPqIndex(st, "pq"))(_.close()),
        "hybrid load" -> loaded(Corpus.loadHybridIndex(st, "hy"))(_.close()),
        "rank load" -> loaded(Corpus.loadRankModel(st, "tr"))(_.close()),
        "ledger read" -> JobCount(spark)(Events.readGrowthLedger(st, "gl")))
    // refresh: the pointer collect, the delta localCheckpoint and its
    // one-job count, then each family's fold; no-op: the pointer collect
    // (hybrid adds its dense arm's); load: the pointer collect(s) and
    // one localCheckpoint per arm
    assert(measured.toMap == Map(
      "ivfpq refresh" -> 11, "hybrid refresh" -> 15, "rank refresh" -> 41,
      "ledger refresh" -> 25, "ivfpq no-op refresh" -> 1,
      "hybrid no-op refresh" -> 2, "rank no-op refresh" -> 1,
      "ledger no-op refresh" -> 1, "ivfpq load" -> 6, "hybrid load" -> 5,
      "rank load" -> 3, "ledger read" -> 1))
  }

  test("an index saved before manifests recorded schemas still loads, refreshes and serves") {
    val wh = Files.createTempDirectory("graft-jobs-old-").toString
    val (st, delta) = savedIndex(wh)
    VersionedFiles.stripAllSchemas(wh)
    assert(JobCount(spark)(st.readVersioned("idx__ann").schema) == 1,
      "a header-less pointer infers its schema")
    st.appendVersioned("vecs", delta)
    Corpus.refreshAnnIndex(st, "idx", "vecs")
    val loaded = Corpus.loadAnnIndex(st, "idx")
    servesDelta(loaded, delta)
    assert(Corpus.describeIndexes(st, Map("idx" -> "vecs"))
      .filter($"role" === "corpus").select($"lag").as[Long].collect().toSeq == Seq(0L))
    loaded.close()
  }
}
