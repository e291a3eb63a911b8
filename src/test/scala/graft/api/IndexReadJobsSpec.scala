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
    // one more Spark job fails here
    assert(JobCount(spark)(Corpus.refreshAnnIndex(st, "idx", "vecs")) == 8)
    assert(JobCount(spark) { loaded = Corpus.loadAnnIndex(st, "idx") } == 3)
    servesDelta(loaded, delta)
    loaded.close()
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
