package graft.api

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkTestBase
import graft.sources.Storage

/** The pointer layout of every persisted family, pinned from outside:
  * the exact `describeIndexes` rows each family reports, and the exact
  * column names and order of each pointer table, through save, refresh
  * and compaction. A warehouse written by an older release must keep
  * loading, so these are literal lists, not derived from the code
  * under test.
  */
class IndexLayoutSpec extends SparkTestBase {
  import spark.implicits._

  private val NsPerDay = 86400L * 1000000000L

  private def events(rows: Seq[(Long, Long)]): DataFrame =
    rows.zipWithIndex.map { case ((u, day), i) =>
      (u, day * NsPerDay + u * 1000L + i, i.toLong)
    }.toDF("user_id", "ts_ns", "event_id")

  private val AnnCols = Seq("centroids_version", "lists_version",
    "corpus_version", "stale_rows")
  private val PointerCols = Map(
    "lann__ann" -> AnnCols,
    "lhyb__hybrid" -> Seq("postings_version", "dense_version",
      "lexdf_version", "docs_version", "n_docs", "sum_dl", "stale_docs"),
    "lhyb__dense__ann" -> AnnCols,
    "lpq__ivfpq" -> Seq("coarse_version", "codebooks_version",
      "codes_version", "corpus_version", "stale_rows"),
    "lpq__coarse__ann" -> AnnCols,
    "lpmb__pmb" -> Seq("fps_version", "index_version", "docs_version",
      "vectors_version"),
    "lpmb__index__ann" -> AnnCols,
    "ltok__tok" -> Seq("merges_version", "vocab_version"),
    "ltr__tr" -> Seq("pairs_version", "ranks_version", "docs_version"),
    "lgl__gl" -> Seq("act_version", "ledger_version", "events_version"))

  private val CorpusMap = Map("lann" -> "lvecs", "lhyb" -> "lvecs",
    "lhyb/docs" -> "ldocs", "lpq" -> "lvecs", "lpmb/docs" -> "ldocs",
    "lpmb/vectors" -> "lvecs", "ltr" -> "ldocs", "lgl" -> "lev")

  /** (index_name, family, role, ref_table, pinned_version, stale_rows) */
  private type Described = (String, String, String, String, Option[Long], Option[Long])

  private def described(st: Storage): Seq[Described] =
    Corpus.describeIndexes(st, CorpusMap).collect().toSeq.map { r =>
      (r.getString(0), r.getString(1), r.getString(3), r.getString(4),
        Option(r.get(5)).map(_.asInstanceOf[Long]),
        Option(r.get(9)).map(_.asInstanceOf[Long]))
    }

  private def assertPointerSchemas(st: Storage, phase: String): Unit =
    PointerCols.foreach { case (t, cols) =>
      assert(st.readVersioned(t).columns.toSeq == cols,
        s"$phase: pointer '$t' columns")
    }

  test("seven families through save, refresh and compact: describeIndexes row for row, pointer schemas column for column") {
    val st = new Storage(spark,
      Files.createTempDirectory("graft-layout-").toString)
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val e = graft.sources.Tables.embeddings(spark, sf0001)
    val cut = docs.count() * 4 / 5
    st.putVersioned("ldocs", docs.filter($"doc_id" < cut))
    st.putVersioned("lvecs", e.filter($"vec_id" < cut))
    st.putVersioned("lev", events(Seq((1L, 10L), (1L, 11L), (2L, 11L))))
    def d = st.readVersioned("ldocs")
    def v = st.readVersioned("lvecs")
    val ann = Corpus.buildAnnIndex(v)
    Corpus.saveAnnIndex(ann, st, "lann", corpusVersion = 1L)
    val hyb = Corpus.buildHybridIndex(d, v)
    Corpus.saveHybridIndex(hyb, st, "lhyb", vectorsCorpusVersion = 1L,
      docs = d, docsCorpusVersion = 1L)
    val pq = Corpus.buildIvfPqIndex(v)
    Corpus.saveIvfPqIndex(pq, st, "lpq", corpusVersion = 1L)
    val pmb = Corpus.buildPairMiningBase(d, v)
    Corpus.savePairMiningBase(pmb, st, "lpmb", docsVersion = 1L,
      vectorsVersion = 1L)
    val tok = Corpus.buildTokenizer(d, n = 10)
    Corpus.saveTokenizer(tok, st, "ltok")
    val tr = Corpus.buildRankModel(d)
    Corpus.saveRankModel(tr, st, "ltr", docsCorpusVersion = 1L)
    Events.buildGrowthLedger(st, "lev", "lgl")

    // one row per arm and consumed corpus, in today's order: families by
    // pointer-table name, nested ann arms under their parent
    def expected(p: Long, acc: Long, nested: Long, consumed: Long,
        stale: Long, staleDocs: Long, pmbStale: Long): Seq[Described] = {
      val s = Some(stale)
      Seq(
        ("lann", "ann", "centroids", "lann__centroids", Some(1L), None),
        ("lann", "ann", "lists", "lann__lists", Some(acc), s),
        ("lann", "ann", "corpus", "lvecs", Some(consumed), None),
        ("lgl", "ledger", "activity", "lgl__act", Some(p), None),
        ("lgl", "ledger", "ledger", "lgl__ledger", Some(p), None),
        ("lgl", "ledger", "events", "lev", Some(p), None),
        ("lhyb", "hybrid", "postings", "lhyb__postings", Some(acc), None),
        ("lhyb", "hybrid", "dense", "lhyb__dense__ann", Some(nested), None),
        ("lhyb", "hybrid", "dense.centroids", "lhyb__dense__centroids",
          Some(1L), None),
        ("lhyb", "hybrid", "dense.lists", "lhyb__dense__lists", Some(acc), s),
        ("lhyb", "hybrid", "corpus", "lvecs", Some(consumed), None),
        ("lhyb", "hybrid", "lexstats", "lhyb__lexdf", Some(1L),
          Some(staleDocs)),
        ("lhyb", "hybrid", "docs", "ldocs", Some(consumed), None),
        ("lpmb", "pmb", "fps", "lpmb__fps", Some(acc), None),
        ("lpmb", "pmb", "index", "lpmb__index__ann", Some(nested), None),
        ("lpmb", "pmb", "index.centroids", "lpmb__index__centroids",
          Some(1L), None),
        ("lpmb", "pmb", "index.lists", "lpmb__index__lists", Some(acc),
          Some(pmbStale)),
        ("lpmb", "pmb", "docs", "ldocs", Some(consumed), None),
        ("lpmb", "pmb", "vectors", "lvecs", Some(consumed), None),
        ("lpq", "ivfpq", "codebooks", "lpq__codebooks", Some(1L), None),
        ("lpq", "ivfpq", "codes", "lpq__codes", Some(acc), s),
        ("lpq", "ivfpq", "coarse", "lpq__coarse__ann", Some(nested), None),
        ("lpq", "ivfpq", "coarse.centroids", "lpq__coarse__centroids",
          Some(1L), None),
        ("lpq", "ivfpq", "coarse.lists", "lpq__coarse__lists", Some(acc), s),
        ("lpq", "ivfpq", "corpus", "lvecs", Some(consumed), None),
        ("ltok", "tok", "merges", "ltok__merges", Some(1L), None),
        ("ltok", "tok", "vocab", "ltok__vocab", Some(1L), None),
        ("ltr", "textrank", "pairs", "ltr__pairs", Some(p), None),
        ("ltr", "textrank", "ranks", "ltr__ranks", Some(p), None),
        ("ltr", "textrank", "docs", "ldocs", Some(p), None))
    }
    assert(described(st) == expected(1L, 1L, 1L, 1L, 0L, 0L, 0L))
    assertPointerSchemas(st, "save")

    // one night: every corpus advances, every refreshable family folds it
    st.appendVersioned("ldocs", docs.filter($"doc_id" >= cut))
    st.appendVersioned("lvecs", e.filter($"vec_id" >= cut))
    st.appendVersioned("lev", events(Seq((1L, 13L), (3L, 13L))))
    Corpus.refreshAnnIndex(st, "lann", "lvecs")
    Corpus.refreshHybridIndex(st, "lhyb", "ldocs", "lvecs")
    Corpus.refreshIvfPqIndex(st, "lpq", "lvecs")
    Corpus.refreshPairMiningBase(st, "lpmb", "ldocs", "lvecs")
    Corpus.refreshRankModel(st, "ltr", "ldocs")
    Events.refreshGrowthLedger(st, "lev", "lgl")
    val nVecs = e.filter($"vec_id" >= cut).count()
    val nDocs = docs.filter($"doc_id" >= cut).count()
    // the pair-mining base indexes only the delta's QA survivors
    val nKept = st.readVersioned("lpmb__index__lists", 2L).count() -
      st.readVersioned("lpmb__index__lists", 1L).count()
    assert(nVecs > 0 && nDocs > 0 && nKept > 0)
    val refreshed = expected(2L, 2L, 2L, 2L, nVecs, nDocs, nKept)
    assert(described(st) == refreshed)
    assertPointerSchemas(st, "refresh")

    // compaction re-snapshots every accreting arm and nested ann family:
    // only those pins move
    Corpus.compactAnnIndex(st, "lann")
    Corpus.compactHybridIndex(st, "lhyb")
    Corpus.compactIvfPqIndex(st, "lpq")
    Corpus.compactPairMiningBase(st, "lpmb")
    assert(described(st) == expected(2L, 3L, 3L, 2L, nVecs, nDocs, nKept))
    assertPointerSchemas(st, "compact")
    ann.close(); hyb.close(); pq.close(); pmb.close(); tok.close(); tr.close()
  }

  test("an ann or ivfpq pointer saved before stale_rows existed reports null drift and compacts to stale_rows 0") {
    val st = new Storage(spark,
      Files.createTempDirectory("graft-legacy-").toString)
    val e = graft.sources.Tables.embeddings(spark, sf0001)
    st.putVersioned("vecs", e)
    val ann = Corpus.buildAnnIndex(e)
    Corpus.saveAnnIndex(ann, st, "old", corpusVersion = 1L)
    val pq = Corpus.buildIvfPqIndex(e)
    Corpus.saveIvfPqIndex(pq, st, "oldpq", corpusVersion = 1L)
    // a pointer version written before the drift column existed
    Seq("old__ann", "oldpq__ivfpq").foreach { t =>
      st.putVersioned(t, st.readVersioned(t).drop("stale_rows"))
    }
    def stale(idx: String, role: String): Seq[Option[Long]] =
      Corpus.describeIndexes(st).collect().toSeq
        .filter(r => r.getString(0) == idx && r.getString(3) == role)
        .map(r => Option(r.get(9)).map(_.asInstanceOf[Long]))
    assert(stale("old", "lists") == Seq(None),
      "a legacy pointer must report unknown drift, not a fresh zero")
    assert(stale("oldpq", "codes") == Seq(None))
    Corpus.compactAnnIndex(st, "old")
    Corpus.compactIvfPqIndex(st, "oldpq")
    def ptr(t: String): Row = st.readVersioned(t).collect().head
    assert(ptr("old__ann").schema.fieldNames.toSeq == AnnCols)
    assert(ptr("old__ann").getAs[Long]("stale_rows") == 0L)
    assert(ptr("oldpq__ivfpq").schema.fieldNames.toSeq ==
      PointerCols("lpq__ivfpq"))
    assert(ptr("oldpq__ivfpq").getAs[Long]("stale_rows") == 0L)
    assert(stale("old", "lists") == Seq(Some(0L)))
    assert(stale("oldpq", "codes") == Seq(Some(0L)))
    ann.close(); pq.close()
  }
}
