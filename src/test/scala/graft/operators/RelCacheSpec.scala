package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame

import graft.SparkTestBase

/** Lifetime guarantees of the session artifact store ([[Artifacts]]):
  * at-most-once builds, eager freeing on explicit eviction, and an LRU
  * bound that never frees a frame it handed out.
  */
class RelCacheSpec extends SparkTestBase {
  import RelCacheSpec.{builds, tiny}

  /** RDD ids currently persisted in the shared session's context. */
  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The persisted RDD ids backing a localCheckpointed frame. */
  private def idsOf(df: DataFrame): Set[Int] = {
    val ids = scala.collection.mutable.Set.empty[Int]
    df.queryExecution.logical.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => ids += l.rdd.id
      case _ =>
    }
    ids.toSet
  }

  test("an explicit evict frees the evicted entry's checkpoint blocks") {
    val before = builds.get
    val df = tiny(spark, "/corpus/a")
    val ids = idsOf(df)
    assert(ids.nonEmpty, "the store must localCheckpoint the build")
    assert(ids.subsetOf(persistedIds), "blocks live while stored")
    // a second access is a hit, not a rebuild
    tiny(spark, "/corpus/a")
    assert(builds.get == before + 1)
    assert(Artifacts.evictCorpus(spark, "/corpus/a") == 1)
    assert(ids.intersect(persistedIds).isEmpty,
      "eviction must unpersist the checkpointed RDD")
    // an evicted key rebuilds on next use
    tiny(spark, "/corpus/a")
    assert(builds.get == before + 2)
    Artifacts.evictCorpus(spark, "/corpus/a")
  }

  test("the per-session LRU bound evicts the least recently used entry without killing handed-out frames") {
    val dirs = (0 to Artifacts.MaxEntriesPerSession).map(i => s"/lru/$i")
    // fill the session to the bound: every older entry (other suites'
    // artifacts included) is now less recently used than these
    val frames = dirs.init.map(tiny(spark, _))
    // touch dirs(0) so dirs(1) is the LRU entry
    val before = builds.get
    tiny(spark, dirs(0))
    assert(builds.get == before, "dirs(0) is stored; the touch must be a hit")
    val last = tiny(spark, dirs.last)
    // automatic eviction drops only the map reference: the frame this
    // test still holds (standing in for a caller mid-consumption) must
    // stay usable — its blocks are the ContextCleaner's to reclaim
    val lru = frames(1)
    assert(idsOf(lru).subsetOf(persistedIds),
      "auto-LRU eviction must not eagerly free a possibly-in-use checkpoint")
    assert(lru.count() == dirs(1).length.toLong,
      "the handed-out frame must survive eviction")
    assert(idsOf(frames(0)).subsetOf(persistedIds) &&
      idsOf(last).subsetOf(persistedIds),
      "recently used entries keep their blocks")
    val afterFill = builds.get
    tiny(spark, dirs(0))
    assert(builds.get == afterFill, "the touched entry survived the bound")
    // dirs(1) rebuilds on next use (its reference left the store)
    tiny(spark, dirs(1))
    assert(builds.get == afterFill + 1)
    // the explicit verb DOES free eagerly — the caller-contract split
    Artifacts.evictCorpus(spark, dirs.last)
    assert(idsOf(last).intersect(persistedIds).isEmpty,
      "explicit eviction must free the evicted entry's blocks")
    dirs.foreach(Artifacts.evictCorpus(spark, _))
  }

  test("Corpus.evictCaches frees every artifact of a dir, not another dir's") {
    assert(graft.SparkEntry.queries.nonEmpty) // initializes every declaring operator object
    val keep = tiny(spark, "/corpus/y")
    val built = Artifacts.all.map(a => a.name -> idsOf(a(spark, sf0001)))
    assert(built.forall(_._2.nonEmpty), built)
    val ids = built.flatMap(_._2).toSet
    assert(ids.subsetOf(persistedIds), "blocks live while stored")
    assert(graft.api.Corpus.evictCaches(spark, sf0001) == built.size)
    assert(ids.intersect(persistedIds).isEmpty,
      "every artifact of the dir must be freed")
    assert(idsOf(keep).subsetOf(persistedIds),
      "another corpus's artifacts must survive")
    assert(graft.api.Corpus.evictCaches(spark, "/corpus/y") == 1)
    assert(idsOf(keep).intersect(persistedIds).isEmpty)
  }

  test("a duplicate artifact name is rejected at declaration") {
    assert(graft.SparkEntry.queries.nonEmpty)
    intercept[IllegalArgumentException] {
      Artifacts.declare("tokrel")((s, _) => s.range(1).toDF("x"))
    }
  }

  test("AnnIndex.close frees the handle's centroid and list blocks") {
    import spark.implicits._
    val vecs = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(j => ((i * 31 + j * 7) % 23 / 23.0f))))
      .toDF("vec_id", "embedding")
    val idx = graft.api.Corpus.buildAnnIndex(vecs)
    val ids = idsOf(idx.centroids) ++ idsOf(idx.lists)
    assert(ids.nonEmpty && ids.subsetOf(persistedIds))
    // the handle serves before close
    assert(idx.topK(vecs.filter($"vec_id" < 2), k = 3,
      excludeSelf = true).count() > 0)
    idx.close()
    assert(ids.intersect(persistedIds).isEmpty,
      "close() must unpersist the index artifacts")
  }
}

object RelCacheSpec {
  private[operators] val builds = new AtomicInteger

  /** A tiny artifact whose row count is its dir name's length. */
  private[operators] val tiny: Artifact = Artifacts.declare("spec.tiny") { (s, d) =>
    builds.incrementAndGet()
    s.range(d.length).toDF("x")
  }
}
