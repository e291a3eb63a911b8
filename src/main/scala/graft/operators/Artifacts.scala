package graft.operators

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** One named build-once relation over a corpus dir — trained centroids,
  * inverted lists, shingle/signature/candidate relations, BM25
  * postings, the tokenized corpus. Declared once with
  * [[Artifacts.declare]]; `artifact(session, dir)` serves the stored
  * frame, building it on first use.
  *
  * `build` is the UN-materialized relation — the same frame-parametric
  * function the public API calls, applied to the corpus at `dir`. The
  * store materializes it; calling `build` directly bypasses the store
  * (the parity spec compares the two for every declared artifact).
  */
private[graft] final class Artifact private[operators] (val name: String,
    val build: (SparkSession, String) => DataFrame) {
  def apply(session: SparkSession, dir: String): DataFrame =
    Artifacts.getOrBuild(this, session, dir)
}

/** The engine's one session-scoped artifact store, keyed by `(session,
  * corpus dir, artifact name)`. At 100 TB these artifacts are persisted
  * offline ONCE; within a suite/bench run this store is that
  * materialization. Stored frames are `localCheckpoint`ed — a
  * [[LogicalRDD]] leaf in every consumer's plan (a builder that already
  * returns a checkpoint, like [[GraphRank.pageRank]], is stored as is).
  *
  * Guarantees:
  *
  *  - the builder runs AT MOST ONCE per key — concurrent first access
  *    is serialized on a per-key lock, so a lost race can never orphan
  *    a `localCheckpoint`'s block-manager blocks;
  *  - entries whose owning session has stopped are purged on the next
  *    access of ANY key — their blocks died with the session's block
  *    manager, so dropping the map references is the whole cleanup —
  *    bounding growth across sessions in a long-lived JVM;
  *  - WITHIN a live session the store holds at most
  *    [[MaxEntriesPerSession]] artifacts, counted across every family,
  *    in least-recently-used order — a long-lived session cycling
  *    through many corpora no longer pins every index it ever built.
  *    Automatic LRU eviction drops only the MAP REFERENCE: a frame the
  *    store already handed out may still be mid-consumption, and a
  *    local checkpoint cannot recompute, so the blocks are left to the
  *    ContextCleaner (freed when the last reference to the checkpointed
  *    RDD is GC'd). Only the explicit verb ([[evictCorpus]], exposed as
  *    `graft.api.Corpus.evictCaches`) frees blocks eagerly — its caller
  *    contract is "this corpus is done".
  */
private[graft] object Artifacts {

  /** Per-session LRU bound over every artifact of every family. The
    * engine declares ~33 artifacts per corpus dir, so 64 holds every
    * family for about two concurrently-hot corpora while keeping a
    * corpus-cycling session's storage working set flat.
    */
  val MaxEntriesPerSession = 64

  private type Key = (SparkSession, String, String)

  private val declared = TrieMap.empty[String, Artifact]
  private val entries = TrieMap.empty[Key, DataFrame]
  private val locks = TrieMap.empty[Key, Object]
  // LRU clock: bump on every hit/build; evict the per-session minimum
  private val ticks = TrieMap.empty[Key, Long]
  private val clock = new AtomicLong(0L)

  /** Declare the artifact `name` (unique across the engine — a
    * duplicate fails here, at the declaring object's initialization).
    */
  def declare(name: String)(
      build: (SparkSession, String) => DataFrame): Artifact = {
    val a = new Artifact(name, build)
    require(declared.putIfAbsent(name, a).isEmpty,
      s"artifact name '$name' is already declared")
    a
  }

  /** Every artifact declared so far, by name. An owning object declares
    * its artifacts when it initializes.
    */
  def all: Seq[Artifact] = declared.values.toSeq.sortBy(_.name)

  private[operators] def getOrBuild(a: Artifact, session: SparkSession,
      dir: String): DataFrame = {
    purgeStopped()
    val key = (session, dir, a.name)
    val df = entries.get(key) match {
      case Some(v) =>
        // bump the LRU tick BEFORE returning: were it bumped after,
        // a concurrent insert's bound check could see this entry as
        // the per-session minimum and evict the frame just handed out
        ticks.put(key, clock.incrementAndGet()); v
      case None =>
        // TrieMap.getOrElseUpdate may build two lock Objects under a
        // race but returns the single winner to both threads, so both
        // synchronize on the same monitor and the builder (the
        // expensive, checkpointing one) runs exactly once.
        val lock = locks.getOrElseUpdate(key, new Object)
        lock.synchronized {
          val v = entries.getOrElseUpdate(key, materialize(a.build(session, dir)))
          ticks.put(key, clock.incrementAndGet())
          v
        }
    }
    boundSession(session)
    df
  }

  private def materialize(df: DataFrame): DataFrame =
    if (df.queryExecution.logical.isInstanceOf[LogicalRDD]) df
    else df.localCheckpoint()

  /** Retire a corpus: evict every artifact built for `(session, dir)`
    * and free its checkpoint blocks. Returns the number of artifacts
    * freed. Safe while other keys are being built; an evicted key
    * rebuilds on next use. (The caller contract: don't evict a corpus
    * another thread is actively serving — an already-handed-out
    * DataFrame dies with its blocks.)
    */
  def evictCorpus(session: SparkSession, dir: String): Int =
    entries.keysIterator.filter(k => (k._1 eq session) && k._2 == dir)
      .toSeq.count(evict(_, free = true))

  private def evict(k: Key, free: Boolean): Boolean =
    entries.remove(k).map { df =>
      locks.remove(k); ticks.remove(k)
      if (free && !k._1.sparkContext.isStopped) freeLocalCheckpoint(df)
    }.isDefined

  private def boundSession(s: SparkSession): Unit = {
    def own = entries.keysIterator.filter(_._1 eq s)
    while (own.size > MaxEntriesPerSession) {
      // AUTOMATIC eviction only drops the map reference — a caller the
      // store handed this frame to may still be consuming it (a local
      // checkpoint cannot recompute, so eager freeing would fail that
      // caller with missing blocks); the ContextCleaner reclaims the
      // blocks once the last reference is garbage-collected
      evict(own.minBy(k => ticks.getOrElse(k, 0L)), free = false)
    }
  }

  private def purgeStopped(): Unit =
    entries.keysIterator.foreach { k =>
      if (k._1.sparkContext.isStopped) evict(k, free = false)
    }

  /** Free the block-manager blocks behind a `localCheckpoint`ed
    * DataFrame: walk its logical plan for the [[LogicalRDD]] leaves a
    * checkpoint materializes into and unpersist their RDDs. After this
    * the DataFrame must not be used again (a local checkpoint cannot
    * recompute) — callers drop the reference in the same motion.
    * Non-blocking: block removal proceeds asynchronously.
    */
  def freeLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ =>
    }
}
