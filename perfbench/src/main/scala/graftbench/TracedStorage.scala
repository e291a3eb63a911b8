package graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.sources.{Storage, StoredFile, StorageInfo}

/** [[Storage]] with a span around each DFS verb the workloads reach,
  * directly or through the engine's index and sink verbs. Every
  * override delegates to the engine's implementation unchanged.
  *
  * A refresh fired from a streaming sink's batch hook cannot be wrapped
  * by the caller; it starts by reading the index pointer and ends by
  * committing a new one, so the last pointer read before each pointer
  * commit on the same thread bounds an `api.index_refresh` span.
  */
final class TracedStorage(spark: SparkSession, val warehouse: String,
    tr: Tracer, pointerTable: String = "") extends Storage(spark, warehouse) {

  val putBytes = new AtomicLong(0L)
  val putFiles = new AtomicLong(0L)
  val commits = new AtomicLong(0L)
  val commitRetries = new AtomicLong(0L)
  @volatile var watchRefreshes = false
  private val pointerRead = new ThreadLocal[java.lang.Long]

  private def sized(name: String): Unit = if (tr.enabled) {
    val p = new Path(warehouse, name)
    val s = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(p)
    putBytes.addAndGet(s.getLength)
    putFiles.addAndGet(s.getFileCount)
  }

  private def commit(name: String, verb: String)(f: => Long): Long =
    tr.span("sources", s"commit.$verb") {
      val before = if (tr.enabled) versions(name).lastOption.getOrElse(-1L) else 0L
      val v = f
      if (tr.enabled && v >= 0) {
        commits.incrementAndGet()
        // landing past before+1 means another writer committed between
        // this call's first manifest read and its publish
        if (before >= 0 && v > before + 1) commitRetries.incrementAndGet()
      }
      if (name == pointerTable) refreshEnded()
      v
    }

  private def refreshEnded(): Unit = {
    val start = pointerRead.get()
    if (watchRefreshes && start != null)
      tr.record("api", "index_refresh[sink hook]", start, tr.now())
    pointerRead.remove()
  }

  override def put(name: String, df: DataFrame, overwrite: Boolean): Unit =
    tr.span("sources", "put") { super.put(name, df, overwrite); sized(name) }

  override def putText(name: String, lines: Dataset[String],
      overwrite: Boolean): Unit =
    tr.span("sources", "putText") {
      super.putText(name, lines, overwrite); sized(name)
    }

  override def ls(): Seq[StoredFile] = tr.span("sources", "meta.ls")(super.ls())
  override def info(): StorageInfo = tr.span("sources", "meta.info")(super.info())
  override def delete(name: String): Boolean =
    tr.span("sources", "meta.delete")(super.delete(name))

  override def putVersioned(name: String, df: DataFrame,
      contentEqualTo: Option[Long]): Long =
    commit(name, "putVersioned")(super.putVersioned(name, df, contentEqualTo))

  override def appendVersioned(name: String, df: DataFrame,
      expectedVersion: Option[Long], allowSchemaEvolution: Boolean): Long =
    commit(name, "appendVersioned")(
      super.appendVersioned(name, df, expectedVersion, allowSchemaEvolution))

  override def appendVersionedOnto(name: String, df: DataFrame,
      baseVersion: Long, allowSchemaEvolution: Boolean): Long =
    commit(name, "appendVersionedOnto")(
      super.appendVersionedOnto(name, df, baseVersion, allowSchemaEvolution))

  override def appendBatchIdempotent(name: String, df: DataFrame,
      batchId: Long, writer: String, allowSchemaEvolution: Boolean): Option[Long] = {
    var out: Option[Long] = None
    commit(name, "appendBatch") {
      out = super.appendBatchIdempotent(name, df, batchId, writer,
        allowSchemaEvolution)
      out.getOrElse(-1L)
    }
    out
  }

  override def compactVersions(name: String, expectedVersion: Option[Long],
      writer: String, force: Boolean): Long =
    tr.span("sources", "compact")(
      super.compactVersions(name, expectedVersion, writer, force))

  override def vacuumVersions(name: String, keepLast: Int, writer: String,
      force: Boolean): (Int, Int) =
    tr.span("sources", "vacuum")(super.vacuumVersions(name, keepLast, writer, force))

  override def vacuumVersionsKeeping(name: String, keep: Set[Long],
      writer: String, force: Boolean): (Int, Int) =
    tr.span("sources", "vacuum")(
      super.vacuumVersionsKeeping(name, keep, writer, force))

  override def readVersioned(name: String, version: Long,
      mergeSchema: Boolean): DataFrame = {
    if (name == pointerTable && version < 0) pointerRead.set(tr.now())
    super.readVersioned(name, version, mergeSchema)
  }
}
