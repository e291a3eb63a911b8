package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The reference's storage verbs (SURVEY.md §2a: put/get/delete/ls/info,
  * `dfs/client/client.go:767-823`) over a warehouse directory.
  *
  * Chunking, 3× replication, placement, pipeline forwarding, checksums
  * and corrupt-chunk repair (`dfs/client/client.go:335-459`,
  * `dfs/node/node.go:446-491`) are the filesystem's job in this design:
  * parquet/text writes split into per-partition files (the chunk
  * analogue), HDFS replicates, and parquet pages carry CRCs. What
  * remains engine-level is the verb surface + the metadata catalog, kept
  * here as one directory per stored name (mirroring the controller's
  * `fileToChunkToNodesIndex`, `dfs/controller/controller.go:677-700`).
  */
/** Thrown when a versioned-table commit loses the manifest CAS to a
  * concurrent writer — the retryable condition (re-read, re-derive,
  * re-commit), as distinct from every other `IllegalStateException`
  * a commit can raise. Retry loops match on THIS type, never on
  * message text.
  */
final class ConcurrentCommitException(msg: String)
  extends IllegalStateException(msg)

/** Not `final`: specs subclass it to inject faults into composed
  * operations (e.g. a maintenance verb that throws mid-stream) — the
  * only sanctioned reason to override anything here.
  */
class Storage(spark: SparkSession, warehouse: String) {

  private def fs: FileSystem =
    new Path(warehouse).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Stored names are flat identifiers: the sidecar scheme
    * (`.meta_<name>`), `pathOf`, and the SQL statements in the bucketed
    * verbs all assume no path separators or SQL metacharacters. Reject
    * anything else up front (every verb funnels through here).
    */
  private val NamePattern = "[A-Za-z0-9_][A-Za-z0-9_.-]*".r
  private def checkName(name: String): String = name match {
    case NamePattern() => name
    case _ => throw new IllegalArgumentException(
      s"invalid stored name '$name': must match ${NamePattern.regex}")
  }

  private def pathOf(name: String): Path =
    new Path(warehouse, checkName(name))

  private def metaOf(name: String): Path =
    new Path(warehouse, s".meta_${checkName(name)}")

  /** Every put verb clears any stale format sidecar left by an earlier
    * putAs under the same name — otherwise getAs would read the fresh
    * data with the old format.
    */
  private def dropMeta(name: String): Unit = {
    val meta = metaOf(name)
    if (fs.exists(meta)) fs.delete(meta, false)
  }

  /** put (S2/S3/S4): persist a DataFrame as parquet under `name`.
    * Like the reference's put (`dfs/controller/controller.go:64-77`),
    * refuses to overwrite an existing name unless told to.
    */
  def put(name: String, df: DataFrame, overwrite: Boolean = false): Unit = {
    if (!overwrite && exists(name))
      throw new IllegalArgumentException(
        s"file with name $name already stored; delete it first")
    df.write.mode(if (overwrite) SaveMode.Overwrite else SaveMode.ErrorIfExists)
      .parquet(pathOf(name).toString)
    dropMeta(name)
  }

  /** put for line-oriented text (the reference's primary layout, S3). */
  def putText(name: String, lines: Dataset[String],
      overwrite: Boolean = false): Unit = {
    if (!overwrite && exists(name))
      throw new IllegalArgumentException(
        s"file with name $name already stored; delete it first")
    lines.write.mode(if (overwrite) SaveMode.Overwrite else SaveMode.ErrorIfExists)
      .text(pathOf(name).toString)
    dropMeta(name)
  }

  /** put with hash bucketing: pre-shuffles and sorts by `bucketCols`
    * into `numBuckets` files per partition, registered as an external
    * table at the warehouse path. Two tables bucketed identically on
    * their join key co-locate: the join plans with NO Exchange — the
    * 100 TB answer to "don't shuffle the fact table every query".
    */
  def putBucketed(name: String, df: DataFrame, numBuckets: Int,
      bucketCols: Seq[String], overwrite: Boolean = false): Unit = {
    checkName(name)
    if (overwrite) {
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      delete(name)
    } else if (exists(name))
      throw new IllegalArgumentException(
        s"file with name $name already stored; delete it first")
    df.write
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .option("path", pathOf(name).toString)
      .format("parquet")
      .saveAsTable(name)
  }

  /** Read a bucketed table (bucket metadata lives in the catalog, so the
    * catalog table — not the bare path — is what preserves co-location).
    */
  def getBucketed(name: String): DataFrame = spark.table(name)

  /** put with hive-style directory partitioning: queries filtering on
    * the partition columns scan only the matching directories (partition
    * pruning — `PartitionFilters` in the scan, zero I/O for pruned
    * partitions). The data-lake layout for 100 TB fact tables.
    */
  def putPartitioned(name: String, df: DataFrame, partitionCols: Seq[String],
      overwrite: Boolean = false): Unit = {
    if (!overwrite && exists(name))
      throw new IllegalArgumentException(
        s"file with name $name already stored; delete it first")
    df.write.mode(if (overwrite) SaveMode.Overwrite else SaveMode.ErrorIfExists)
      .partitionBy(partitionCols: _*)
      .parquet(pathOf(name).toString)
    dropMeta(name)
  }

  /** put with range-clustering: rows are range-partitioned on
    * `clusterCols` into `numFiles` files and sorted within each, so
    * every file covers a disjoint key range and parquet's row-group
    * min/max stats turn predicates on those columns into file/row-group
    * skipping — the sort-based half of the data-layout story
    * ([[putPartitioned]] being the directory half). The 100 TB use:
    * cluster the fact table on its hottest filter key; scans with a
    * range predicate touch only the files whose stats overlap it.
    */
  def putClustered(name: String, df: DataFrame, clusterCols: Seq[String],
      numFiles: Int, overwrite: Boolean = false): Unit = {
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    val cols = clusterCols.map(df.col)
    put(name,
      df.repartitionByRange(numFiles, cols: _*)
        .sortWithinPartitions(cols: _*),
      overwrite)
  }

  /** put with Z-ORDER clustering on two numeric columns: each column is
    * min/max-normalized to 16 bits and the bits interleaved into a
    * Morton key; range-partitioning + in-file sorting on that key makes
    * every file cover a compact hyper-rectangle in (col1, col2) space,
    * so parquet min/max stats skip files for predicates on EITHER
    * column — the multi-dimensional layout [[putClustered]]'s
    * single-key range clustering can't give (it skips on its leading
    * key only). The standard lakehouse answer to "this 100 TB table is
    * filtered by two different keys on different queries".
    *
    * The normalization bounds come from one tiny (4-value) aggregate
    * broadcast into the write — computed distributed, never collected.
    * Constant columns normalize to bucket 0 (degenerate but harmless).
    * The Morton key is pure bit arithmetic on Catalyst built-ins —
    * codegen'd, no UDF.
    */
  def putZOrdered(name: String, df: DataFrame, col1: String, col2: String,
      numFiles: Int, overwrite: Boolean = false): Unit = {
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    import org.apache.spark.sql.functions._
    val stats = df.agg(
      min(col(col1)).cast("double").as("__mn1"),
      max(col(col1)).cast("double").as("__mx1"),
      min(col(col2)).cast("double").as("__mn2"),
      max(col(col2)).cast("double").as("__mx2"))
    def norm16(c: String, mn: org.apache.spark.sql.Column,
        mx: org.apache.spark.sql.Column) =
      when(mx > mn,
        floor((col(c).cast("double") - mn) / (mx - mn) * 65535.0)
          .cast("long"))
        .otherwise(0L)
    def interleave(a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column) =
      (0 until 16).map { i =>
        shiftleft(shiftrightunsigned(a, i).bitwiseAND(lit(1L)), 2 * i)
          .bitwiseOR(
            shiftleft(shiftrightunsigned(b, i).bitwiseAND(lit(1L)),
              2 * i + 1))
      }.reduce(_ bitwiseOR _)
    val z = interleave(
      norm16(col1, col("__mn1"), col("__mx1")),
      norm16(col2, col("__mn2"), col("__mx2")))
    put(name,
      df.crossJoin(broadcast(stats))
        .withColumn("__z", z)
        .drop("__mn1", "__mx1", "__mn2", "__mx2")
        .repartitionByRange(numFiles, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z"),
      overwrite)
  }

  /** Rewrite a stored parquet name into files of ~`targetFileBytes`
    * (the small-files compaction every long-lived 100 TB table needs:
    * streaming ingest and fine-grained partitions accrete kilobyte
    * files whose per-file open/footer cost comes to dominate scans —
    * the same knob the reference exposes as its cluster-wide 15 MB
    * `chunk_size`, `dfs/scripts/start-cluster.sh:5`). File count is
    * sized from the CURRENT stored bytes, the rewrite goes to a hidden
    * temp dir, and the swap is two filesystem renames — a concurrent
    * reader sees the old layout, a brief absence, or the new layout,
    * never a half-written mix (a failed swap rolls the first rename
    * back). Refuses bucketed names (their file layout IS the bucket
    * metadata), hive-partitioned trees (compact within partitions
    * instead), and non-parquet sidecar formats. A [[putClustered]]
    * name compacts but loses its range clustering — re-cluster with
    * putClustered if the sort layout matters.
    *
    * @return the number of data files after compaction (markers like
    *         `_SUCCESS` excluded).
    */
  def compact(name: String, targetFileBytes: Long = 128L << 20): Long = {
    require(targetFileBytes > 0,
      s"targetFileBytes must be positive, got $targetFileBytes")
    if (!exists(name))
      throw new IllegalArgumentException(s"no stored name '$name'")
    // tableExists alone also matches temp views; only a persistent
    // catalog table means the name was written bucketed
    if (spark.catalog.tableExists(checkName(name)) &&
        spark.catalog.getTable(name).tableType != "TEMPORARY")
      throw new IllegalArgumentException(
        s"'$name' is a bucketed table; compacting would drop its bucket layout")
    if (fs.exists(metaOf(name)))
      throw new IllegalArgumentException(
        s"'$name' has a non-parquet sidecar format; compact supports parquet puts")
    // a hive-partitioned tree (putPartitioned) shows as subdirectories;
    // a flat rewrite would silently destroy its partition pruning
    if (fs.listStatus(pathOf(name)).exists(_.isDirectory))
      throw new IllegalArgumentException(
        s"'$name' is hive-partitioned; compact within partitions instead " +
          "of flattening the layout")
    val bytes = fs.getContentSummary(pathOf(name)).getLength
    val nFiles = math.min(Int.MaxValue.toLong,
      math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes))
    val tmp = new Path(warehouse, s".compact_tmp_$name")
    fs.delete(tmp, true)
    get(name).repartition(nFiles.toInt).write.parquet(tmp.toString)
    swapInto(name, tmp)
    fs.listStatus(pathOf(name))
      .count(st => st.isFile && st.getPath.getName.startsWith("part-")).toLong
  }

  /** Two-rename atomic swap of a fully-written `tmp` dir into `name`:
    * a concurrent reader sees the old layout, a brief absence, or the
    * new layout, never a half-written mix (a failed second rename rolls
    * the first back). Shared by [[compact]] and [[upsert]].
    */
  private def swapInto(name: String, tmp: Path): Unit = {
    val old = new Path(warehouse, s".swap_old_$name")
    fs.delete(old, true)
    if (!fs.rename(pathOf(name), old))
      throw new IllegalStateException(s"swap failed for '$name'")
    if (!fs.rename(tmp, pathOf(name))) {
      // roll the first rename back so the stored name never vanishes
      fs.rename(old, pathOf(name))
      throw new IllegalStateException(s"swap failed for '$name'")
    }
    fs.delete(old, true)
  }

  /** MERGE-style upsert: apply a changelog frame to a stored parquet
    * snapshot, keeping ONE row per `key` — the lexicographic max over
    * `orderCols` (put the version/event-time columns first; ties fall
    * through to the remaining payload columns, so include a unique
    * version for full determinism). Rows whose key is absent from the
    * changelog survive unchanged; new keys insert; no tombstones (model
    * deletes as a payload flag and filter on read). The compaction is
    * [[graft.streaming.EventStreams.latestByKey]] — one shuffle on the
    * key, map-side partial max, so the rewrite cost is the snapshot
    * scan + one keyed exchange regardless of changelog length. The
    * rewrite lands in a temp dir and swaps in atomically like
    * [[compact]] (same layout restrictions: flat parquet names only).
    */
  def upsert(name: String, updates: DataFrame, key: String,
      orderCols: Seq[String]): Unit = {
    if (!exists(name))
      throw new IllegalArgumentException(s"no stored name '$name'")
    if (spark.catalog.tableExists(checkName(name)) &&
        spark.catalog.getTable(name).tableType != "TEMPORARY")
      throw new IllegalArgumentException(
        s"'$name' is a bucketed table; upsert would drop its bucket layout")
    if (fs.exists(metaOf(name)))
      throw new IllegalArgumentException(
        s"'$name' has a non-parquet sidecar format; upsert supports parquet puts")
    if (fs.listStatus(pathOf(name)).exists(_.isDirectory))
      throw new IllegalArgumentException(
        s"'$name' is hive-partitioned; upsert per partition instead")
    val current = get(name)
    val carried = current.columns.filterNot(_ == key).toSeq
    require(orderCols.nonEmpty && orderCols.forall(carried.contains),
      s"orderCols must be non-key columns of '$name', got $orderCols")
    // orderCols lead the struct; every other column rides along (and
    // breaks any remaining ties deterministically)
    val cols = orderCols ++ carried.filterNot(orderCols.contains)
    val merged = graft.streaming.EventStreams.latestByKey(
      current.unionByName(updates.select(current.columns.toIndexedSeq.map(updates.col): _*)),
      key, cols)
    val tmp = new Path(warehouse, s".upsert_tmp_$name")
    fs.delete(tmp, true)
    merged.select(current.columns.toIndexedSeq.map(merged.col): _*)
      .write.parquet(tmp.toString)
    swapInto(name, tmp)
  }

  /** Format-parameterized put/get (the reference stores text and binary;
    * the engine speaks parquet/csv/json/text — format is a property of
    * the stored name, recorded in a sidecar like the node's
    * `meta_<chunk>` files, `dfs/node/node.go:148-174`).
    */
  def putAs(name: String, df: DataFrame, format: String,
      overwrite: Boolean = false): Unit = {
    if (!overwrite && exists(name))
      throw new IllegalArgumentException(
        s"file with name $name already stored; delete it first")
    val w = df.write.mode(if (overwrite) SaveMode.Overwrite else SaveMode.ErrorIfExists)
    (format match {
      case "csv" => w.option("header", "true")
      case _ => w
    }).format(format).save(pathOf(name).toString)
    val out = fs.create(metaOf(name), true)
    out.write(format.getBytes("UTF-8"))
    out.close()
  }

  def getAs(name: String): DataFrame = {
    val meta = metaOf(name)
    val format =
      if (fs.exists(meta)) {
        val in = fs.open(meta)
        val s = new String(in.readAllBytes(), "UTF-8").trim
        in.close(); s
      } else "parquet"
    val r = spark.read
    (format match {
      case "csv" => r.option("header", "true").option("inferSchema", "true")
      case _ => r
    }).format(format).load(pathOf(name).toString)
  }

  /** put for an OPAQUE BINARY file (S2's raw-byte arm): store arbitrary
    * bytes under `name` — the reference round-trips any local file by
    * byte-chunking it (`dfs/client/client.go:335-384`, reassembly at
    * `client.go:586-632`); here the bytes stream through one
    * `FileSystem.create` (chunking/replication are the FS's, as with
    * every other put) into a `blob` file inside the name's directory,
    * so ls/info/delete see the usual layout. A `binaryFile` sidecar
    * records the format, so [[getAs]] reads it back through Spark's
    * binaryFile source instead of trying parquet.
    */
  def putBytes(name: String, bytes: Array[Byte],
      overwrite: Boolean = false): Unit = {
    if (!overwrite && exists(name))
      throw new IllegalArgumentException(
        s"file with name $name already stored; delete it first")
    val dir = pathOf(name)
    if (overwrite) fs.delete(dir, true)
    fs.mkdirs(dir)
    val out = fs.create(new Path(dir, "blob"), true)
    try out.write(bytes) finally out.close()
    val m = fs.create(metaOf(name), true)
    try m.write("binaryFile".getBytes("UTF-8")) finally m.close()
  }

  /** Distributed face of a stored binary name: the `binaryFile` source's
    * `(path, modificationTime, length, content)` row(s) — what a plan
    * joins/maps over (e.g. the [[graft.operators.Multimodal]] decoders).
    */
  def getBinary(name: String): DataFrame =
    spark.read.format("binaryFile").load(pathOf(name).toString)

  /** Driver-side reassembly of a stored binary name (the reference's
    * `get` writes the file back to the client's disk): the raw bytes,
    * exactly as put.
    */
  def getBytes(name: String): Array[Byte] = {
    val in = fs.open(new Path(pathOf(name), "blob"))
    try in.readAllBytes() finally in.close()
  }

  /** get (S5): parallel split-read of a stored name. */
  def get(name: String): DataFrame =
    spark.read.parquet(pathOf(name).toString)

  def getText(name: String): Dataset[String] = {
    import spark.implicits._
    spark.read.textFile(pathOf(name).toString)
  }

  /** delete (S6): drop the stored name (and its format sidecar, so a
    * later re-put under the same name is not read with a stale format);
    * true iff it existed.
    */
  // --------------------------------------------------- versioned tables

  private def vtRoot(name: String): Path =
    new Path(warehouse, s".vt_${checkName(name)}")
  private def vtManifests(name: String): Path =
    new Path(vtRoot(name), "manifests")
  private def vtManifest(name: String, v: Long): Path =
    new Path(vtManifests(name), f"v$v%06d.manifest")
  private val VtManifestName = "v(\\d+)\\.manifest".r

  /** Committed versions of a versioned table, ascending (empty if the
    * name has never been committed).
    */
  def versions(name: String): Seq[Long] =
    if (!fs.exists(vtManifests(name))) Seq.empty
    else fs.listStatus(vtManifests(name)).toIndexedSeq
      .map(_.getPath.getName)
      .collect { case VtManifestName(v) => v.toLong }
      .sorted

  private def manifestLines(name: String, v: Long): Seq[String] = {
    val in = fs.open(vtManifest(name, v))
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  /** The data directories of manifest `v` — `#`-prefixed header lines
    * (manifest metadata, e.g. the high-water batch id) are not dirs.
    */
  private def readManifest(name: String, v: Long): Seq[String] =
    dirsOf(manifestLines(name, v))

  private def dirsOf(lines: Seq[String]): Seq[String] =
    lines.filterNot(_.startsWith("#"))

  private val HwHeader = "#hw=(-?\\d+)".r
  private val EpochHeader = "#epoch=(\\d+)".r
  private val WriterHeader = "#writer=(.+)".r
  private val BaseHeader = "#base=(\\d+)".r
  private val SchemaHeader = "#schema=(.+)".r
  private val BatchDirName = "data/b(\\d+)".r
  private val EpochBatchDirName = "data/e(\\d+)b(\\d+)".r

  /** The commit-protocol metadata a manifest carries in its `#`-header
    * lines, parsed once per manifest read:
    *
    *  - `hw` — the high-water streaming batch id: the largest batch id
    *    ever committed in the CURRENT writer epoch, carried
    *    monotonically by every commit (append, re-snapshot, rollback,
    *    compaction), so "has batch N committed?" survives any manifest
    *    rewrite that drops the per-batch data lines. -1 when no batch
    *    has committed this epoch. For pre-header manifests the
    *    `data/b<id>` lines themselves are the witness, folded in here.
    *  - `epoch` — the writer-epoch counter, bumped only by
    *    [[takeOverVersioned]]. Epoch `e > 0` names its batch dirs
    *    `data/e<e>b<id>` so a new writer's batch-id space (fresh
    *    checkpoints restart at 0) never collides with a previous
    *    stream's committed directories. 0 = the original epoch.
    *  - `writer` — the owning stream's identity token (the checkpoint
    *    location, via [[graft.streaming.Sinks]]). None = unfenced.
    *  - `base` — for CONTENT-EQUAL commits (compaction, rollback): the
    *    committed version this snapshot's ROWS equal, even though its
    *    directory list was re-packed. What lets [[readVersionedSince]]
    *    compute an exact delta ACROSS a compaction instead of refusing:
    *    delta(after → this) = delta(after → base).
    *  - `schema` — the snapshot's schema as the parquet reader reports
    *    it ([[readerSchema]]), recorded only when every data directory
    *    of the manifest was written with it: the file's metadata record
    *    (the controller's `Metadata`, `proto/dfs.proto:5-12`), so
    *    [[readVersioned]] opens no footer — on Spark 4.1 a schema-less
    *    read runs a one-task footer job inside analysis. Absent on
    *    pre-header manifests, after a schema-evolving append, and on
    *    commits built on either; those snapshots infer their schema.
    */
  private case class VtHeaders(hw: Long, epoch: Long, writer: Option[String],
      base: Option[Long] = None, schema: Option[StructType] = None)

  private def headersOf(name: String, v: Long): VtHeaders =
    headersOf(manifestLines(name, v))

  private def headersOf(lines: Seq[String]): VtHeaders = {
    val epoch = lines.collectFirst { case EpochHeader(n) => n.toLong }
      .getOrElse(0L)
    val writer = lines.collectFirst { case WriterHeader(w) => w }
    // the legacy fold only counts THIS epoch's batch dirs: after a
    // takeover, a previous stream's data/b<id> lines stay in the
    // manifest (their data is still referenced) but must not leak into
    // the new epoch's replay horizon
    val fromDirs = lines.collect {
      case BatchDirName(n) if epoch == 0L => n.toLong
      case EpochBatchDirName(e, n) if e.toLong == epoch => n.toLong
    }
    val hw = (lines.collectFirst { case HwHeader(n) => n.toLong }.toSeq ++
      fromDirs).foldLeft(-1L)(math.max)
    VtHeaders(hw, epoch, writer,
      lines.collectFirst { case BaseHeader(n) => n.toLong },
      lines.collectFirst { case SchemaHeader(j) =>
        DataType.fromJson(j).asInstanceOf[StructType] })
  }

  /** `t` as the parquet reader reports it after a write: names, types
    * and field metadata kept, every field, array element and map value
    * nullable (the reader erases the writer's nullability). The form
    * the `#schema=` header records and the append gate compares in.
    */
  private def readerType(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = readerType(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(readerType(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(readerType(m.keyType), readerType(m.valueType), valueContainsNull = true)
    case other => other
  }

  private def readerSchema(df: DataFrame): StructType =
    readerType(df.schema).asInstanceOf[StructType]

  /** The `#schema=` an append onto a manifest with headers `base`
    * records: the base's, iff the batch writes that same schema — a
    * batch that evolves it (or a base that already lacks one) leaves
    * the new snapshot to schema inference.
    */
  private def appendedSchema(base: VtHeaders, df: DataFrame): Option[StructType] =
    base.schema.filter(_ == readerSchema(df))

  /** The one commit path for every versioned-table verb: optionally
    * write a new immutable data directory, then publish manifest
    * `v<N>` with ONE atomic rename. The manifest (a newline list of
    * the data directories composing the snapshot) is the unit of
    * isolation: a reader resolves a version to its manifest once and
    * then reads only immutable directories, so it can never observe a
    * half-committed table; a writer that loses the race for `v<N>`
    * (rename onto an existing manifest) fails cleanly and deletes its
    * orphan data — optimistic concurrency with no lock service, the
    * lakehouse-format commit protocol (HDFS/object-store rename is the
    * atomic primitive; on a raw local FS the pre-rename existence
    * check closes all but a microscopic window).
    *
    * The manifest's `#`-header lines ([[VtHeaders]]) precede the
    * directory list: `#hw=`, `#epoch=`, `#writer=`, `#base=`, and
    * `#schema=` from the `schema` each verb passes — the frame it
    * writes (put, compaction), its base's if the batch matches it
    * ([[appendedSchema]]), or the re-published manifest's (rollback,
    * takeover); None writes no `#schema=`.
    */
  private def commitVersion(name: String, df: Option[DataFrame],
      dirs: Seq[String], schema: Option[StructType],
      expected: Option[Long] = None,
      newBatchId: Option[Long] = None,
      epochBump: Boolean = false,
      claimWriter: Option[String] = None,
      contentBase: Option[Long] = None): Long = {
    val latest = versions(name).lastOption
    val v = expected.map(_ + 1).getOrElse(latest.getOrElse(0L) + 1)
    // fail the CAS BEFORE paying the table write when the version is
    // already taken (a stale expectedVersion, a racing writer that
    // landed first); the rename below still closes the window where a
    // winner appears mid-write
    if (fs.exists(vtManifest(name, v)))
      throw new ConcurrentCommitException(
        s"concurrent commit: version $v of '$name' already exists")
    // each ATTEMPT writes to a uniquely-named directory (the manifest
    // records exact dir names, so the suffix is free): two racing
    // df-writing commits targeting the same version can never
    // interleave files in one directory or delete each other's
    // in-flight output — the loser's data is an orphan it removes
    // itself below, and anything a crash strands is reclaimed by
    // [[vacuumVersions]], never by a racing writer
    val dataDir = df.map(_ =>
      s"data/v$v-${java.util.UUID.randomUUID.toString.take(8)}")
    val allDirs = df match {
      case Some(frame) =>
        frame.write.parquet(new Path(vtRoot(name), dataDir.get).toString)
        dirs :+ dataDir.get
      case None => dirs
    }
    // commit-protocol headers are MONOTONE across commits: every commit
    // (not just batch appends) re-publishes max(latest's high water,
    // this commit's batch id) plus the writer epoch/token, so a
    // compaction or re-snapshot that rewrites the directory list can
    // never erase the table's memory of which streaming batches it
    // contains or which stream owns it — the invariants
    // [[appendBatchIdempotent]]'s replay check and writer fence rest on
    val prev = latest.map(headersOf(name, _))
      .getOrElse(VtHeaders(-1L, 0L, None))
    val (hw, epoch) =
      if (epochBump) (-1L, prev.epoch + 1) // takeover: fresh batch-id space
      else ((prev.hw +: newBatchId.toSeq).max, prev.epoch)
    val writer = claimWriter.orElse(prev.writer)
    val header =
      (if (hw >= 0 || epoch > 0) Seq(s"#hw=$hw") else Nil) ++
        (if (epoch > 0) Seq(s"#epoch=$epoch") else Nil) ++
        writer.map(w => s"#writer=$w").toSeq ++
        contentBase.map(b => s"#base=$b").toSeq ++
        schema.map(s => s"#schema=${s.json}").toSeq
    fs.mkdirs(vtManifests(name))
    // the tmp manifest is per-ATTEMPT unique for the same reason the
    // data dir is: two racing commits targeting the same version would
    // otherwise write/delete ONE shared `.v<N>.tmp` — the loser's
    // cleanup can yank the file from under the winner's create
    // (observed as a chmod-on-missing-file ExitCodeException in the
    // appender-vs-compactor interleaving), or publish the other
    // attempt's bytes. Unique names make every attempt's tmp its own;
    // a crash strands at most one tiny invisible file.
    val tmp = new Path(vtManifests(name),
      s".v$v-${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(((header ++ allDirs).mkString("\n") + "\n")
      .getBytes("UTF-8"))
    finally out.close()
    val target = vtManifest(name, v)
    if (!publishNoReplace(tmp, target)) {
      fs.delete(tmp, false)
      dataDir.foreach(d => fs.delete(new Path(vtRoot(name), d), true))
      throw new ConcurrentCommitException(
        s"concurrent commit: version $v of '$name' already exists")
    }
    v
  }

  /** Publish `tmp` as `target` iff `target` does not exist — the
    * atomic no-replace primitive the manifest CAS rests on. On HDFS
    * and object stores, `rename` already refuses an existing target,
    * so exists-check + rename is sound. POSIX `rename(2)` instead
    * silently REPLACES the target, leaving a window where two
    * attempts that both passed the exists check clobber a PUBLISHED
    * manifest (the loser's bytes win, the winner's data is silently
    * dropped) — so on the local scheme the publish is a HARD LINK:
    * `link(2)` fails atomically with EEXIST when the target exists,
    * closing the window the old scaladoc called microscopic. (The
    * link carries the raw file; no checksum sidecar is created for
    * the target name, which ChecksumFileSystem treats as
    * verification-exempt — same as any externally-written file.)
    */
  private def publishNoReplace(tmp: Path, target: Path): Boolean =
    if (fs.getUri.getScheme == "file") {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        fs.delete(tmp, false)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        // our tmp vanished: a concurrent vacuum judged this attempt
        // dead (it targets a version at or under the published
        // latest), so the CAS was lost anyway — fail it cleanly
        case _: java.nio.file.NoSuchFileException => false
      }
    } else !fs.exists(target) && fs.rename(tmp, target)

  /** Create (or re-snapshot) a versioned table: the new version's
    * manifest references ONLY the freshly-written data. Returns the
    * committed version number. History is preserved — earlier versions
    * stay readable via [[readVersioned]].
    *
    * When the frame being written is row-identical to an already
    * COMMITTED version (an index-family compaction re-snapshotting a
    * pinned artifact version), pass it as `contentEqualTo` so the
    * manifest records the `#base=` header — the same diffability
    * guarantee [[compactVersions]] gives, letting
    * [[readVersionedSince]] consumers cross this re-pack instead of
    * refusing. Claiming equality for a frame that is NOT row-identical
    * silently corrupts downstream deltas — leave it unset when unsure.
    */
  def putVersioned(name: String, df: DataFrame,
      contentEqualTo: Option[Long] = None): Long = {
    contentEqualTo.foreach(b => require(versions(name).contains(b),
      s"'$name' has no committed version $b to claim content-equality to"))
    commitVersion(name, Some(df), Nil, Some(readerSchema(df)),
      contentBase = contentEqualTo)
  }

  /** Append a batch to a versioned table as a new version: writes ONLY
    * the delta (one immutable directory) and publishes a manifest that
    * is the previous manifest plus that directory — O(batch) I/O per
    * append regardless of table size, where a put-rewrite would be
    * O(table). The ingest-append shape a 100 TB fact table needs.
    *
    * Pass `expectedVersion` to make the append a COMPARE-AND-SWAP:
    * commit `expectedVersion + 1` iff no other writer published it
    * first (`IllegalStateException` otherwise — re-read, re-derive,
    * retry). That is the serializable form: a delta computed FROM
    * snapshot v is only ever applied ON v. Without it the append
    * attaches to whatever is latest at commit time (safe for pure
    * inserts, the common ingest case).
    */
  def appendVersioned(name: String, df: DataFrame,
      expectedVersion: Option[Long] = None,
      allowSchemaEvolution: Boolean = false): Long = {
    val vs = versions(name)
    val cur = expectedVersion.getOrElse(vs.lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"no versioned table '$name'; putVersioned first")))
    require(vs.contains(cur),
      s"'$name' has no version $cur to append on (has: ${vs.mkString(",")})")
    checkAppendSchema(name, cur, df, allowSchemaEvolution)
    val lines = manifestLines(name, cur)
    commitVersion(name, Some(df), dirsOf(lines),
      appendedSchema(headersOf(lines), df), Some(cur))
  }

  /** Append ONTO a PINNED base snapshot: commit a new version whose
    * content is exactly `snapshot(baseVersion) + df`, regardless of
    * what is latest — the idempotent-composition form of
    * [[appendVersioned]]. Where the plain append attaches the delta to
    * whatever is latest (so a RE-RUN after a crash that landed the
    * append but not its consumer's checkpoint stacks the delta twice),
    * this verb's re-run rebuilds from the same pinned base and the
    * duplicate is structurally impossible: every attempt produces a
    * version containing the delta exactly ONCE, crashed attempts leave
    * only dead orphan versions (reclaimable by [[vacuumVersions]]), and
    * two concurrent attempts produce two individually-correct versions
    * of which the caller's pointer commit picks one. This is what the
    * index-maintenance loop ([[graft.api.Corpus.refreshAnnIndex]])
    * appends through — its base is the version its pointer pinned, not
    * "latest". Loses the LOST-UPDATE protection of the CAS form by
    * design: an append committed between base and this commit is NOT in
    * the new version (the caller's pointer semantics make that the
    * correct behavior — anything unpinned was never served).
    *
    * Retries a lost manifest race (another writer took the version
    * number) a bounded number of times; each attempt re-writes the
    * delta to its own directory and the loser's orphan is removed.
    */
  def appendVersionedOnto(name: String, df: DataFrame, baseVersion: Long,
      allowSchemaEvolution: Boolean = false): Long = {
    val vs = versions(name)
    require(vs.contains(baseVersion),
      s"'$name' has no version $baseVersion to append onto " +
        s"(has: ${vs.mkString(",")})")
    checkAppendSchema(name, baseVersion, df, allowSchemaEvolution)
    val lines = manifestLines(name, baseVersion)
    val base = dirsOf(lines)
    val schema = appendedSchema(headersOf(lines), df)
    var attempt = 0
    while (true) {
      attempt += 1
      try return commitVersion(name, Some(df), base, schema)
      catch {
        case _: ConcurrentCommitException if attempt < 8 =>
        // lost the version-number race: re-commit the SAME pinned
        // base + delta under the new latest version number
      }
    }
    -1L // unreachable
  }

  /** The write-side schema gate every batch append passes: refuse a
    * batch whose schema CONFLICTS with the table's current schema
    * (same-named column, different type — no read mode can reconcile
    * that), and refuse added/dropped columns unless the caller opted
    * into evolution. Without this gate a drifted producer commits
    * silently and the default (non-mergeSchema) multi-directory read
    * then resolves columns from whichever footer it samples — readers
    * break LATER, far from the producer bug; the reference's posture
    * is the same fail-at-the-write (a put that doesn't match what the
    * controller expects is rejected at the call,
    * `dfs/controller/controller.go:64-77`, never reconciled).
    * Widened appends (`allowSchemaEvolution = true`) compose with
    * `readVersioned(mergeSchema = true)` on the read side.
    * Cost: none beyond the manifest read when the current version
    * records its `#schema=`; otherwise one footer read (schema only),
    * no data scan. Types compare as the reader reports them, so a
    * nullability-only difference (a batch's non-null array elements vs
    * the table's read-back nullable ones) is not a conflict. Name
    * resolution is case-insensitive, matching Spark's default
    * analyzer.
    */
  private def checkAppendSchema(name: String, cur: Long, df: DataFrame,
      allowSchemaEvolution: Boolean): Unit = {
    val table = readVersioned(name, cur).schema
    val batch = df.schema
    def key(f: org.apache.spark.sql.types.StructField) = f.name.toLowerCase
    val tf = table.fields.map(f => key(f) -> f).toMap
    val bf = batch.fields.map(f => key(f) -> f).toMap
    val conflicts = table.fields.toSeq.flatMap { f =>
      bf.get(key(f))
        .filter(b => readerType(b.dataType) != readerType(f.dataType))
        .map(b => s"${f.name}: table ${f.dataType.simpleString} vs " +
          s"batch ${b.dataType.simpleString}")
    }
    if (conflicts.nonEmpty)
      throw new IllegalArgumentException(
        s"schema conflict appending to '$name' (no read mode reconciles " +
          s"a type change; fix the producer or write a new table): " +
          conflicts.mkString("; "))
    val added = batch.fields.map(_.name).filterNot(n => tf.contains(n.toLowerCase))
    val dropped = table.fields.map(_.name).filterNot(n => bf.contains(n.toLowerCase))
    if (!allowSchemaEvolution && (added.nonEmpty || dropped.nonEmpty))
      throw new IllegalArgumentException(
        s"schema drift appending to '$name'" +
          (if (added.nonEmpty) s"; batch adds: ${added.mkString(", ")}" else "") +
          (if (dropped.nonEmpty) s"; batch drops: ${dropped.mkString(", ")}" else "") +
          "; pass allowSchemaEvolution=true to widen (and read with " +
          "mergeSchema=true)")
  }

  /** IDEMPOTENT streaming append: commit micro-batch `batchId` to the
    * versioned table exactly once, no matter how many times the batch
    * is replayed. The batch's data directory is NAMED by the batch id
    * (`data/b<id>`), and since every append manifest carries the full
    * directory list, "has batch N committed?" is one read of the
    * latest manifest — no sidecar ledger whose update could tear away
    * from the data commit. Returns the committed version, or None when
    * the batch was already in the table (the replay case — a no-op).
    *
    * Crash analysis (the exactly-once contract with a replayable
    * source + checkpointed offsets — Structured Streaming re-delivers
    * the same batch id after any failure):
    *  - died BEFORE the manifest rename: the orphan `data/b<id>` dir
    *    is unreferenced (readers resolve dirs only through manifests);
    *    the retry deletes and rewrites it, then publishes.
    *  - died AFTER the rename: the batch is in the latest manifest;
    *    the retry returns None and writes nothing.
    *  - a concurrent writer raced the version number: the manifest
    *    CAS throws, the streaming batch fails and replays, and the
    *    retry re-reads the latest manifest — commit-or-skip, never
    *    double-append.
    *
    * The manifest grows one line per batch, so commit cost is
    * O(batches-so-far) manifest bytes (KBs at thousands of batches) —
    * the standard lakehouse trade; a long-lived stream compacts with
    * [[compactVersions]], which resets the manifest to one directory
    * while keeping history. Replay detection SURVIVES compaction: the
    * manifest's high-water header (`#hw=<max batch id>`, carried
    * monotonically by every commit) recognizes a replayed batch even
    * after its `data/b<id>` line was compacted away — so the
    * exactly-once claim holds unconditionally, including the
    * disaster-recovery case of a checkpoint restored from before a
    * compaction. (Streaming batch ids are monotone per query, the
    * Structured Streaming contract.)
    *
    * WRITER FENCE: the `batchId <= hw` check is only sound while ONE
    * stream's batch-id sequence feeds the table — a NEW stream (fresh
    * checkpoint after checkpoint loss, or a second query pointed at
    * the same table) restarts batch ids at 0, and without a fence
    * every one of its batches would be silently discarded as a
    * "replay": data loss dressed as dedup. So a non-empty `writer`
    * token (the sink passes its checkpoint location) is recorded in
    * the manifest (`#writer=`), and an append whose token differs
    * from the recorded owner REFUSES with an actionable error instead
    * of silently skipping — the reference's single-owner posture (a
    * put on a name someone else holds is rejected, never merged,
    * `dfs/controller/controller.go:64-77,169-205`). A deliberate
    * handover calls [[takeOverVersioned]], which bumps the writer
    * EPOCH: the new stream's batches land under `data/e<epoch>b<id>`
    * with a reset high water, so its restarted batch-id space can
    * never collide with (or be shadowed by) the previous stream's.
    * An empty `writer` leaves unfenced tables unfenced (direct API
    * use), but still refuses to write to a table a stream owns.
    */
  def appendBatchIdempotent(name: String, df: DataFrame,
      batchId: Long, writer: String = "",
      allowSchemaEvolution: Boolean = false): Option[Long] = {
    require(batchId >= 0, s"negative batchId $batchId")
    var written = false
    // CAS-retry loop: losing the version race to a CONCURRENT writer
    // (a compaction, a maintenance commit) is not a failure of THIS
    // append — the batch is re-checked against the winner's manifest
    // and re-committed on top of it. The loop is what makes "compact
    // without quiescing the stream" hold operationally: without it a
    // lost race would throw out of foreachBatch and kill the whole
    // streaming query for a condition that resolves by re-reading.
    // Bounded: livelock would need a writer committing faster than
    // our one manifest write, N times in a row.
    var attempt = 0
    while (true) {
      attempt += 1
      val vs = versions(checkName(name))
      val latestLines = vs.lastOption.map(manifestLines(name, _))
      val base = latestLines.map(dirsOf).getOrElse(Nil)
      val hdr = latestLines.map(headersOf).getOrElse(VtHeaders(-1L, 0L, None))
      hdr.writer.filter(w => w != writer).foreach { w =>
        throw new IllegalStateException(
          s"versioned table '$name' is owned by stream writer '$w'" +
            (if (writer.isEmpty) " (this append carries no writer token)"
             else s"; this stream's token is '$writer'") +
            ". A different stream's batch ids restart at 0 and the replay " +
            "check would silently discard its batches — refuse instead. " +
            s"To hand the table over, call takeOverVersioned(\"$name\", " +
            "<new writer>) once, which starts a fresh batch-id epoch.")
      }
      val tag = if (hdr.epoch == 0L) s"data/b$batchId"
        else s"data/e${hdr.epoch}b$batchId"
      if (base.contains(tag) || batchId <= hdr.hw) return None
      if (!written && vs.nonEmpty)
        checkAppendSchema(name, vs.last, df, allowSchemaEvolution)
      val dir = new Path(vtRoot(name), tag)
      // an orphan from an attempt that died pre-publish — but never
      // delete a directory some committed manifest still references
      // (time travel would break). With `#hw=` headers (carried by
      // every commit since the header and every manifest-rewriting
      // verb shipped together) a referenced batch implies
      // batchId <= hw, already returned above — so reaching here
      // means the dir is a dead orphan, no history scan needed. Only
      // a PRE-HEADER lineage (latest manifest has no `#hw=` line)
      // pays the last-resort scan, newest-first with early exit:
      // there a manifest rewrite could have dropped both the b-line
      // and the high water, and a referenced dir means the batch is
      // committed history, not corruption.
      if (!written && fs.exists(dir)) {
        val preHeaderLineage =
          !latestLines.exists(_.exists(_.startsWith("#hw=")))
        val referenced = preHeaderLineage &&
          vs.reverseIterator.exists(readManifest(name, _).contains(tag))
        if (referenced) return None
        fs.delete(dir, true)
      }
      // the batch-id-named dir is immutable once written: retries of
      // the commit race reuse it rather than re-running the batch plan
      if (!written) { df.write.parquet(dir.toString); written = true }
      // a first batch creates the table: its frame is the snapshot
      val schema = if (vs.isEmpty) Some(readerSchema(df))
        else appendedSchema(hdr, df)
      try return Some(commitVersion(name, None, base :+ tag, schema,
        Some(vs.lastOption.getOrElse(0L)), newBatchId = Some(batchId),
        claimWriter = Some(writer).filter(_.nonEmpty)))
      catch {
        case _: ConcurrentCommitException if attempt < 16 =>
        // raced: re-read and retry
      }
    }
    None // unreachable
  }

  /** Transfer ownership of a versioned streaming table to a new writer
    * — the ONE deliberate way past [[appendBatchIdempotent]]'s fence
    * (disaster recovery: the original checkpoint is gone and a rebuilt
    * stream must resume the table). Commits a new version with the
    * same data, the new `#writer=` token, a bumped `#epoch=`, and a
    * RESET high water: the new stream's batch ids (restarting at 0)
    * land under epoch-namespaced directories (`data/e<epoch>b<id>`)
    * and are judged against the fresh horizon, so nothing it writes is
    * shadowed by the previous stream's batch numbering — and the
    * previous stream, should a zombie instance of it still be running,
    * is fenced out at its next append. History stays intact and
    * readable. Returns the committed version.
    *
    * NOTE the semantics of a takeover: rows the OLD stream committed
    * remain in the table; if the new stream re-reads the same source
    * from scratch, its epoch legitimately re-appends them (the fence
    * makes that an explicit operator decision, not a silent default) —
    * start the new stream's source offsets where the old data ends, or
    * put a fresh table, when re-delivery is not wanted.
    */
  def takeOverVersioned(name: String, newWriter: String): Long = {
    require(newWriter.nonEmpty, "newWriter token must be non-empty")
    val vs = versions(checkName(name))
    require(vs.nonEmpty, s"no versioned table '$name' to take over")
    val lines = manifestLines(name, vs.last)
    commitVersion(name, None, dirsOf(lines),
      headersOf(lines).schema, Some(vs.last),
      epochBump = true, claimWriter = Some(newWriter))
  }

  /** The maintenance-verb side of the writer fence (the append side is
    * [[appendBatchIdempotent]]): compaction, vacuum, and rollback
    * rewrite or reclaim history, so on a FENCED table they demand the
    * owner's token — without this, any process could roll a
    * stream-owned table back to before an index consumer's consumed
    * version or vacuum the stream's diff window, breaking the CDC
    * consumer honestly but avoidably. An unfenced table stays open to
    * everyone (direct API use). `force = true` is the explicit
    * override for deliberate cross-owner surgery (an operator
    * reclaiming a dead stream's table without wanting a takeover
    * commit), mirroring the append fence's [[takeOverVersioned]]
    * escape hatch.
    */
  private def checkMaintenanceFence(name: String, writer: String,
      force: Boolean, verb: String): Unit =
    if (!force) {
      versions(name).lastOption.map(headersOf(name, _)).flatMap(_.writer)
        .filter(_ != writer).foreach { w =>
          throw new IllegalStateException(
            s"versioned table '$name' is owned by stream writer '$w'" +
              (if (writer.isEmpty) s" (this $verb carries no writer token)"
               else s"; this $verb's token is '$writer'") +
              s". Maintenance on a stream-owned table must come from its" +
              " owner (pass the owning checkpoint location as writer=)" +
              " or be an explicit decision (force=true).")
        }
    }

  /** Compact a versioned table: materialize the snapshot at `expected`
    * (default: latest) into ONE fresh data directory and commit it as
    * the next version — the verb form of the re-snapshot recipe, with
    * the two guarantees the recipe alone lacked:
    *
    *  - CAS: the commit publishes `expected + 1`; if any writer (a
    *    live stream's batch append, another compactor) got there
    *    first, the commit fails cleanly (`IllegalStateException`) and
    *    the orphan data directory is removed — re-read, retry. Safe
    *    to run WITHOUT quiescing the stream: either the compaction
    *    loses the race and retries, or the stream's next append CASes
    *    on the compacted version.
    *  - the high-water batch id carries into the compacted manifest
    *    (see [[commitVersion]]), so a streaming batch replayed after
    *    compaction is still recognized and skipped by
    *    [[appendBatchIdempotent]] — compaction cannot break the
    *    exactly-once sink.
    *
    * History stays readable: earlier manifests and the directories
    * they reference are untouched (nothing is ever deleted here; a
    * separate vacuum policy may drop directories referenced by NO
    * manifest). Returns the committed version.
    */
  def compactVersions(name: String,
      expectedVersion: Option[Long] = None,
      writer: String = "", force: Boolean = false): Long = {
    val vs = versions(checkName(name))
    require(vs.nonEmpty, s"no versioned table '$name' to compact")
    checkMaintenanceFence(name, writer, force, "compaction")
    val cur = expectedVersion.getOrElse(vs.last)
    require(vs.contains(cur),
      s"'$name' has no version $cur (has: ${vs.mkString(",")})")
    // the commit is CONTENT-EQUAL to `cur` — recorded as `#base=` so
    // incremental readers can diff straight through the re-pack
    val snapshot = readVersioned(name, cur)
    commitVersion(name, Some(snapshot), Nil, Some(readerSchema(snapshot)),
      Some(cur), contentBase = Some(cur))
  }

  /** Physically reclaim a versioned table's history: retain the last
    * `keepLast` versions, delete older manifests, then delete every
    * data directory no RETAINED manifest references. The storage
    * complement of [[compactVersions]] — compaction makes the LATEST
    * snapshot one directory but leaves history readable; vacuum is
    * the retention policy that actually frees bytes. Returns
    * (manifests deleted, data directories deleted).
    *
    * Safety: deletion is computed against the retained manifests'
    * union, so nothing a surviving version references is ever
    * touched, and the high-water batch id rides the retained
    * manifests (every commit carries it forward), so streaming replay
    * detection survives vacuuming the batch directories themselves.
    * Concurrent APPENDS are safe — a new commit's manifest starts
    * from the latest (always-retained) manifest, so it can only
    * reference retained directories plus its own new one. Concurrent
    * READERS of a vacuumed version break (their files disappear
    * mid-scan) — the standard lakehouse vacuum contract: pick
    * `keepLast`/a retention window longer than the longest reader.
    */
  def vacuumVersions(name: String, keepLast: Int,
      writer: String = "", force: Boolean = false): (Int, Int) = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val vs = versions(checkName(name))
    require(vs.nonEmpty, s"no versioned table '$name' to vacuum")
    checkMaintenanceFence(name, writer, force, "vacuum")
    vacuumRetaining(name, vs, vs.takeRight(keepLast).toSet)
  }

  /** [[vacuumVersions]] with an EXPLICIT keep set instead of a
    * count-from-the-tail policy — the retention form a POINTER table
    * needs: an index family's artifact versions worth keeping are
    * exactly the ones some retained pointer row pins (plus the latest),
    * not "the last K" (a pointer saved long ago may pin an old artifact
    * version that must outlive K newer orphaned attempts). The latest
    * version is always retained regardless of `keep` — new commits
    * build on it. Versions in `keep` absent from the table are ignored.
    * Same safety contract as [[vacuumVersions]].
    */
  def vacuumVersionsKeeping(name: String, keep: Set[Long],
      writer: String = "", force: Boolean = false): (Int, Int) = {
    val vs = versions(checkName(name))
    require(vs.nonEmpty, s"no versioned table '$name' to vacuum")
    checkMaintenanceFence(name, writer, force, "vacuum")
    vacuumRetaining(name, vs, keep + vs.last)
  }

  private def vacuumRetaining(name: String, vs: Seq[Long],
      keepVersions: Set[Long]): (Int, Int) = {
    val retained = vs.filter(keepVersions)
    val dropped = vs.filterNot(keepVersions)
    val keepDirs = retained.flatMap(readManifest(name, _)).toSet
    // delete manifests FIRST: a reader that resolves a version after
    // this point can only land on retained manifests, whose dirs
    // survive below; the reverse order would leave a window where a
    // resolvable manifest references deleted data. Count what the
    // delete calls actually returned (a concurrent vacuum or a failed
    // delete must not be reported as reclaimed).
    val manifestsGone =
      dropped.count(v => fs.delete(vtManifest(name, v), false))
    // tmp manifests stranded by crashed commit attempts: any tmp
    // targeting a version at or under vs.last is dead — its version
    // either published (another attempt won) or never will from that
    // file (a still-live stale attempt's no-replace publish fails
    // anyway). In-flight attempts target vs.last+1 and are never
    // touched.
    val TmpName = "\\.v(\\d+)-[0-9a-f]+\\.tmp".r
    fs.listStatus(vtManifests(name)).toIndexedSeq.map(_.getPath)
      .foreach(p => p.getName match {
        case TmpName(tv) if tv.toLong <= vs.last => fs.delete(p, false)
        case _ => ()
      })
    val dataRoot = new Path(vtRoot(name), "data")
    // only directories PROVABLY from the past are candidates: a batch
    // dir of a RETIRED epoch (its writer is fenced out and can never
    // commit) or at/under the current epoch's high water, or a version
    // dir at or under the newest version seen here. A concurrent
    // writer's in-flight dir (current-epoch b<id> above the high
    // water, v<N>-<nonce> above vs.last) is never touched even though
    // no manifest references it yet.
    val cur = headersOf(name, vs.last)
    val VDir = "v(\\d+)(?:-[0-9a-f]+)?".r
    val BDir = "b(\\d+)".r
    val EBDir = "e(\\d+)b(\\d+)".r
    def committedPast(dirName: String): Boolean = dirName match {
      case VDir(n) => n.toLong <= vs.last
      case BDir(i) => cur.epoch > 0L || i.toLong <= cur.hw
      case EBDir(e, i) =>
        e.toLong < cur.epoch || (e.toLong == cur.epoch && i.toLong <= cur.hw)
      case _ => false
    }
    val removed =
      if (!fs.exists(dataRoot)) 0
      else fs.listStatus(dataRoot).toIndexedSeq
        .map(_.getPath)
        .filter(p => committedPast(p.getName) &&
          !keepDirs.contains(s"data/${p.getName}"))
        .count(p => fs.delete(p, true))
    (manifestsGone, removed)
  }

  /** Read a versioned table at `version` (default: latest). The
    * manifest pins the exact directory set, so the read is a stable
    * snapshot no concurrent append can change — time travel for
    * debugging ("what did the corpus look like before yesterday's
    * ingest?") and reproducible training runs.
    */
  def readVersioned(name: String, version: Long = -1L,
      mergeSchema: Boolean = false): DataFrame = {
    val vs = versions(name)
    require(vs.nonEmpty, s"no versioned table '$name'")
    val v =
      if (version < 0) vs.last
      else {
        require(vs.contains(version),
          s"'$name' has no version $version (has: ${vs.mkString(",")})")
        version
      }
    val lines = manifestLines(name, v)
    readDirs(name, dirsOf(lines), headersOf(lines).schema, mergeSchema)
  }

  /** The one parquet read of versioned data directories: given a
    * recorded `schema` (the `#schema=` header), analysis opens no
    * footer. mergeSchema=true is the schema-evolution read — batches
    * appended with added columns union into one widened schema (absent
    * columns null-fill) — so it always infers, from every footer. Off
    * by default: the merged-footer scan pass costs on wide tables.
    */
  private def readDirs(name: String, dirs: Seq[String],
      schema: Option[StructType], mergeSchema: Boolean): DataFrame = {
    val reader = spark.read.option("mergeSchema", mergeSchema)
    schema.filterNot(_ => mergeSchema).fold(reader)(reader.schema)
      .parquet(dirs.map(d => new Path(vtRoot(name), d).toString): _*)
  }

  /** The versioned-table names present in this warehouse — the catalog
    * face of the `.vt_` trees, the versioned complement of [[ls]].
    */
  def lsVersioned(): Seq[String] = {
    val root = new Path(warehouse)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toIndexedSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith(".vt_") => n.stripPrefix(".vt_") }
      .sorted
  }

  /** DESCRIBE HISTORY for a versioned table: one row per RETAINED
    * version, newest first — `(version, data_dirs, bytes, high_water,
    * epoch, writer, content_base)` — the metadata an operator reads
    * before choosing a rollback target, sizing a compaction cadence
    * (`data_dirs` growth is the small-files observable), or auditing
    * which stream owns the table and how far its batch ids reached.
    * Metadata-only: manifests and file-status listings, zero data
    * scans. `content_base` marks compaction/rollback commits with the
    * version their rows equal (the `#base=` header CDC reads recurse
    * through); null elsewhere. `bytes` sums the manifest's directories
    * (shared directories count toward every version referencing them —
    * the logical snapshot size, not incremental storage).
    */
  def describeVersioned(name: String): DataFrame = {
    val vs = versions(name)
    require(vs.nonEmpty, s"no versioned table '$name'")
    // data directories are immutable and shared across versions —
    // summarize each DISTINCT one once, not once per referencing
    // version (on an object store each summary is a recursive listing)
    val dirBytes = scala.collection.mutable.Map.empty[String, Long]
    def bytesOf(d: String): Long = dirBytes.getOrElseUpdate(d, {
      val p = new Path(vtRoot(name), d)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    })
    val rows = vs.reverse.map { v =>
      val lines = manifestLines(name, v)
      val hdr = headersOf(lines)
      val dirs = dirsOf(lines)
      (v, dirs.size, dirs.map(bytesOf).sum, hdr.hw, hdr.epoch,
        hdr.writer.orNull, hdr.base.map(java.lang.Long.valueOf).orNull)
    }
    import spark.implicits._
    rows.toDF("version", "data_dirs", "bytes", "high_water", "epoch",
      "writer", "content_base")
  }

  /** The current writer epoch and high-water batch id of a versioned
    * table — the replay-horizon observable: `(epoch, hw)` where `hw`
    * is the largest batch id committed in the current epoch (-1 when
    * none). What an aligned multi-table ingest (one batch id landing
    * in several tables, [[graft.api.Corpus.sinkWithPairMiningRefresh]])
    * compares to detect a crash that fell BETWEEN the paired appends:
    * equal horizons = an aligned snapshot. Metadata-only — one
    * manifest read.
    */
  def batchHorizon(name: String): (Long, Long) = {
    val vs = versions(name)
    require(vs.nonEmpty, s"no versioned table '$name'")
    val h = headersOf(name, vs.last)
    (h.epoch, h.hw)
  }

  /** Number of immutable data directories composing `version` (default:
    * latest) of a versioned table — the observable an operator sizes a
    * compaction cadence with: each streaming batch or incremental
    * refresh adds one directory, and when the count (≈ file-open cost
    * per scan) crosses the budget it's time for [[compactVersions]] /
    * the index-family compaction verbs.
    */
  def versionDirCount(name: String, version: Long = -1L): Int =
    if (version >= 0) {
      // an explicit version resolves by ONE existence probe of its
      // manifest, not a directory listing — observability callers
      // (graft.api.Corpus.describeIndexes) poll this per arm and have
      // usually just listed the versions themselves
      require(fs.exists(vtManifest(checkName(name), version)),
        s"'$name' has no version $version")
      readManifest(name, version).size
    } else {
      val vs = versions(name)
      require(vs.nonEmpty, s"no versioned table '$name'")
      readManifest(name, vs.last).size
    }

  /** Incremental (CDC-style) read: the rows ADDED to a versioned table
    * after `afterVersion`, computed as the manifest DIRECTORY diff —
    * data directories are immutable and append commits only add
    * directories, so "new since v" is exactly "directories the latest
    * manifest has that v's does not", read directly with zero scans of
    * the base data. The O(delta) consumption verb an incremental ETL
    * over a 100 TB ingest table needs: each run processes only new
    * batches, checkpointing the version it last saw.
    *
    * The diff SURVIVES compaction and rollback: both commit snapshots
    * CONTENT-EQUAL to an earlier version and record it as a `#base=`
    * manifest header, so the delta recurses straight through the
    * re-pack — `delta(after → compacted) = delta(after → base)`, plus
    * whatever directories were appended on top of the compaction. This
    * is what lets the incremental index-refresh loop compose with the
    * auto-compacting streaming sink: a compaction landing BETWEEN two
    * refreshes no longer strands the consumer. A rollback to BEFORE
    * `afterVersion` still refuses (the consumer has seen rows that no
    * longer exist — no append-only delta can express that), as does a
    * pre-header re-snapshot lineage and a window whose intermediate
    * manifests were vacuumed (diff from a retained version instead).
    */
  def readVersionedSince(name: String, afterVersion: Long,
      mergeSchema: Boolean = false, toVersion: Long = -1L): DataFrame = {
    val vs = versions(name)
    require(vs.contains(afterVersion),
      s"'$name' has no version $afterVersion (has: ${vs.mkString(",")})")
    // `toVersion` pins the window's upper end so a consumer can record
    // EXACTLY what it consumed: resolving "latest" here and again in
    // the caller races a concurrent append (rows land in the delta but
    // not in the caller's checkpoint → re-consumed forever)
    val to = if (toVersion < 0) vs.last
      else {
        require(vs.contains(toVersion),
          s"'$name' has no version $toVersion (has: ${vs.mkString(",")})")
        require(toVersion >= afterVersion,
          s"toVersion $toVersion precedes afterVersion $afterVersion")
        toVersion
      }
    val delta = deltaDirsSince(name, vs, afterVersion, to).distinct
    if (delta.isEmpty) readVersioned(name, to, mergeSchema).limit(0)
    else {
      // `to`'s recorded schema vouches for `to`'s own directories only;
      // a window reaching directories a re-snapshot dropped infers
      val toLines = manifestLines(name, to)
      val schema = headersOf(toLines).schema
        .filter(_ => delta.toSet.subsetOf(dirsOf(toLines).toSet))
      readDirs(name, delta, schema, mergeSchema)
    }
  }

  /** The directories holding rows added between committed versions
    * `after` and `to`. Fast path: append-only windows diff the two
    * manifests directly. A window crossing a re-snapshot walks the
    * `#base=` content-equivalence chain: find the newest content-equal
    * commit `c` at or under `to` that `to` is additive over; the delta
    * is (to's dirs − c's dirs) plus, recursively, the delta from
    * `after` to c's recorded base. Every boundary must carry a
    * readable `#base=` chain back past `after`, else refuse.
    */
  private def deltaDirsSince(name: String, vs: Seq[Long],
      after: Long, to: Long): Seq[String] = {
    if (to == after) return Nil
    val fromSet = readManifest(name, after).toSet
    val toDirs = readManifest(name, to)
    if (fromSet.subsetOf(toDirs.toSet)) return toDirs.filterNot(fromSet)
    def refuse(why: String) = throw new IllegalArgumentException(
      s"'$name' versions $after..$to cross a re-snapshot that cannot be " +
        s"diffed ($why); read the full snapshot or diff from a later " +
        "version instead")
    // one manifest read per candidate: headers and dir set both derive
    // from the same lines (each open is a round trip on object stores)
    val (b, cDirs) = vs.filter(v => v > after && v <= to).reverseIterator
      .map { v => (v, manifestLines(name, v)) }
      .collectFirst { case (v, lines)
        if headersOf(lines).base.isDefined &&
          (v == to ||
            dirsOf(lines).toSet.subsetOf(toDirs.toSet)) =>
        (v, headersOf(lines).base.get,
          dirsOf(lines).toSet)
      } match {
        case Some((c, base, dirs)) =>
          if (base < after)
            refuse(s"version $c rolled back to $base, before the " +
              "consumed version")
          if (!vs.contains(base))
            refuse(s"version $c's base $base was vacuumed")
          (base, dirs)
        case None =>
          refuse("no content-equal #base commit records the re-pack — " +
            "a pre-header compaction")
      }
    toDirs.filterNot(cDirs) ++ deltaDirsSince(name, vs, after, b)
  }

  /** Roll a versioned table back to an earlier snapshot by COMMITTING
    * a new version whose manifest equals the old one (roll-forward
    * rollback): history stays intact, nothing is deleted, and a
    * concurrent reader of the bad version is unaffected. The
    * high-water batch id rides ANY commit, including this one, so a
    * streaming batch rolled back OUT of the snapshot is still
    * recognized as seen on replay — exactly-once beats re-ingest; a
    * deliberate re-ingest after rollback needs fresh batch ids (a new
    * checkpoint) or a new table.
    */
  def rollbackVersioned(name: String, to: Long,
      writer: String = "", force: Boolean = false): Long = {
    require(versions(name).contains(to),
      s"'$name' has no version $to to roll back to")
    checkMaintenanceFence(name, writer, force, "rollback")
    val lines = manifestLines(name, to)
    commitVersion(name, None, dirsOf(lines),
      headersOf(lines).schema, contentBase = Some(to))
  }

  def delete(name: String): Boolean = {
    dropMeta(name)
    val vt = vtRoot(name)
    val hadVt = fs.exists(vt) && fs.delete(vt, true)
    (exists(name) && fs.delete(pathOf(name), true)) || hadVt
  }

  def exists(name: String): Boolean = fs.exists(pathOf(name))

  /** ls (S7): stored names with size and file (chunk-analogue) counts,
    * like the controller's ls-directory mirror
    * (`dfs/controller/controller.go:131-149`).
    */
  def ls(): Seq[StoredFile] = {
    val root = new Path(warehouse)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toIndexedSeq
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("."))
      .map { st =>
        val summary = fs.getContentSummary(st.getPath)
        StoredFile(st.getPath.getName, summary.getLength, summary.getFileCount)
      }
      .sortBy(_.name)
  }

  /** info (S8): live parallelism + warehouse totals, the Spark-native
    * analogue of the controller's active-node/disk report
    * (`dfs/controller/controller.go:151-167`).
    */
  def info(): StorageInfo = {
    val files = ls()
    StorageInfo(
      activeExecutors = spark.sparkContext.statusTracker.getExecutorInfos.length,
      defaultParallelism = spark.sparkContext.defaultParallelism,
      storedFiles = files.size,
      totalBytes = files.map(_.bytes).sum)
  }
}

final case class StoredFile(name: String, bytes: Long, numFiles: Long)

final case class StorageInfo(
    activeExecutors: Int,
    defaultParallelism: Int,
    storedFiles: Int,
    totalBytes: Long)
