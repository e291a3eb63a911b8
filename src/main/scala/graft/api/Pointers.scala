package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sources.Storage

/** One entry of a family's pointer row: an arm it pins or a corpus
  * version it records as consumed.
  */
private[api] sealed trait Pin

/** An artifact table `<name><suffix>` pinned at the version in pointer
  * column `column`.
  *
  *  - `accretes`: each refresh appends one delta directory to it, so
  *    compaction re-snapshots it at its pinned version.
  *  - `nested`: the arm is a whole nested family named
  *    `<name><suffix>`; `column` pins a version of ITS pointer table.
  *  - `drift`: the pointer column [[Corpus.describeIndexes]] reports as
  *    this arm's `stale_rows`.
  *  - `optional`: the arm exists only once its pin is >= 0.
  */
private[api] final case class Arm(role: String, suffix: String,
    column: String, accretes: Boolean = false,
    drift: Option[String] = None, optional: Boolean = false,
    nested: Option[PointerLayout] = None) extends Pin {
  def table(name: String): String = name + suffix + nested.fold("")(_.pointer)
}

/** A corpus version the pointer checkpoints as consumed. `key` is what
  * [[Corpus.describeIndexes]]'s `corpusTables` map is keyed by, after
  * the index name; `via` names the nested arm whose pointer carries the
  * column; `optional` drops the row while the version is < 0; `resave`
  * is the save call that records it, named when a refresh refuses.
  */
private[api] final case class Consumed(role: String, column: String,
    key: String = "", via: Option[String] = None,
    optional: Boolean = false, resave: String = "") extends Pin

/** A persisted family's one-row pointer table `<name><pointer>`: its
  * columns in stored order, each with the value assumed when an older
  * pointer lacks it (None: the column is required), and its pins in
  * [[Corpus.describeIndexes]] row order. Every pointer write, compaction
  * and vacuum reads this declaration, so a column is spelled once.
  */
private[api] final case class PointerLayout(pointer: String, family: String,
    columns: Seq[(String, Option[Long])], pins: Seq[Pin]) {

  private val defaults = columns.collect { case (c, Some(d)) => c -> d }.toMap
  private val schema =
    StructType(columns.map(c => StructField(c._1, LongType, nullable = false)))

  def arms: Seq[Arm] = pins.collect { case a: Arm => a }

  /** Column `c` of pointer row `r`, at its default when `r` predates it. */
  def get(r: Row, c: String): Long =
    if (r.schema.fieldNames.contains(c)) r.getAs[Long](c)
    else defaults.getOrElse(c, throw new IllegalArgumentException(
      s"$family pointer row lacks required column '$c'"))

  private def arm(role: String): Arm = arms.find(_.role == role)
    .getOrElse(throw new IllegalArgumentException(s"no $family arm '$role'"))

  private def consumedPin(role: String): Consumed = pins
    .collectFirst { case c: Consumed if c.role == role => c }
    .getOrElse(throw new IllegalArgumentException(s"no $family pin '$role'"))

  /** The version pointer row `ptr` records under pin `role`. */
  def pinned(ptr: Row, role: String): Long = get(ptr, arms.find(_.role == role)
    .fold(consumedPin(role).column)(_.column))

  /** The table of arm `role` of family `name`. */
  def table(name: String, role: String): String = arm(role).table(name)

  /** The name of the family nested under arm `role` of family `name`. */
  def nested(name: String, role: String): String = name + arm(role).suffix

  /** That nested family's pointer row at the version `ptr` pins, never
    * its latest (a crashed refresh can strand a newer orphan there).
    */
  def nestedRow(storage: Storage, name: String, ptr: Row, role: String): Row =
    arm(role).nested.get.row(storage, nested(name, role), pinned(ptr, role))

  /** The latest pointer version of family `name`. */
  def latest(storage: Storage, name: String): Long =
    storage.versions(name + pointer).last

  /** The pointer row of family `name` at `version` (default: latest). */
  def row(storage: Storage, name: String, version: Long = -1L): Row =
    Corpus.pointerRow(storage, name + pointer, version)

  /** Arm `role` of family `name` at the version pointer row `ptr` pins. */
  def read(storage: Storage, name: String, ptr: Row, role: String): DataFrame =
    storage.readVersioned(table(name, role), pinned(ptr, role))

  /** [[read]] as the session-local checkpoint a loaded handle serves. */
  def load(storage: Storage, name: String, ptr: Row, role: String): DataFrame =
    read(storage, name, ptr, role).localCheckpoint()

  /** Commit `df` as a new version of arm `role`; returns it. */
  def put(storage: Storage, name: String, role: String, df: DataFrame): Long =
    storage.putVersioned(table(name, role), df)

  /** Append `delta` ONTO the version of arm `role` that `ptr` pins, never
    * onto latest: a refresh that died before its pointer commit leaves an
    * orphan version there, and stacking on it would serve its rows twice.
    * So re-runs and double-fired refreshes are idempotent. Returns it.
    */
  def appendOnto(storage: Storage, name: String, ptr: Row, role: String,
      delta: DataFrame): Long =
    storage.appendVersionedOnto(table(name, role), delta, pinned(ptr, role))

  /** The corpus version the latest pointer records as consumed under
    * `role`, read `via` a nested family's pinned row where declared so.
    */
  def consumed(storage: Storage, name: String, role: String): Long = {
    val ptr = row(storage, name)
    consumedPin(role).via.fold(pinned(ptr, role)) { a =>
      arm(a).nested.get.pinned(nestedRow(storage, name, ptr, a), role)
    }
  }

  /** The ONE pinned-delta consume step of every CDC refresh. It refuses a
    * pointer without a `consumedRole` version, then resolves `table`'s
    * head ONCE: the delta read is pinned to the version the pointer will
    * record as consumed (re-resolving "latest" races an ingest append,
    * whose rows would be folded but re-consumed forever). Nothing new:
    * the latest pointer version, nothing committed. Otherwise `(consumed,
    * head]` is read through `project`, checkpointed once and counted;
    * an empty delta (maintenance-only advance) re-pins the consumed
    * version alone, else `fold(ptr, delta, n, head)` commits the family.
    * The checkpoint is freed on every exit, thrown ones included.
    */
  def refresh(storage: Storage, name: String, consumedRole: String,
      table: String, project: DataFrame => DataFrame)(
      fold: (Row, DataFrame, Long, Long) => Long): Long = {
    val ptr = row(storage, name)
    val c = consumedPin(consumedRole)
    val since =
      if (ptr.schema.fieldNames.contains(c.column)) get(ptr, c.column) else -1L
    require(since >= 0L, s"$family '$name' was saved without its " +
      s"$consumedRole version; re-save with ${c.resave} to enable " +
      "incremental refresh")
    val vs = storage.versions(table)
    require(vs.nonEmpty, s"no versioned table '$table'")
    val head = vs.last
    if (head == since) return latest(storage, name)
    val delta = project(storage.readVersionedSince(table, since,
      toVersion = head)).localCheckpoint()
    try {
      // the checkpoint's RDD count: one job, where Dataset.count plans an
      // aggregate over a shuffle (two jobs under adaptive execution)
      val n = delta.queryExecution.toRdd.count()
      if (n == 0L) recommit(storage, name, ptr, c.column -> head)
      else fold(ptr, delta, n, head)
    } finally graft.operators.Artifacts.freeLocalCheckpoint(delta)
  }

  /** The ONE pointer writer: commit `<name><pointer>` with `pins` set and
    * every other column at its default. Returns the pointer version.
    */
  def commit(storage: Storage, name: String, pins: (String, Long)*): Long = {
    val given = pins.toMap
    val unknown = given.keySet -- columns.map(_._1)
    require(unknown.isEmpty, s"unknown $family pointer column(s): $unknown")
    val row = Row.fromSeq(columns.map { case (c, dflt) =>
      given.get(c).orElse(dflt).getOrElse(throw new IllegalArgumentException(
        s"$family pointer '$name$pointer' needs '$c'"))
    })
    storage.putVersioned(name + pointer, SparkSession.active
      .createDataFrame(java.util.Collections.singletonList(row), schema))
  }

  /** [[commit]] carrying every column of `ptr` (defaults for those it
    * lacks) except the re-pinned `pins`.
    */
  def recommit(storage: Storage, name: String, ptr: Row,
      pins: (String, Long)*): Long =
    commit(storage, name, columns.map(c => c._1 -> get(ptr, c._1)) ++ pins: _*)

  /** Compact the family at pointer `version` (default: latest): each
    * accreting arm is re-snapshotted at its pinned version into one
    * fresh directory (content-equal, so CDC readers of the arm keep
    * their diffability), each nested family compacts at the pointer
    * version this one pins, and the full pointer is re-written over the
    * new pins. Serve-identical by construction. Returns the new pointer
    * version.
    */
  def compact(storage: Storage, name: String, version: Long = -1L): Long = {
    val ptr = row(storage, name, version)
    recommit(storage, name, ptr, arms.collect {
      case a if a.nested.isDefined =>
        a.column -> a.nested.get.compact(storage, name + a.suffix,
          get(ptr, a.column))
      case a if a.accretes =>
        val pinned = get(ptr, a.column)
        a.column -> storage.putVersioned(a.table(name),
          storage.readVersioned(a.table(name), pinned),
          contentEqualTo = Some(pinned))
    }: _*)
  }

  /** Retention: keep the last `keepLastPointers` pointer versions, then
    * vacuum every arm, nested families included, keeping exactly what
    * the retained pointers pin. Returns (manifests deleted, data
    * directories deleted) across the family.
    */
  def vacuum(storage: Storage, name: String,
      keepLastPointers: Int): (Int, Int) = {
    val cs = storage.vacuumVersions(name + pointer, keepLastPointers) +:
      vacuumPinnedArms(storage, name)
    (cs.map(_._1).sum, cs.map(_._2).sum)
  }

  /** The ONE retention rule every persisted family shares: read each
    * RETAINED version of this pointer table (the caller has already
    * vacuumed it by its own policy — keep-last-K at the top, or
    * keep-what-the-parent-pins for a nested pointer), collect the
    * versions those pointers pin per arm, and vacuum each arm keeping
    * exactly that set, then recurse into nested families. The arms are
    * this layout's (see [[Pointers]]), matched BY NAME — a schema
    * reorder cannot silently re-target an arm.
    */
  private def vacuumPinnedArms(storage: Storage,
      name: String): Seq[(Int, Int)] = {
    // vacuum is DESTRUCTIVE: pointerRow's one-row guard refuses to
    // derive a keep set from a malformed (multi-row) pointer version
    val rows = storage.versions(name + pointer).map(v => row(storage, name, v))
    // an arm with no versions yet (hybrid lexstats before the first
    // frozen-stats save) has nothing to vacuum
    arms.filter(a => storage.versions(a.table(name)).nonEmpty).map { a =>
      // retained pointer versions predating a schema upgrade may lack
      // the column, and -1 sentinels pin nothing — neither contributes
      // to the keep set (keep-latest safety still applies underneath)
      storage.vacuumVersionsKeeping(a.table(name), rows
        .filter(_.schema.fieldNames.contains(a.column))
        .map(_.getAs[Long](a.column)).filter(_ >= 0L).toSet)
    } ++ arms.flatMap(a =>
      a.nested.toSeq.flatMap(_.vacuumPinnedArms(storage, name + a.suffix)))
  }
}

/** The pointer layout of every persisted family. A family's pointer
  * columns, arm tables and consumed corpora are declared here and
  * nowhere else.
  */
private[api] object Pointers {

  val Ann = PointerLayout("__ann", "ann",
    Seq("centroids_version" -> None, "lists_version" -> None,
      "corpus_version" -> None, "stale_rows" -> Some(0L)),
    Seq(Arm("centroids", "__centroids", "centroids_version"),
      // stale_rows: vectors assigned under the frozen centroids since
      // the last train (the retrain dial)
      Arm("lists", "__lists", "lists_version", accretes = true,
        drift = Some("stale_rows")),
      Consumed("corpus", "corpus_version",
        resave = "saveAnnIndex(index, storage, name, corpusVersion)")))

  val Hybrid = PointerLayout("__hybrid", "hybrid",
    Seq("postings_version" -> None, "dense_version" -> None,
      "lexdf_version" -> Some(-1L), "docs_version" -> Some(-1L),
      "n_docs" -> Some(-1L), "sum_dl" -> Some(-1L), "stale_docs" -> Some(0L)),
    Seq(Arm("postings", "__postings", "postings_version", accretes = true),
      Arm("dense", "__dense", "dense_version", nested = Some(Ann)),
      Consumed("corpus", "corpus_version", via = Some("dense")),
      // frozen lexical stats, absent until the family freezes them:
      // stale_docs = docs appended under the frozen idf/avgdl since the
      // last exact recalc
      Arm("lexstats", "__lexdf", "lexdf_version",
        drift = Some("stale_docs"), optional = true),
      Consumed("docs", "docs_version", key = "/docs", optional = true)))

  val IvfPq = PointerLayout("__ivfpq", "ivfpq",
    Seq("coarse_version" -> None, "codebooks_version" -> None,
      "codes_version" -> None, "corpus_version" -> None,
      "stale_rows" -> Some(0L)),
    Seq(Arm("codebooks", "__codebooks", "codebooks_version"),
      // stale_rows: vectors encoded under the frozen codebooks (and
      // coarse centroids) since the last train
      Arm("codes", "__codes", "codes_version", accretes = true,
        drift = Some("stale_rows")),
      Arm("coarse", "__coarse", "coarse_version", nested = Some(Ann)),
      Consumed("corpus", "corpus_version",
        resave = "saveIvfPqIndex(index, storage, name, corpusVersion)")))

  val PairMining = PointerLayout("__pmb", "pmb",
    Seq("fps_version", "index_version", "docs_version", "vectors_version")
      .map(_ -> None),
    Seq(Arm("fps", "__fps", "fps_version", accretes = true),
      Arm("index", "__index", "index_version", nested = Some(Ann)),
      Consumed("docs", "docs_version", key = "/docs"),
      Consumed("vectors", "vectors_version", key = "/vectors")))

  val Tok = PointerLayout("__tok", "tok",
    Seq("merges_version", "vocab_version").map(_ -> None),
    Seq(Arm("merges", "__merges", "merges_version"),
      Arm("vocab", "__vocab", "vocab_version")))

  /** The persisted TextRank model; map `name -> docs table` for lag. */
  val TextRank = PointerLayout("__tr", "textrank",
    Seq("pairs_version", "ranks_version", "docs_version").map(_ -> None),
    Seq(Arm("pairs", "__pairs", "pairs_version"),
      Arm("ranks", "__ranks", "ranks_version"),
      Consumed("docs", "docs_version",
        resave = "saveRankModel(model, storage, name, docsVersion)")))

  /** The persisted growth ledger ([[Events]]); map `name -> events
    * table` for lag.
    */
  val Ledger = PointerLayout("__gl", "ledger",
    Seq("act_version", "ledger_version", "events_version").map(_ -> None),
    Seq(Arm("activity", "__act", "act_version", accretes = true),
      Arm("ledger", "__ledger", "ledger_version"),
      Consumed("events", "events_version",
        resave = "buildGrowthLedger(storage, eventsTable, name)")))

  /** Refresh-aware retention of a consumed corpus table: keep its last
    * `keepLast` versions PLUS every version at or after `consumed`, so
    * the version the next refresh diffs from is never reclaimed, however
    * the cadences interleave. `writer` is the stream owning the table.
    */
  def retainConsumed(storage: Storage, table: String, keepLast: Int,
      consumed: Long, writer: String): Unit = {
    val vs = storage.versions(table)
    storage.vacuumVersionsKeeping(table,
      vs.takeRight(keepLast).toSet ++ vs.filter(_ >= consumed), writer = writer)
    ()
  }

  val All: Seq[PointerLayout] =
    Seq(Ann, Hybrid, IvfPq, PairMining, Tok, TextRank, Ledger)
}
