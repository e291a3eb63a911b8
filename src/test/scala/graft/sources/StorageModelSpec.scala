package graft.sources

import java.nio.file.Files

import graft.SparkTestBase

/** Model-based fuzz of the versioned-table commit protocol. A random
  * program of puts, appends, idempotent batch appends, replays,
  * compactions, rollbacks, vacuums, writer takeovers, fenced/unfenced
  * batch appends, and base-pinned appends runs against BOTH the real
  * [[Storage]] and a trivial in-memory model (retained versions → row
  * sets, plus the writer/epoch fence state). After every op, every
  * read the storage offers must either match the model exactly or
  * refuse honestly:
  *
  *  - `versions` equals the model's retained version ids;
  *  - `readVersioned(latest)` and time travel to any retained version
  *    equal the model's content for that version, with the schema
  *    inference over that version's directories reports;
  *  - `readVersionedSince(v)` either returns EXACTLY the rows added
  *    after `v` (success implies correctness — the content-equal
  *    `#base=` chain must never fabricate or drop a row, whatever
  *    compaction/rollback/takeover/append-onto chain the program
  *    produced, INCLUDING across epoch bumps) or throws the documented
  *    refusal; and a successful since-read is only legal when no
  *    consumed row was rolled away;
  *  - a replayed batch id commits nothing (its junk rows would poison
  *    every later equality if it did);
  *  - a WRONG-writer batch append and wrong-writer maintenance verbs
  *    refuse and leave the table untouched (the fence), while the
  *    owner's ops all pass; a takeover opens a fresh batch-id space
  *    whose appends commit.
  *
  * Hand-written fixtures pin each verb; this pins their COMPOSITIONS
  * — the chains (takeover → append → compact → onto-append → vacuum →
  * CDC diff) a long-lived production table actually accumulates.
  * Seeded, so a failure replays deterministically. The soak asserts
  * COVERAGE of the refusal paths: across the seeds, every fence
  * refusal class must have fired at least once, or the soak was not
  * exercising what it claims.
  */
class StorageModelSpec extends SparkTestBase {
  import spark.implicits._

  // refusal-path coverage across the whole soak
  private var fencedAppendRefusals = 0
  private var fencedMaintRefusals = 0
  private var replaysSkipped = 0
  private var takeovers = 0
  private var ontoAppends = 0

  test("commit-protocol fuzz: random op programs (incl. takeover/fence/append-onto) match the model or refuse honestly") {
    Seq(11L, 20260816L, 7L, 42L, 99L, 31337L).foreach(fuzz)
    // the widened alphabet must actually exercise every refusal path
    // at least once per soak — a fuzz that never hits the fence is not
    // testing the fence
    assert(fencedAppendRefusals > 0, "no wrong-writer append was exercised")
    assert(fencedMaintRefusals > 0, "no wrong-writer maintenance was exercised")
    assert(replaysSkipped > 0, "no replay skip was exercised")
    assert(takeovers > 0, "no takeover was exercised")
    assert(ontoAppends > 0, "no base-pinned append was exercised")
  }

  private def fuzz(seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    val wh = Files.createTempDirectory(s"graft-fuzz$seed-").toString
    val st = new Storage(spark, wh)
    val name = s"fuzz$seed"
    def df(xs: Seq[Long]) = xs.map(Tuple1(_)).toDF("x")
    var nextRow = 0L
    def fresh(k: Int): Seq[Long] =
      (0 until k).map { _ => nextRow += 1; nextRow }
    // the model: retained versions in commit order, each with its
    // full row-set content — plus the fence state (owning writer
    // token, epoch, next batch id IN the current epoch; a takeover
    // resets the batch-id space, exactly like the real protocol)
    var model = Vector.empty[(Long, Set[Long])]
    var owner: Option[String] = None
    var epoch = 0L
    var nextBatch = 0L
    def token: String = owner.getOrElse("")

    val r0 = fresh(2)
    model :+= ((st.putVersioned(name, df(r0)), r0.toSet))

    for (op <- 1 to 70) {
      rnd.nextInt(10) match {
        case 0 => // plain append (fence-exempt by design: additive)
          val r = fresh(1 + rnd.nextInt(3))
          val v = st.appendVersioned(name, df(r))
          model :+= ((v, model.last._2 ++ r))
        case 1 => // idempotent batch append, a NEW batch id, as owner
          // (the FIRST tokened append claims the fence on an unfenced
          // table, exactly like a sink's first batch)
          if (owner.isEmpty) owner = Some(s"cp-e$epoch")
          val r = fresh(1 + rnd.nextInt(2))
          val res = st.appendBatchIdempotent(name, df(r), nextBatch,
            writer = token)
          assert(res.nonEmpty, s"seed=$seed op=$op: new batch must commit")
          model :+= ((res.get, model.last._2 ++ r))
          nextBatch += 1
        case 2 => // replay a past batch id OF THIS EPOCH: must be a
          // no-op, junk rows must never land (they would break every
          // later equality)
          if (nextBatch > 0) {
            val replayId = (rnd.nextLong().abs) % nextBatch
            assert(st.appendBatchIdempotent(name,
              df(Seq(900000L + op)), replayId, writer = token).isEmpty,
              s"seed=$seed op=$op: replay of batch $replayId must skip")
            replaysSkipped += 1
          }
        case 3 => // compaction (content-equal re-snapshot), as owner
          val v = st.compactVersions(name, writer = token)
          model :+= ((v, model.last._2))
        case 4 => // rollback to a random RETAINED version, as owner
          val (tv, tc) = model(rnd.nextInt(model.size))
          val v = st.rollbackVersioned(name, tv, writer = token)
          model :+= ((v, tc))
        case 5 => // vacuum, keeping a random tail, as owner
          val keep = 1 + rnd.nextInt(model.size)
          st.vacuumVersions(name, keep, writer = token)
          model = model.takeRight(keep)
        case 6 => // takeover: a new writer claims the table — fresh
          // epoch, fresh batch-id space, content unchanged
          epoch += 1
          val newTok = s"cp-e$epoch"
          val v = st.takeOverVersioned(name, newTok)
          model :+= ((v, model.last._2))
          owner = Some(newTok)
          nextBatch = 0L
          takeovers += 1
        case 7 => // wrong-writer batch append on a FENCED table: must
          // refuse loudly and commit nothing — the silent-data-loss
          // edge the fence exists for
          if (owner.nonEmpty) {
            intercept[IllegalStateException] {
              st.appendBatchIdempotent(name, df(Seq(800000L + op)),
                nextBatch, writer = "zombie")
            }
            fencedAppendRefusals += 1
          }
        case 8 => // wrong-writer maintenance on a FENCED table: every
          // verb refuses and the table is untouched
          if (owner.nonEmpty) {
            rnd.nextInt(3) match {
              case 0 => intercept[IllegalStateException] {
                st.compactVersions(name, writer = "zombie")
              }
              case 1 => intercept[IllegalStateException] {
                st.vacuumVersions(name, 1)
              }
              case 2 => intercept[IllegalStateException] {
                st.rollbackVersioned(name, model.head._1, writer = "zombie")
              }
            }
            fencedMaintRefusals += 1
          }
        case 9 => // base-pinned append from a random RETAINED base:
          // content = base + delta, REGARDLESS of later commits (the
          // crashed-refresh idempotence shape)
          val (bv, bc) = model(rnd.nextInt(model.size))
          val r = fresh(1 + rnd.nextInt(2))
          val v = st.appendVersionedOnto(name, df(r), bv)
          model :+= ((v, bc ++ r))
          ontoAppends += 1
      }

      // ---- invariants after every op ----
      assert(st.versions(name) == model.map(_._1),
        s"seed=$seed op=$op: retained versions diverged")
      // compare as sorted SEQUENCES, not sets: row values are unique
      // by construction, so a duplicate — the double-indexing failure
      // class the idempotent machinery exists to prevent — shows up
      // as a longer sequence instead of vanishing into a set. The
      // schema a read reports (the manifest's `#schema=` when it has
      // one) must be the one inference over its directories reports.
      def read(v: Long): Seq[Long] = {
        val got = st.readVersioned(name, v)
        assert(got.schema == VersionedFiles.inferred(spark, wh, name, v).schema,
          s"seed=$seed op=$op: schema of $v diverged from inference")
        got.collect().map(_.getLong(0)).sorted.toSeq
      }
      assert(read(model.last._1) == model.last._2.toSeq.sorted,
        s"seed=$seed op=$op: latest content diverged")
      // time travel to a random retained version
      val (rv, rc) = model(rnd.nextInt(model.size))
      assert(read(rv) == rc.toSeq.sorted,
        s"seed=$seed op=$op: time travel to $rv")
      // CDC diff from a random retained version: success must be
      // exact; refusal must be the documented exception; success is
      // only legal when nothing consumed was rolled away (an
      // onto-append from an old base legitimately DROPS later rows —
      // a consumer of those rows must then be refused, not fed a
      // fabricated delta)
      val (av, ac) = model(rnd.nextInt(model.size))
      try {
        val got = st.readVersionedSince(name, av).collect()
          .map(_.getLong(0)).sorted.toSeq
        assert(ac.subsetOf(model.last._2),
          s"seed=$seed op=$op: since($av) succeeded after rows consumed " +
            "at that version were rolled away — it must refuse")
        assert(got == (model.last._2 -- ac).toSeq.sorted,
          s"seed=$seed op=$op: since($av) returned a wrong delta")
      } catch {
        case _: IllegalArgumentException => () // honest refusal
      }
    }
    // a vacuumed-away version refuses time travel (when any exists)
    val retained = model.map(_._1).toSet
    (1L until model.last._1).filterNot(retained).take(1).foreach { v =>
      intercept[IllegalArgumentException] { st.readVersioned(name, v) }
    }
    st.delete(name)
  }
}
