package graft.sources

import java.nio.file.Files

import graft.SparkTestBase

class StorageSpec extends SparkTestBase {
  import spark.implicits._

  private def freshStorage(): Storage =
    new Storage(spark, Files.createTempDirectory("graft-wh-").toString)

  test("put/get round-trips a DataFrame") {
    val st = freshStorage()
    val df = Tables.nation(spark, sf0001)
    st.put("nation_copy", df)
    assert(st.get("nation_copy").collect().toSet == df.collect().toSet)
  }

  test("put refuses to overwrite an existing name (reference semantics)") {
    val st = freshStorage()
    st.put("f", Tables.region(spark, sf0001))
    intercept[IllegalArgumentException] {
      st.put("f", Tables.region(spark, sf0001))
    }
    st.put("f", Tables.region(spark, sf0001), overwrite = true)
  }

  test("putText/getText round-trips lines") {
    val st = freshStorage()
    val lines = Seq("alpha beta", "gamma", "").toDS()
    st.putText("t", lines)
    assert(st.getText("t").collect().sorted.toSeq ==
      lines.collect().sorted.toSeq)
  }

  test("putBytes/getBytes round-trips an opaque binary file, SHA-256-verified") {
    val st = freshStorage()
    // deterministic pseudo-random bytes spanning the full byte range,
    // larger than one stream buffer
    val rnd = new java.util.Random(42)
    val blob = new Array[Byte](1 << 20)
    rnd.nextBytes(blob)
    def sha(b: Array[Byte]) =
      java.security.MessageDigest.getInstance("SHA-256").digest(b).toSeq
    st.putBytes("tarball", blob)
    assert(sha(st.getBytes("tarball")) == sha(blob))
    // reference put semantics: refuse silent overwrite, allow explicit
    intercept[IllegalArgumentException] { st.putBytes("tarball", blob) }
    st.putBytes("tarball", blob.take(10), overwrite = true)
    assert(st.getBytes("tarball").toSeq == blob.take(10).toSeq)
    // the distributed face reads the same bytes through binaryFile,
    // and the format sidecar routes getAs there too
    val row = st.getBinary("tarball").collect()
    assert(row.length == 1 && row(0).getAs[Array[Byte]]("content").toSeq ==
      blob.take(10).toSeq)
    assert(st.getAs("tarball").collect().length == 1)
    // usual verb surface: ls sees it, delete removes it
    assert(st.ls().exists(_.name == "tarball"))
    assert(st.delete("tarball") && !st.exists("tarball"))
  }

  test("upsert merges a changelog: updates win by version, absent keys survive, new keys insert") {
    val st = freshStorage()
    st.put("snap", Seq(
      (1L, 10L, "a"), (2L, 10L, "b"), (3L, 10L, "c"))
      .toDF("k", "ver", "payload"))
    st.upsert("snap", Seq(
      (1L, 11L, "a2"),   // newer version → replaces
      (2L, 9L, "stale"), // OLDER version → must NOT regress the snapshot
      (4L, 10L, "d"))    // new key → inserts
      .toDF("k", "ver", "payload"),
      "k", Seq("ver"))
    val got = st.get("snap").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got == Map(
      1L -> ((11L, "a2")), 2L -> ((10L, "b")),
      3L -> ((10L, "c")), 4L -> ((10L, "d"))))
    // idempotent: re-applying the same changelog changes nothing
    st.upsert("snap", Seq((1L, 11L, "a2")).toDF("k", "ver", "payload"),
      "k", Seq("ver"))
    assert(st.get("snap").count() == 4)
  }

  test("upsert refuses missing names and non-column orderCols") {
    val st = freshStorage()
    intercept[IllegalArgumentException] {
      st.upsert("nope", Seq((1L, 1L, "x")).toDF("k", "ver", "payload"),
        "k", Seq("ver"))
    }
    st.put("s", Seq((1L, 1L, "x")).toDF("k", "ver", "payload"))
    intercept[IllegalArgumentException] {
      st.upsert("s", Seq((1L, 1L, "x")).toDF("k", "ver", "payload"),
        "k", Seq("k")) // the key can't be its own ordering column
    }
  }

  test("ls lists stored names with sizes; delete removes them") {
    val st = freshStorage()
    assert(st.ls().isEmpty)
    st.put("a", Tables.region(spark, sf0001))
    st.put("b", Tables.nation(spark, sf0001))
    val listing = st.ls()
    assert(listing.map(_.name) == Seq("a", "b"))
    assert(listing.forall(_.bytes > 0))
    assert(st.delete("a"))
    assert(!st.delete("a"))
    assert(st.ls().map(_.name) == Seq("b"))
  }

  test("format-parameterized put/get round-trips csv, json, and orc") {
    val st = freshStorage()
    val df = Tables.nation(spark, sf0001)
    st.putAs("n_csv", df, "csv")
    st.putAs("n_json", df, "json")
    st.putAs("n_orc", df, "orc")
    val viaCsv = st.getAs("n_csv")
      .select("n_nationkey", "n_name", "n_regionkey").collect().toSet
    val viaJson = st.getAs("n_json")
      .select("n_nationkey", "n_name", "n_regionkey").collect().toSet
    val viaOrc = st.getAs("n_orc")
      .select("n_nationkey", "n_name", "n_regionkey").collect().toSet
    val expect = df.collect().toSet
    assert(viaJson == expect)
    assert(viaOrc == expect) // columnar format: schema survives exactly
    assert(viaCsv.map(_.toString) == expect.map(_.toString))
    // sidecar format metadata survives; ls is not polluted by sidecars
    assert(st.ls().map(_.name).toSet == Set("n_csv", "n_json", "n_orc"))
  }

  test("partitioned writes prune partitions at scan time") {
    val st = freshStorage()
    st.putPartitioned("orders_p", Tables.orders(spark, sf0001)
      .withColumn("status", org.apache.spark.sql.functions.col("o_orderstatus")),
      Seq("status"))
    val q = st.get("orders_p")
      .filter(org.apache.spark.sql.functions.col("status") === "F")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(status"),
      s"partition filter not pushed:\n$scan")
    val expect = Tables.orders(spark, sf0001)
      .filter(org.apache.spark.sql.functions.col("o_orderstatus") === "F").count()
    assert(q.count() == expect)
  }

  test("compact rewrites many small files into the target count, same rows") {
    val st = freshStorage()
    val df = Tables.orders(spark, sf0001)
    st.put("o_small", df.repartition(37))
    assert(st.ls().head.numFiles >= 37)
    val bytes = st.ls().head.bytes
    // target ~half the stored bytes → exactly 2 files
    val n = st.compact("o_small", targetFileBytes = (bytes + 1) / 2)
    assert(n == 2)
    assert(st.get("o_small").collect().toSet == df.collect().toSet)
    // temp/old dirs are gone and hidden from ls
    assert(st.ls().map(_.name) == Seq("o_small"))
  }

  test("compact refuses missing names, non-parquet formats, and partitioned trees") {
    val st = freshStorage()
    intercept[IllegalArgumentException] { st.compact("nope") }
    st.putAs("c", Tables.region(spark, sf0001), "csv")
    intercept[IllegalArgumentException] { st.compact("c") }
    st.putPartitioned("p", Tables.orders(spark, sf0001)
      .withColumn("st", org.apache.spark.sql.functions.col("o_orderstatus")),
      Seq("st"))
    val e = intercept[IllegalArgumentException] { st.compact("p") }
    assert(e.getMessage.contains("hive-partitioned"))
  }

  test("putClustered writes disjoint key ranges with parquet stats that skip files") {
    import org.apache.spark.sql.functions._
    val st = freshStorage()
    val df = Tables.orders(spark, sf0001)
    st.putClustered("o_clust", df, Seq("o_orderkey"), numFiles = 4)
    // every part file covers a key range disjoint from the others
    val ranges = st.get("o_clust").inputFiles.toSeq.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("o_orderkey"), max("o_orderkey")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    assert(ranges.size == 4)
    assert(ranges.sliding(2).forall {
      case Seq((_, hi), (lo, _)) => hi < lo
      case _ => true
    })
    // rows survive and a range predicate still answers exactly
    val k = df.agg(expr("percentile(o_orderkey, 0.5)")).head().getDouble(0).toLong
    assert(st.get("o_clust").filter(col("o_orderkey") <= k).count() ==
      df.filter(col("o_orderkey") <= k).count())
  }

  test("putZOrdered clusters BOTH dimensions: every file covers a compact rectangle") {
    import org.apache.spark.sql.functions._
    val st = freshStorage()
    val df = Tables.orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    st.putZOrdered("o_z", df, "o_custkey", "o_totalprice", numFiles = 8)
    assert(st.get("o_z").count() == df.count())
    val g = df.agg(
      min("o_custkey").cast("double"), max("o_custkey").cast("double"),
      min("o_totalprice"), max("o_totalprice")).head()
    val (w1, w2) = (g.getDouble(1) - g.getDouble(0), g.getDouble(3) - g.getDouble(2))
    val covers = st.get("o_z").inputFiles.toSeq.map { f =>
      val r = spark.read.parquet(f).agg(
        min("o_custkey").cast("double"), max("o_custkey").cast("double"),
        min("o_totalprice"), max("o_totalprice")).head()
      ((r.getDouble(1) - r.getDouble(0)) / w1,
        (r.getDouble(3) - r.getDouble(2)) / w2)
    }
    assert(covers.size == 8)
    // each file's coverage of EITHER dimension is a fraction of the
    // global range (a random layout covers ~1.0 of both; 1-D clustering
    // covers ~1/8 of one and ~1.0 of the other)
    val mean1 = covers.map(_._1).sum / covers.size
    val mean2 = covers.map(_._2).sum / covers.size
    assert(mean1 <= 0.7, s"custkey mean coverage $mean1")
    assert(mean2 <= 0.7, s"totalprice mean coverage $mean2")
    // and a 1-D clustered layout does NOT skip on the second column
    st.putClustered("o_c1", df, Seq("o_custkey"), numFiles = 8)
    val c1Covers2 = st.get("o_c1").inputFiles.toSeq.map { f =>
      val r = spark.read.parquet(f).agg(min("o_totalprice"), max("o_totalprice")).head()
      (r.getDouble(1) - r.getDouble(0)) / w2
    }
    assert(c1Covers2.sum / c1Covers2.size > mean2,
      "z-order must beat 1-D clustering on the second dimension")
  }

  test("info reports parallelism and totals") {
    val st = freshStorage()
    st.put("x", Tables.region(spark, sf0001))
    val i = st.info()
    assert(i.defaultParallelism > 0)
    assert(i.storedFiles == 1)
    assert(i.totalBytes > 0)
  }

  test("versioned tables: O(delta) appends, stable snapshots, time travel, rollback") {
    val st = freshStorage()
    def batch(lo: Int, hi: Int) = (lo until hi).map(i => (i.toLong, s"r$i"))
      .toDF("id", "payload")
    assert(st.versions("vt").isEmpty)
    assert(st.putVersioned("vt", batch(0, 10)) === 1L)
    assert(st.appendVersioned("vt", batch(10, 15)) === 2L)
    assert(st.appendVersioned("vt", batch(15, 17)) === 3L)
    assert(st.versions("vt") === Seq(1L, 2L, 3L))
    // latest sees everything; each version is the union of its appends
    assert(st.readVersioned("vt").count() === 17)
    assert(st.readVersioned("vt", 1).collect().map(_.getLong(0)).sorted.toSeq
      === (0L until 10L))
    assert(st.readVersioned("vt", 2).count() === 15)
    // an earlier snapshot is immutable: re-reading v1 after appends is
    // byte-identical (the manifest pins the directory set)
    val v1 = st.readVersioned("vt", 1).collect().toSet
    st.appendVersioned("vt", batch(17, 20))
    assert(st.readVersioned("vt", 1).collect().toSet === v1)
    // rollback commits a NEW version equal to the old snapshot
    val rb = st.rollbackVersioned("vt", 2)
    assert(rb === 5L)
    assert(st.readVersioned("vt").count() === 15)
    assert(st.readVersioned("vt", 4).count() === 20,
      "rollback must not destroy the rolled-back-over version")
  }

  test("versioned tables: losing a commit race fails cleanly and leaves no orphan") {
    val st = freshStorage()
    st.putVersioned("race", Seq((1L, "a")).toDF("id", "payload"))
    // simulate a concurrent winner for v2 by pre-publishing its manifest
    val root = new java.io.File(
      java.nio.file.Paths.get(new java.net.URI(
        st.readVersioned("race").inputFiles.head)).toFile.getParentFile
        .getParentFile.getParentFile, "manifests")
    val winner = new java.io.File(root, "v000002.manifest")
    java.nio.file.Files.write(winner.toPath, "data/v1\n".getBytes)
    // the loser derived its delta from v1 and CAS-appends on it — the
    // pre-published v2 wins and the append must fail, not fork history
    intercept[IllegalStateException] {
      st.appendVersioned("race", Seq((2L, "b")).toDF("id", "payload"),
        expectedVersion = Some(1L))
    }
    // the loser's data directory was cleaned up; the table still reads
    // (attempt dirs are nonce-suffixed, so scan by version prefix)
    val dataRoot = new java.io.File(root.getParentFile, "data")
    assert(!Option(dataRoot.listFiles()).toSeq.flatten
      .exists(_.getName.startsWith("v2")),
      "the losing attempt must remove its own data directory")
    assert(st.readVersioned("race", 1).count() === 1)
  }

  test("compactVersions: one-directory manifest, same rows, history intact, CAS refusal") {
    val st = freshStorage()
    def batch(lo: Int, hi: Int) = (lo until hi).map(i => (i.toLong, s"r$i"))
      .toDF("id", "payload")
    st.putVersioned("ct", batch(0, 5))
    st.appendVersioned("ct", batch(5, 9))
    st.appendVersioned("ct", batch(9, 12))
    val before = st.readVersioned("ct").collect().toSet
    val cv = st.compactVersions("ct")
    assert(cv === 4L)
    // same snapshot through one fresh directory
    assert(st.readVersioned("ct").collect().toSet === before)
    assert(st.readVersioned("ct", cv).inputFiles
      .map(f => f.substring(0, f.lastIndexOf('/'))).distinct.length === 1,
      "the compacted version must read from exactly one data directory")
    // pre-compaction versions stay readable (nothing was deleted)
    assert(st.readVersioned("ct", 1L).count() === 5)
    assert(st.readVersioned("ct", 3L).collect().toSet === before)
    // CAS: compacting against a stale expected version refuses cleanly
    st.appendVersioned("ct", batch(12, 13))
    intercept[IllegalStateException] {
      st.compactVersions("ct", expectedVersion = Some(cv - 1))
    }
    assert(st.readVersioned("ct").count() === 13)
  }

  test("a streaming batch replayed AFTER compaction is still recognized and skipped") {
    val st = freshStorage()
    def rows(xs: Long*) = xs.map(x => Tuple1(x)).toDF("x")
    // a stream lands batches 0..2, then the table is compacted (the
    // manifest collapses to one directory — every data/b<id> line is
    // gone, the r10-ADVICE replay hole)
    assert(st.appendBatchIdempotent("ev", rows(1L, 2L), 0L).nonEmpty)
    assert(st.appendBatchIdempotent("ev", rows(3L), 1L).nonEmpty)
    assert(st.appendBatchIdempotent("ev", rows(4L, 5L), 2L).nonEmpty)
    st.compactVersions("ev")
    // disaster recovery: the checkpoint is restored from before the
    // compaction and Spark replays old batch ids — the high-water
    // header must recognize every one of them
    assert(st.appendBatchIdempotent("ev", rows(3L), 1L).isEmpty,
      "batch 1 replayed after compaction must be skipped")
    assert(st.appendBatchIdempotent("ev", rows(4L, 5L), 2L).isEmpty)
    assert(st.appendBatchIdempotent("ev", rows(1L, 2L), 0L).isEmpty)
    assert(st.readVersioned("ev").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L, 3L, 4L, 5L), "no duplicate rows after replays")
    // the stream then advances: a genuinely NEW batch commits
    assert(st.appendBatchIdempotent("ev", rows(6L), 3L).nonEmpty)
    assert(st.readVersioned("ev").count() === 6)
    // and the high water carries through SUBSEQUENT compactions and
    // legacy re-snapshots (putVersioned is also a commit) alike
    st.compactVersions("ev")
    assert(st.appendBatchIdempotent("ev", rows(6L), 3L).isEmpty)
    // time travel to a pre-compaction version still reads its batches
    assert(st.readVersioned("ev", 3L).count() === 5,
      "compaction must never delete directories older manifests reference")
  }

  test("vacuumVersions frees dropped history but never a retained or in-flight directory") {
    val st = freshStorage()
    def rows(xs: Long*) = xs.map(x => Tuple1(x)).toDF("x")
    // v1..v3: batches 0..2; v4: compaction; v5: batch 3 on top
    (0 to 2).foreach(i => st.appendBatchIdempotent("vac", rows(i * 10L), i.toLong))
    st.compactVersions("vac")
    st.appendBatchIdempotent("vac", rows(30L), 3L)
    val before = st.readVersioned("vac").collect().toSet
    val (manifestsGone, dirsGone) = st.vacuumVersions("vac", keepLast = 2)
    assert(manifestsGone == 3 && dirsGone == 3,
      s"v1..v3 manifests and b0..b2 dirs must go: ($manifestsGone, $dirsGone)")
    assert(st.versions("vac") == Seq(4L, 5L))
    // the retained snapshots read in full
    assert(st.readVersioned("vac").collect().toSet == before)
    assert(st.readVersioned("vac", 4L).count() == 3)
    // vacuumed versions refuse instead of reading deleted files
    intercept[IllegalArgumentException] { st.readVersioned("vac", 2L) }
    // the high water survives the vacuumed batch DIRECTORIES: replays
    // of batches 0..3 are still recognized with their dirs gone
    (0 to 3).foreach { i =>
      assert(st.appendBatchIdempotent("vac", rows(99L), i.toLong).isEmpty,
        s"batch $i replayed after vacuum must be skipped")
    }
    // and the stream continues
    assert(st.appendBatchIdempotent("vac", rows(40L), 4L).nonEmpty)
    assert(st.readVersioned("vac").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(0L, 10L, 20L, 30L, 40L))
    // keepLast sanity
    intercept[IllegalArgumentException] { st.vacuumVersions("vac", 0) }
  }

  test("concurrent batch appends and compactions interleave without loss or duplication") {
    val st = freshStorage()
    def rows(x: Long) = Seq(Tuple1(x)).toDF("x")
    st.putVersioned("conc", rows(-1L))
    // the appender's CAS-retry loop absorbs every lost race; the
    // compactor is retry-less BY DESIGN (a lost compaction is moot —
    // the next one re-derives from the new latest) and just tries again
    val compactorErrors = new java.util.concurrent.atomic.AtomicInteger(0)
    val appender = new Thread(() =>
      (0 until 10).foreach(i => st.appendBatchIdempotent("conc", rows(i.toLong), i.toLong)))
    val compactor = new Thread(() =>
      (0 until 12).foreach { _ =>
        try st.compactVersions("conc")
        catch { case _: IllegalStateException => compactorErrors.incrementAndGet() }
        Thread.sleep(30)
      })
    appender.start(); compactor.start()
    appender.join(120000); compactor.join(120000)
    val got = st.readVersioned("conc").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (-1L until 10L).toSeq,
      s"every batch exactly once across interleaved compactions: $got")
    // replay after all that churn still dedups
    (0 until 10).foreach(i =>
      assert(st.appendBatchIdempotent("conc", rows(77L), i.toLong).isEmpty))
    assert(st.readVersioned("conc").count() == 11)
  }

  test("readVersionedSince reads exactly the delta, surviving compactions via #base; merges evolved schemas") {
    val st = freshStorage()
    def rows(xs: Long*) = xs.map(x => Tuple1(x)).toDF("x")
    st.appendBatchIdempotent("cdc", rows(1L, 2L), 0L) // v1
    st.appendBatchIdempotent("cdc", rows(3L), 1L)     // v2
    st.appendBatchIdempotent("cdc", rows(4L, 5L), 2L) // v3
    // the delta after v1 is batches 1 and 2 — no base-data scan
    assert(st.readVersionedSince("cdc", 1L).collect().map(_.getLong(0))
      .sorted.toSeq == Seq(3L, 4L, 5L))
    assert(st.readVersionedSince("cdc", 2L).collect().map(_.getLong(0))
      .sorted.toSeq == Seq(4L, 5L))
    // nothing since the latest: empty with the table's schema
    val empty = st.readVersionedSince("cdc", 3L)
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("x"))
    // incremental-ETL loop shape: consume, checkpoint version, repeat
    val seen = st.versions("cdc").last
    st.appendBatchIdempotent("cdc", rows(6L), 3L)
    assert(st.readVersionedSince("cdc", seen).collect().map(_.getLong(0))
      .toSeq == Seq(6L))
    // a compaction re-packs directories, but records itself as
    // CONTENT-EQUAL (#base=) — the delta diffs straight through it:
    // rows since v2 are batches 2..4 even though v2's directories were
    // re-packed away
    val cv = st.compactVersions("cdc")
    st.appendBatchIdempotent("cdc", rows(7L), 4L)
    assert(st.readVersionedSince("cdc", 2L).collect().map(_.getLong(0))
      .sorted.toSeq == Seq(4L, 5L, 6L, 7L),
      "the delta must survive an intervening compaction")
    assert(st.readVersionedSince("cdc", cv).collect().map(_.getLong(0))
      .toSeq == Seq(7L))
    // a consumer pins its window's upper end so what it reads and what
    // it checkpoints can never disagree under concurrent appends
    assert(st.readVersionedSince("cdc", 2L, toVersion = 3L).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(4L, 5L),
      "toVersion must bound the delta window")
    intercept[IllegalArgumentException] {
      st.readVersionedSince("cdc", 3L, toVersion = 2L)
    }
    // CHAINED re-snapshots recurse: another compaction + another batch,
    // still one exact delta from the pre-compaction version
    st.compactVersions("cdc")
    st.appendBatchIdempotent("cdc", rows(8L), 5L)
    assert(st.readVersionedSince("cdc", 2L).collect().map(_.getLong(0))
      .sorted.toSeq == Seq(4L, 5L, 6L, 7L, 8L),
      "the delta must survive chained compactions")
    // a rollback to BEFORE the consumed version refuses: the consumer
    // has seen rows no append-only delta can retract
    st.putVersioned("rb", rows(1L))
    st.appendVersioned("rb", rows(2L))
    st.appendVersioned("rb", rows(3L))
    st.rollbackVersioned("rb", 1L)
    val rbErr = intercept[IllegalArgumentException] {
      st.readVersionedSince("rb", 2L)
    }
    assert(rbErr.getMessage.contains("rolled back"), rbErr.getMessage)
    // ...but diffing from a version AT or BEFORE the rollback target
    // works: content-equality makes the delta exact
    assert(st.readVersionedSince("rb", 1L).count() == 0,
      "after rolling back to v1, nothing is new since v1")
    st.appendVersioned("rb", rows(9L))
    assert(st.readVersionedSince("rb", 1L).collect().map(_.getLong(0))
      .toSeq == Seq(9L))

    // schema evolution: a later batch adds a column; the merged read
    // widens, the default read keeps the latest writer's schema lean
    st.putVersioned("evo", Seq((1L, "a")).toDF("id", "payload"))
    st.appendVersioned("evo",
      Seq((2L, "b", 0.5)).toDF("id", "payload", "score"),
      allowSchemaEvolution = true)
    val merged = st.readVersioned("evo", mergeSchema = true)
    assert(merged.columns.toSet == Set("id", "payload", "score"))
    assert(merged.filter(merged("id") === 1L).select(merged("score"))
      .collect()(0).isNullAt(0), "pre-evolution rows null-fill new columns")
    assert(st.readVersionedSince("evo", 1L, mergeSchema = true)
      .columns.contains("score"))
  }

  test("lsVersioned and describeVersioned expose the catalog and commit-protocol history, metadata-only") {
    val st = freshStorage()
    def rows(xs: Long*) = xs.map(x => Tuple1(x)).toDF("x")
    st.putVersioned("h1", rows(1L))
    st.appendBatchIdempotent("h1", rows(2L), 0L, writer = "cpX")
    st.compactVersions("h1", writer = "cpX")
    st.putVersioned("h2", rows(9L))
    assert(st.lsVersioned() == Seq("h1", "h2"))
    val h = st.describeVersioned("h1").collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(3L, 2L, 1L), "newest first")
    // the compacted head: one directory, batch high water and writer
    // token carried, content_base marking what its rows equal
    assert(h(0).getInt(1) == 1 && h(0).getLong(3) == 0L &&
      h(0).getString(5) == "cpX" && h(0).getLong(6) == 2L)
    // the append: two directories, the same ownership metadata, no base
    assert(h(1).getInt(1) == 2 && h(1).getLong(3) == 0L &&
      h(1).getString(5) == "cpX" && h(1).isNullAt(6))
    // the original put: unfenced, pre-batch
    assert(h(2).getInt(1) == 1 && h(2).getLong(3) == -1L &&
      h(2).isNullAt(5) && h(2).isNullAt(6))
    assert(h.forall(_.getLong(2) > 0L),
      "bytes must sum the manifest's directories")
    intercept[IllegalArgumentException] { st.describeVersioned("nope") }
  }

  test("vacuumVersionsKeeping retains an explicit keep set plus latest; dropped versions refuse") {
    val st = freshStorage()
    def rows(xs: Long*) = xs.map(x => Tuple1(x)).toDF("x")
    st.putVersioned("ks", rows(1L))     // v1
    st.appendVersioned("ks", rows(2L))  // v2 (the pinned one)
    st.appendVersioned("ks", rows(3L))  // v3
    st.appendVersioned("ks", rows(4L))  // v4 (latest, always kept)
    val (m, d) = st.vacuumVersionsKeeping("ks", Set(2L))
    assert(m == 2, s"v1 and v3 manifests should drop, counted $m")
    assert(st.versions("ks") == Seq(2L, 4L))
    // the kept snapshot reads intact; dropped versions refuse
    assert(st.readVersioned("ks", 2L).collect().map(_.getLong(0))
      .sorted.toSeq == Seq(1L, 2L))
    assert(st.readVersioned("ks", 4L).collect().map(_.getLong(0))
      .sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    intercept[IllegalArgumentException] { st.readVersioned("ks", 3L) }
    // append-only lineage: every dir is shared with the latest
    // manifest, so nothing physical frees here — d counts honestly
    assert(d == 0, s"all dirs are referenced by v4, counted $d deleted")
  }

  test("appendVersionedOnto commits base + delta from the PINNED base; re-runs never stack the delta") {
    val st = freshStorage()
    def rows(xs: Long*) = xs.map(x => Tuple1(x)).toDF("x")
    st.putVersioned("onto", rows(1L, 2L))        // v1
    st.appendVersioned("onto", rows(3L))         // v2 (latest moves on)
    // base-pinned append: content is snapshot(v1) + delta, NOT latest +
    // delta — the unpinned v2 row is absent by design
    val v3 = st.appendVersionedOnto("onto", rows(4L), 1L)
    assert(st.readVersioned("onto", v3).collect().map(_.getLong(0))
      .sorted.toSeq == Seq(1L, 2L, 4L))
    // the crash-rerun shape: the SAME base-pinned append again (a
    // consumer that died before checkpointing its pointer re-runs) —
    // the delta appears exactly once in the new version, never stacked
    // on the orphaned v3
    val v4 = st.appendVersionedOnto("onto", rows(4L), 1L)
    assert(v4 == v3 + 1)
    assert(st.readVersioned("onto", v4).collect().map(_.getLong(0))
      .sorted.toSeq == Seq(1L, 2L, 4L))
    // history intact; latest is simply the newest commit
    assert(st.readVersioned("onto", 2L).collect().map(_.getLong(0))
      .sorted.toSeq == Seq(1L, 2L, 3L))
    // refusals: unknown base; schema gate is judged against the BASE
    intercept[IllegalArgumentException] {
      st.appendVersionedOnto("onto", rows(9L), 99L)
    }
    intercept[IllegalArgumentException] {
      st.appendVersionedOnto("onto", Seq(("s", 1L)).toDF("x", "y"), 1L)
    }
  }

  test("writer fence: a fresh-checkpoint stream refuses; takeover resumes with a fresh batch-id space") {
    val st = freshStorage()
    def rows(xs: Long*) = xs.map(x => Tuple1(x)).toDF("x")
    // stream A (writer token = its checkpoint identity) owns the table
    assert(st.appendBatchIdempotent("own", rows(1L), 0L, writer = "cpA").nonEmpty)
    assert(st.appendBatchIdempotent("own", rows(2L), 1L, writer = "cpA").nonEmpty)
    // same-writer replay still dedups (the fence must not break
    // exactly-once for the legitimate owner)
    assert(st.appendBatchIdempotent("own", rows(9L), 0L, writer = "cpA").isEmpty)
    assert(st.appendBatchIdempotent("own", rows(9L), 1L, writer = "cpA").isEmpty)
    // a NEW stream (rebuilt checkpoint -> batch ids restart at 0) must
    // REFUSE with an actionable error — before the fence, batch 0 would
    // have been silently discarded as a "replay" of the old batch 0
    val e = intercept[IllegalStateException] {
      st.appendBatchIdempotent("own", rows(100L), 0L, writer = "cpB")
    }
    assert(e.getMessage.contains("cpA") &&
      e.getMessage.contains("takeOverVersioned"),
      s"the refusal must name the owner and the handover verb: ${e.getMessage}")
    // a token-less direct append to an owned table refuses too (the
    // second-query hazard is the same silent skip)
    intercept[IllegalStateException] {
      st.appendBatchIdempotent("own", rows(100L), 5L)
    }
    assert(st.readVersioned("own").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L), "nothing from the fenced writer may land")
    // explicit handover: the new writer's restarted batch ids COMMIT
    // (fresh epoch + reset high water), and the old data survives
    st.takeOverVersioned("own", "cpB")
    assert(st.appendBatchIdempotent("own", rows(100L), 0L, writer = "cpB").nonEmpty,
      "after takeover the new stream's batch 0 must commit")
    assert(st.appendBatchIdempotent("own", rows(101L), 1L, writer = "cpB").nonEmpty)
    // the new epoch's OWN replays dedup
    assert(st.appendBatchIdempotent("own", rows(9L), 0L, writer = "cpB").isEmpty)
    // the zombie old writer is fenced out
    intercept[IllegalStateException] {
      st.appendBatchIdempotent("own", rows(9L), 2L, writer = "cpA")
    }
    assert(st.readVersioned("own").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 100L, 101L))
    // maintenance carries the fence + epoch horizon: the OWNER's
    // compaction, then replay of BOTH epochs' batch ids still dedups
    st.compactVersions("own", writer = "cpB")
    assert(st.appendBatchIdempotent("own", rows(9L), 1L, writer = "cpB").isEmpty)
    assert(st.appendBatchIdempotent("own", rows(102L), 2L, writer = "cpB").nonEmpty)
    // vacuum reclaims both epochs' batch directories, nothing retained
    val (mGone, dGone) = st.vacuumVersions("own", keepLast = 2, writer = "cpB")
    assert(mGone > 0 && dGone > 0, s"vacuum must reclaim: ($mGone, $dGone)")
    assert(st.readVersioned("own").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 100L, 101L, 102L))
    // an unfenced table stays writable by token-less callers
    assert(st.appendBatchIdempotent("free", rows(1L), 0L).nonEmpty)
    assert(st.appendBatchIdempotent("free", rows(2L), 1L).nonEmpty)
  }

  test("maintenance fence: non-owner compaction/vacuum/rollback refuse on a stream-owned table; owner and force pass") {
    val st = freshStorage()
    def rows(xs: Long*) = xs.map(x => Tuple1(x)).toDF("x")
    assert(st.appendBatchIdempotent("mf", rows(1L), 0L, writer = "cpX").nonEmpty)
    assert(st.appendBatchIdempotent("mf", rows(2L), 1L, writer = "cpX").nonEmpty)
    val v1 = st.versions("mf").head
    // a token-less operator cron (and a WRONG-token one) refuses every
    // maintenance verb — before this fence, any process could roll a
    // stream-owned table back past a CDC consumer's consumed version
    def refusal(f: => Any): String = intercept[IllegalStateException](f).getMessage
    Seq(
      refusal(st.rollbackVersioned("mf", v1)),
      refusal(st.rollbackVersioned("mf", v1, writer = "cpOther")),
      refusal(st.compactVersions("mf")),
      refusal(st.vacuumVersions("mf", 1)),
      refusal(st.vacuumVersionsKeeping("mf", Set(v1)))
    ).foreach(m => assert(m.contains("cpX") && m.contains("force"),
      s"the refusal must name the owner and the override: $m"))
    // nothing committed or reclaimed by any refusal
    assert(st.versions("mf").size == 2)
    assert(st.readVersioned("mf").count() == 2)
    // the owner's token passes every verb (the sink's auto-maintenance)
    st.compactVersions("mf", writer = "cpX")
    st.vacuumVersions("mf", 2, writer = "cpX")
    st.rollbackVersioned("mf", st.versions("mf").last, writer = "cpX")
    // force is the explicit cross-owner override (deliberate surgery on
    // a dead stream's table without a takeover commit)
    st.compactVersions("mf", force = true)
    assert(st.readVersioned("mf").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L))
    // an unfenced table needs no token for maintenance
    st.putVersioned("mfree", rows(1L))
    st.appendVersioned("mfree", rows(2L))
    st.compactVersions("mfree")
    st.rollbackVersioned("mfree", st.versions("mfree").last)
    st.vacuumVersions("mfree", 1)
    assert(st.readVersioned("mfree").count() == 2)
  }

  test("schema gate: drifted appends refuse naming the fields; opt-in widening composes with mergeSchema") {
    val st = freshStorage()
    st.putVersioned("sg", Seq((1L, "a")).toDF("id", "payload"))
    // added column refuses by default, and the error names the field
    val added = intercept[IllegalArgumentException] {
      st.appendVersioned("sg", Seq((2L, "b", 0.5)).toDF("id", "payload", "score"))
    }
    assert(added.getMessage.contains("score") &&
      added.getMessage.contains("adds"), added.getMessage)
    // dropped column refuses by default
    val dropped = intercept[IllegalArgumentException] {
      st.appendVersioned("sg", Seq(Tuple1(3L)).toDF("id"))
    }
    assert(dropped.getMessage.contains("payload") &&
      dropped.getMessage.contains("drops"), dropped.getMessage)
    // a TYPE conflict refuses even with evolution on — no read mode
    // reconciles long-vs-string under one column name
    val conflict = intercept[IllegalArgumentException] {
      st.appendVersioned("sg", Seq(("x", "b")).toDF("id", "payload"),
        allowSchemaEvolution = true)
    }
    assert(conflict.getMessage.contains("id") &&
      conflict.getMessage.contains("conflict"), conflict.getMessage)
    // nothing committed by any refusal
    assert(st.versions("sg") == Seq(1L))
    // opt-in widening commits and composes with the mergeSchema read
    st.appendVersioned("sg", Seq((2L, "b", 0.5)).toDF("id", "payload", "score"),
      allowSchemaEvolution = true)
    val merged = st.readVersioned("sg", mergeSchema = true)
    assert(merged.columns.toSet == Set("id", "payload", "score"))
    assert(merged.count() == 2)
    // the streaming append path runs the same gate...
    val refuse = intercept[IllegalArgumentException] {
      st.appendBatchIdempotent("sg", Seq(Tuple1(9L)).toDF("id"), 0L)
    }
    assert(refuse.getMessage.contains("drops"), refuse.getMessage)
    // ...and widens on opt-in; batch-dir naming and replay are unchanged
    assert(st.appendBatchIdempotent("sg",
      Seq((9L, "c", 0.1, true)).toDF("id", "payload", "score", "kept"), 0L,
      allowSchemaEvolution = true).nonEmpty)
    assert(st.appendBatchIdempotent("sg",
      Seq((9L, "c", 0.1, true)).toDF("id", "payload", "score", "kept"), 0L,
      allowSchemaEvolution = true).isEmpty, "replay still dedups")
    assert(st.readVersioned("sg", mergeSchema = true).count() == 3)
  }

  test("schema gate: a nullability-only difference appends; a real type change still refuses naming the field") {
    val st = freshStorage()
    st.putVersioned("nul", spark.range(0, 3)
      .selectExpr("id", "array(cast(id as float), 1.0f) as embedding"))
    // the table reads back array<float> with nullable elements; the
    // batch's elements are non-null — the same type to the reader
    assert(st.readVersioned("nul").schema("embedding").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = true))
    assert(st.appendVersioned("nul", spark.range(3, 5)
      .selectExpr("id", "array(cast(id as float), 1.0f) as embedding")) == 2L)
    assert(st.readVersioned("nul").count() == 5)
    val conflict = intercept[IllegalArgumentException] {
      st.appendVersioned("nul", spark.range(5, 6)
        .selectExpr("id", "array(cast(id as double), 1.0d) as embedding"))
    }
    assert(conflict.getMessage.contains("conflict") &&
      conflict.getMessage.contains("embedding: table array<float> vs batch array<double>"),
      conflict.getMessage)
    assert(st.versions("nul") == Seq(1L, 2L))
  }

  test("versioned tables: reads of unknown names/versions refuse; delete removes the tree") {
    val st = freshStorage()
    intercept[IllegalArgumentException] { st.readVersioned("nope") }
    intercept[IllegalArgumentException] {
      st.appendVersioned("nope", Seq((1L, "a")).toDF("id", "payload"))
    }
    st.putVersioned("d", Seq((1L, "a")).toDF("id", "payload"))
    intercept[IllegalArgumentException] { st.readVersioned("d", 9) }
    assert(st.delete("d"))
    assert(st.versions("d").isEmpty)
  }
}
