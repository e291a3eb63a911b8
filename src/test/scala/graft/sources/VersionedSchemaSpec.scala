package graft.sources

import java.nio.file.Files

import org.apache.spark.graftest.JobCount
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{MetadataBuilder, StructType}

import graft.SparkTestBase

/** The `#schema=` manifest header: every commit verb records the
  * snapshot's reader schema, a read hands it to Spark instead of
  * inferring it from a parquet footer, and whatever a read returns is
  * what inference over the manifest's directories returns — schema
  * and rows. Where no header can vouch for the directories (pre-header
  * lineages, schema-evolving appends, mergeSchema reads) the read
  * infers, exactly as before the header existed.
  */
class VersionedSchemaSpec extends SparkTestBase {
  import VersionedFiles.{inferred, schemaHeader, stripSchema}

  /** Rows `[lo, hi)` of a frame spanning the parquet type zoo. */
  private def zoo(lo: Long, hi: Long): DataFrame = {
    val tagged = new MetadataBuilder()
      .putString("comment", "field metadata rides the footer").build()
    spark.range(lo, hi).selectExpr(
      "id",
      "named_struct('a', cast(id as int), 'b', named_struct('c', " +
        "cast(id as string), 'd', array(cast(id as double), null))) as nested",
      "array(cast(id as float), 1.0f) as embedding",
      "map(cast(id as string), id * 2) as counts",
      "cast(id * 1.25 as decimal(18, 4)) as price",
      "date_add(date'2024-01-01', cast(id as int)) as day",
      "timestamp_seconds(id * 3600) as ts",
      "cast(timestamp_seconds(id * 60) as timestamp_ntz) as local_ts",
      "cast(cast(id as string) as binary) as payload",
      "cast(id as string) as tagged")
      .withColumn("tagged", col("tagged").as("tagged", tagged))
  }

  private def rows(df: DataFrame): Seq[Row] = df.orderBy("id").collect().toSeq

  private def fresh(): (String, Storage) = {
    val wh = Files.createTempDirectory("graft-vtschema-").toString
    (wh, new Storage(spark, wh))
  }

  /** Read `name` at `v` through the storage and through inference over
    * the manifest's dirs: same schema, same rows.
    */
  private def assertInferredParity(st: Storage, wh: String, name: String,
      v: Long, mergeSchema: Boolean = false): Unit = {
    val got = st.readVersioned(name, v, mergeSchema)
    val want = inferred(spark, wh, name, v, mergeSchema)
    assert(got.schema == want.schema, s"$name v$v schema")
    assert(rows(got) == rows(want), s"$name v$v rows")
  }

  test("every commit verb records #schema= and reads the inferred schema and rows with no footer job") {
    val (wh, st) = fresh()
    val put = st.putVersioned("zoo", zoo(0, 4))
    val append = st.appendVersioned("zoo", zoo(4, 6))
    val onto = st.appendVersionedOnto("zoo", zoo(6, 8), put)
    val batch = st.appendBatchIdempotent("zoo", zoo(8, 9), 0L).get
    val compact = st.compactVersions("zoo")
    val rollback = st.rollbackVersioned("zoo", append)
    val takeover = st.takeOverVersioned("zoo", "cp-handover")
    // a first streaming batch creates its table
    val created = st.appendBatchIdempotent("zb", zoo(0, 3), 0L).get
    val commits = Seq("zoo" -> put, "zoo" -> append, "zoo" -> onto,
      "zoo" -> batch, "zoo" -> compact, "zoo" -> rollback,
      "zoo" -> takeover, "zb" -> created)
    commits.foreach { case (t, v) =>
      assert(schemaHeader(wh, t, v).nonEmpty, s"$t v$v records no #schema=")
      assertInferredParity(st, wh, t, v)
      assert(JobCount(spark)(st.readVersioned(t, v).schema) == 0,
        s"$t v$v: resolving the snapshot must not run an inference job")
    }
    // the zoo kept every type: nested struct, array, map, decimal,
    // date, both timestamps, binary, and the field's metadata
    val s = st.readVersioned("zoo").schema
    assert(s("tagged").metadata.getString("comment").nonEmpty)
    assert(s.fields.map(_.dataType.typeName).toSeq == Seq("long", "struct",
      "array", "map", "decimal(18,4)", "date", "timestamp", "timestamp_ntz",
      "binary", "string"))
    // CDC windows: inside the `to` manifest (its header vouches) and
    // across a compaction, reaching dirs the compaction dropped
    val since = st.readVersionedSince("zoo", put)
    assert(since.schema == s && rows(since).map(_.getLong(0)) == Seq(4L, 5L))
    st.putVersioned("cdc", zoo(0, 2))
    st.appendVersioned("cdc", zoo(2, 4))
    val mid = st.appendVersioned("cdc", zoo(4, 6))
    st.compactVersions("cdc")
    st.appendVersioned("cdc", zoo(6, 7))
    val across = st.readVersionedSince("cdc", 2L)
    assert(across.schema == inferred(spark, wh, "cdc", mid).schema)
    assert(rows(across).map(_.getLong(0)) == (4L until 7L))
  }

  test("a nullability-only batch difference keeps the header; a reordered batch drops it") {
    val (wh, st) = fresh()
    st.putVersioned("nn", zoo(0, 2))
    // the zoo's non-null array elements, struct fields and map values
    // read back nullable: the batch has the table's reader schema
    val v2 = st.appendVersioned("nn", zoo(2, 4))
    assert(schemaHeader(wh, "nn", v2) == schemaHeader(wh, "nn", 1L))
    // same columns in another order: the gate passes it, but no header
    // can vouch for a footer-dependent column order
    val cols = zoo(0, 1).columns.reverse.toSeq
    val v3 = st.appendVersioned("nn", zoo(4, 6).select(cols.map(col): _*))
    assert(schemaHeader(wh, "nn", v3).isEmpty)
    assertInferredParity(st, wh, "nn", v3)
  }

  test("a manifest without #schema= (a pre-header lineage) reads the same rows and schema") {
    val (wh, st) = fresh()
    st.putVersioned("old", zoo(0, 3))
    val v2 = st.appendVersioned("old", zoo(3, 5))
    val withHeader = st.readVersioned("old", v2)
    val (schema, before) = (withHeader.schema, rows(withHeader))
    Seq(1L, v2).foreach(stripSchema(wh, "old", _))
    val stripped = st.readVersioned("old", v2)
    assert(stripped.schema == schema && rows(stripped) == before)
    assert(JobCount(spark)(st.readVersioned("old", v2).schema) > 0,
      "without the header the schema is inferred from a footer")
    // appends onto a header-less base stay header-less (nothing vouches
    // for the old dirs); a compaction rewrites one dir and records it
    val v3 = st.appendVersioned("old", zoo(5, 6))
    assert(schemaHeader(wh, "old", v3).isEmpty)
    assertInferredParity(st, wh, "old", v3)
    val v4 = st.compactVersions("old")
    assert(schemaHeader(wh, "old", v4).nonEmpty)
    assertInferredParity(st, wh, "old", v4)
    assert(st.readVersionedSince("old", 1L).count() == 3)
  }

  test("a schema-evolving append writes no header; both its reads match inference") {
    val (wh, st) = fresh()
    st.putVersioned("evo", zoo(0, 2))
    val v2 = st.appendVersioned("evo",
      zoo(2, 4).withColumn("score", col("id") * 0.5),
      allowSchemaEvolution = true)
    assert(schemaHeader(wh, "evo", v2).isEmpty)
    assertInferredParity(st, wh, "evo", v2)
    assertInferredParity(st, wh, "evo", v2, mergeSchema = true)
    assert(st.readVersioned("evo", mergeSchema = true).columns.contains("score"))
    // a same-schema append after it still has nothing to copy
    val v3 = st.appendVersioned("evo", zoo(4, 5), allowSchemaEvolution = true)
    assert(schemaHeader(wh, "evo", v3).isEmpty)
    assertInferredParity(st, wh, "evo", v3, mergeSchema = true)
  }

  test("mergeSchema = true ignores a present header") {
    val (wh, st) = fresh()
    val v = st.putVersioned("m", zoo(0, 3))
    // pin a narrower schema in the header: the default read obeys it,
    // the merge read infers from every footer and does not
    val narrow = new StructType().add("id", "long")
    VersionedFiles.rewrite(VersionedFiles.manifest(wh, "m", v))(_.map(l =>
      if (l.startsWith("#schema=")) s"#schema=${narrow.json}" else l))
    assert(st.readVersioned("m", v).columns.toSeq == Seq("id"))
    assertInferredParity(st, wh, "m", v, mergeSchema = true)
    assert(st.readVersioned("m", v, mergeSchema = true).columns.length ==
      zoo(0, 1).columns.length)
  }

  test("a version whose data directory was vacuumed fails as it does without the header") {
    val (wh, st) = fresh()
    val v = st.putVersioned("gone", zoo(0, 3))
    val dataRoot = java.nio.file.Paths.get(wh, ".vt_gone", "data")
    val dirs = Files.list(dataRoot)
    try dirs.forEach(d => org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
    finally dirs.close()
    def failure(): Throwable =
      intercept[Throwable](st.readVersioned("gone", v).collect())
    val withHeader = failure()
    stripSchema(wh, "gone", v)
    val withoutHeader = failure()
    assert(withHeader.getClass == withoutHeader.getClass)
    assert(withHeader.getMessage == withoutHeader.getMessage)
  }
}
