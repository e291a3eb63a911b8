package graft

import graft.functions.{RollingHash, SimHash}

class GraftExtensionsSpec extends SparkTestBase {

  test("engine expressions are callable from SQL after registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT rolling_hash('spark graft') AS rh,
        |  simhash('a b c') AS sh,
        |  sig_overlap(minhash_sig(word_shingles_3('a b c d')),
        |              minhash_sig(word_shingles_3('a b c d'))) AS ov,
        |  dot_f(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |        array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS dot,
        |  l2norm_f(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS nrm,
        |  absmax_f(array(CAST(-3.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS am,
        |  quantize_i8(array(CAST(-3.0 AS FLOAT), CAST(1.5 AS FLOAT))).q8 AS q8,
        |  quantize_i8(array(CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT))).q8 AS q8zero,
        |  repetition_stats('a b a b a').n_words AS rw,
        |  repetition_stats('a b a b a').top_gram_n AS rt
        |""".stripMargin).head()
    assert(r.getLong(0) == RollingHash.reference("spark graft"))
    assert(r.getLong(1) == SimHash.compute("a b c"))
    assert(r.getInt(2) == graft.functions.MinHashSig.NumHashes)
    assert(r.getDouble(3) == 11.0)
    assert(r.getDouble(4) == 5.0)
    assert(r.getDouble(5) == 3.0)
    assert(r.getString(6) == "-127,64") // floor(1.5*(127/3)+0.5) = 64
    assert(r.isNullAt(7), "zero vector quantizes to NULL, not garbage")
    assert(r.getLong(8) == 5L)
    assert(r.getLong(9) == 2L) // "a b" occurs twice among 4 bigrams
  }

  test("SQL functions compose with table queries") {
    GraftExtensions.register(spark)
    graft.sources.Tables.documents(spark, sf0001).createOrReplaceTempView("docs_v")
    val n = spark.sql(
      "SELECT count(DISTINCT rolling_hash(text)) FROM docs_v").head().getLong(0)
    assert(n > 0)
  }

  test("GraftSession.getOrCreate yields a fully-registered session") {
    // the shared session IS GraftSession.getOrCreate("local[4]", 4).
    // Calling getOrCreate again here would hand back that same
    // JVM-wide session and re-apply its default 32 shuffle partitions
    // to every suite that runs after this one.
    assert(spark.sql("SELECT rolling_hash('x')").head().getLong(0) ==
      RollingHash.reference("x"))
    val topk = graft.plans.TopK.perGroup(
      graft.sources.Tables.orders(spark, sf0001), Seq("o_custkey"),
      org.apache.spark.sql.functions.col("o_totalprice"), 1)
    assert(topk.count() > 0)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("wrong arity yields a clear error") {
    GraftExtensions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT rolling_hash('a', 'b')").head()
    }
    assert(e.getMessage.contains("expects 1 argument"))
  }
}
