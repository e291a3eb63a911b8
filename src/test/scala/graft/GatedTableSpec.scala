package graft

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver contract: the gated key set and each key's oracle
  * SQL, byte for byte, against `gated_queries.tsv` (one line per key:
  * name, then the SHA-256 hex of its oracle string in UTF-8). Adding a
  * gated query adds one `Gated(...)` row and one fixture line.
  */
class GatedTableSpec extends AnyFunSuite {

  private val fixture: Map[String, String] = {
    val src = scala.io.Source.fromResource("gated_queries.tsv")("UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(name, sha) = l.split('\t')
      name -> sha
    }.toMap
    finally src.close()
  }

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("the key set and every oracle string match the pinned contract") {
    assert(SparkEntry.queries.size == 168)
    assert(SparkEntry.queries.keySet == fixture.keySet)
    assert(SparkEntry.oracleSql.keySet == fixture.keySet)
    val changed = fixture.keys.toSeq.sorted
      .filter(k => sha256(SparkEntry.oracleSql(k)) != fixture(k))
    assert(changed.isEmpty, s"oracle SQL changed for: ${changed.mkString(", ")}")
  }

  test("the table rejects a name declared twice, naming it") {
    val build: (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame = (_, _) => null
    val e = intercept[IllegalArgumentException] {
      SparkEntry.table(Seq(Gated("q_a", build, "SELECT 1"),
        Gated("q_b", build, "SELECT 2"), Gated("q_a", build, "SELECT 3")))
    }
    assert(e.getMessage.contains("q_a") && !e.getMessage.contains("q_b"),
      e.getMessage)
  }
}
