package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Gated
import graft.sources.Tables._

/** PII detection + redaction — the scrubbing pass every production
  * training-data pipeline runs before a corpus ships (emails, phone
  * numbers, IP addresses, URLs → typed placeholder tokens), absent in
  * the reference (whose only text surface is the Map contract,
  * `dfs/wordcountjob.go:16-39`) and prompt-mandated here as part of
  * the text-analysis family.
  *
  * The four patterns are RE2-safe (no backreferences, no lookaround)
  * so one definition runs identically on Spark (java.util.regex) and
  * the DuckDB oracle (RE2): both engines do leftmost-first matching
  * and global replace. Redaction is SEQUENTIAL — URL, then email,
  * then IP, then phone — and each count is taken on the PREVIOUS
  * step's redacted text, so an entity swallowed by an earlier, longer
  * match (an IP inside a URL path) is never double-counted; the
  * chosen order redacts the longest/most-structured patterns first.
  *
  * Scale: eight regex passes per row (count + replace per pattern),
  * all map-side with literal patterns (compiled once per task) —
  * zero shuffles, fully parallel, no skew surface. At 100 TB this is
  * scan-bound, which is the best a whole-corpus rewrite can be.
  */
object Pii {

  /** `user@host.tld` with the usual local-part/domain characters. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** `http(s)://` to the next whitespace. */
  val UrlRe = "https?://[^\\s]+"

  /** Dotted-quad IPv4 (no range check — scrubbing favors recall). */
  val IpRe = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"

  /** Exchange-number phone shape `ddd-dddd` (the corpus-injection
    * form; widen per deployment's locale).
    */
  val PhoneRe = "\\d{3}-\\d{4}"

  /** The redaction passes, IN ORDER (longest/most-structured first —
    * see the sequential-redaction note on the object), each with its
    * count column name and placeholder token. The single definition
    * behind [[piiScrubbed]] and [[redacted]].
    */
  val Passes: Seq[(String, String, String)] = Seq(
    (UrlRe, "[URL]", "n_urls"),
    (EmailRe, "[EMAIL]", "n_emails"),
    (IpRe, "[IP]", "n_ips"),
    (PhoneRe, "[PHONE]", "n_phones"))

  /** The scrubbed form of a text column — all four passes applied, no
    * counts. Stateless and map-side, so it drops into batch AND
    * streaming plans unchanged.
    */
  def redacted(text: Column): Column =
    Passes.foldLeft(text) { case (c, (re, tok, _)) =>
      regexp_replace(c, re, tok)
    }

  /** Append PII count columns (`n_urls`, `n_emails`, `n_ips`,
    * `n_phones`) and the scrubbed text (`redacted`) to any frame with
    * a `text` column. Counts follow the sequential-redaction
    * semantics documented on the object.
    */
  def piiScrubbed(df: DataFrame, text: String = "text"): DataFrame = {
    val (out, scrubbed) = Passes.foldLeft((df, col(text))) {
      case ((d, cur), (re, tok, cname)) =>
        (d.withColumn(cname, regexp_count(cur, lit(re)).cast(LongType)),
          regexp_replace(cur, re, tok))
    }
    out.withColumn("redacted", scrubbed)
  }

  /** Deterministic PII injection for the gated query: the synthetic
    * corpus carries no punctuation (hence no real PII), so the query
    * plants entities derived from `doc_id` — residue classes choose
    * WHICH docs get each entity type (co-prime moduli ⇒ all 16
    * presence combinations occur) and the id is baked into each
    * entity's digits. The oracle recomputes the identical injection,
    * so the detector must find EXACTLY the planted entities: a regex
    * that under- or over-matches in either engine breaks the hash.
    */
  private[operators] def injectedText: Column = concat(
    col("text"),
    when(col("doc_id") % 11 === 0,
      concat(lit(" see http://ex"), (col("doc_id") % 50).cast("string"),
        lit(".org/p"), col("doc_id").cast("string"))).otherwise(lit("")),
    when(col("doc_id") % 3 === 0,
      concat(lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com"))).otherwise(lit("")),
    when(col("doc_id") % 7 === 0,
      concat(lit(" ip 192.168."), (col("doc_id") % 256).cast("string"),
        lit("."), (col("doc_id") % 250).cast("string"))).otherwise(lit("")),
    when(col("doc_id") % 5 === 0,
      concat(lit(" call 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .otherwise(lit("")))

  def taPii(s: SparkSession, d: String): DataFrame =
    piiScrubbed(documents(s, d)
      .select(col("doc_id"), injectedText.as("text")))
      .select(col("doc_id"), col("n_urls"), col("n_emails"),
        col("n_ips"), col("n_phones"), col("redacted"))
      .orderBy(col("doc_id"))

  /** The SQL form of [[injectedText]], shared by [[taPiiSql]] and
    * [[Pipeline.pipeScrubSql]].
    */
  private[operators] val injectedTextSql: String =
    s"""text ||
       |    CASE WHEN doc_id % 11 = 0
       |         THEN ' see http://ex' || CAST(doc_id % 50 AS VARCHAR) || '.org/p' || CAST(doc_id AS VARCHAR)
       |         ELSE '' END ||
       |    CASE WHEN doc_id % 3 = 0
       |         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
       |         ELSE '' END ||
       |    CASE WHEN doc_id % 7 = 0
       |         THEN ' ip 192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 250 AS VARCHAR)
       |         ELSE '' END ||
       |    CASE WHEN doc_id % 5 = 0
       |         THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |         ELSE '' END""".stripMargin

  val taPiiSql: String =
    s"""WITH inj AS (
       |  SELECT doc_id, $injectedTextSql AS t
       |  FROM documents),
       |s1 AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(t, '$UrlRe')) AS BIGINT) AS n_urls,
       |    regexp_replace(t, '$UrlRe', '[URL]', 'g') AS t
       |  FROM inj),
       |s2 AS (
       |  SELECT doc_id, n_urls,
       |    CAST(len(regexp_extract_all(t, '$EmailRe')) AS BIGINT) AS n_emails,
       |    regexp_replace(t, '$EmailRe', '[EMAIL]', 'g') AS t
       |  FROM s1),
       |s3 AS (
       |  SELECT doc_id, n_urls, n_emails,
       |    CAST(len(regexp_extract_all(t, '$IpRe')) AS BIGINT) AS n_ips,
       |    regexp_replace(t, '$IpRe', '[IP]', 'g') AS t
       |  FROM s2)
       |SELECT doc_id, n_urls, n_emails, n_ips,
       |  CAST(len(regexp_extract_all(t, '$PhoneRe')) AS BIGINT) AS n_phones,
       |  regexp_replace(t, '$PhoneRe', '[PHONE]', 'g') AS redacted
       |FROM s3
       |ORDER BY doc_id""".stripMargin

  val gated: Seq[Gated] = Seq(
    Gated("ta_pii", taPii, taPiiSql),
  )
}
