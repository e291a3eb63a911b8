package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Direct access to a versioned table's files under a warehouse dir,
  * bypassing [[Storage]]: its manifests, and the read a client without
  * the `#schema=` header makes — Spark's inference over the manifest's
  * data directories.
  */
object VersionedFiles {
  def manifest(warehouse: String, name: String, v: Long): Path =
    Paths.get(warehouse, s".vt_$name", "manifests", f"v$v%06d.manifest")

  def lines(warehouse: String, name: String, v: Long): Seq[String] =
    Files.readAllLines(manifest(warehouse, name, v)).asScala.toSeq
      .filter(_.nonEmpty)

  def schemaHeader(warehouse: String, name: String, v: Long): Option[String] =
    lines(warehouse, name, v).find(_.startsWith("#schema="))

  /** Rewrite manifest `v` without its `#schema=` line: the manifest a
    * lineage committed before the header existed carries.
    */
  def stripSchema(warehouse: String, name: String, v: Long): Unit =
    rewrite(manifest(warehouse, name, v))(_.filterNot(_.startsWith("#schema=")))

  /** [[stripSchema]] on every manifest of every versioned table. */
  def stripAllSchemas(warehouse: String): Unit =
    listed(Paths.get(warehouse)).filter(_.getFileName.toString.startsWith(".vt_"))
      .flatMap(t => listed(t.resolve("manifests")))
      .filter(_.getFileName.toString.endsWith(".manifest"))
      .foreach(rewrite(_)(_.filterNot(_.startsWith("#schema="))))

  def rewrite(m: Path)(f: Seq[String] => Seq[String]): Unit =
    Files.write(m, f(Files.readAllLines(m).asScala.toSeq.filter(_.nonEmpty))
      .map(_ + "\n").mkString.getBytes("UTF-8"))

  private def listed(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator.asScala.toList finally s.close()
  }

  def inferred(spark: SparkSession, warehouse: String, name: String, v: Long,
      mergeSchema: Boolean = false): DataFrame =
    spark.read.option("mergeSchema", mergeSchema).parquet(
      lines(warehouse, name, v).filterNot(_.startsWith("#"))
        .map(d => Paths.get(warehouse, s".vt_$name", d).toString): _*)
}
