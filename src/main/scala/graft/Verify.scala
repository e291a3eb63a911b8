package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name prefixes — builder-side
    // iteration aid only (the driver always passes exactly 2 args)
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(',').toSeq) else None
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.getOrCreate(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")
    // clear stale contents so outDir always holds exactly ONE run: a
    // prefix-filtered run otherwise overwrites the manifests with its
    // subset while older full-run parquet dirs remain alongside, and a
    // later reader of the dir can mix the two runs
    val outRoot = new java.io.File(outDir)
    def deleteRec(f: java.io.File): Unit = {
      // never FOLLOW a symlink: listFiles on a linked dir enumerates
      // the target's children — recursing would delete files the run
      // never owned; unlink the link itself instead
      if (!java.nio.file.Files.isSymbolicLink(f.toPath))
        Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete(): Unit
    }
    Option(outRoot.listFiles()).foreach(_.foreach(deleteRec))
    outRoot.mkdirs()
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (!selected(name)) ()
      else
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // manifest: the selected gated query names, one a line — the key set
    // of oracle_sql.json, since every Gated row carries its oracle SQL;
    // written beside failures.txt for drivers that read either
    Files.writeString(Paths.get(s"$outDir/queries.txt"),
      SparkEntry.queries.keys.toSeq.filter(selected).sorted.mkString("\n"))
    Files.writeString(Paths.get(s"$outDir/failures.txt"),
      failures.sorted.mkString("\n"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
