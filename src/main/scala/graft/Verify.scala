package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg: comma-separated subset of query names (local
    // iteration); the driver always calls with exactly two args.
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, Set.empty[String])
      case Array(a, b, c) => (a, b, c.split(",").filter(_.nonEmpty).toSet)
      case _ =>
        System.err.println("usage: graft.Verify <sfDir> <outDir> [op1,op2,...]")
        sys.exit(2)
    }
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter { case (name, _) => only.isEmpty || only(name) }
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
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
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // one closing line, so a failed write is counted and named even when
    // Spark's log buries the per-operator lines above
    System.err.println(s"[verify] failed ${failed.size} of ${selected.size}" +
      (if (failed.isEmpty) "" else failed.mkString(": ", ",", "")))
    spark.stop()
  }
}
