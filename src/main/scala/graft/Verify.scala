package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg (local iteration only): comma-separated query-name
    // prefixes; the driver always passes exactly (sfDir, outDir).
    val only: String => Boolean =
      if (args.length > 2) { val ps = args(2).split(",").toSeq
                             n => ps.exists(n.startsWith) }
      else _ => true
    val spark = Harness.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    // A thrown query must be loud in the ARTIFACT, not just a log line:
    // write a per-query _ERROR.json marker where the parquet would be,
    // and exit nonzero at the end — a silent omission looks identical
    // to an undeclared query in the driver's correctness table.
    val selected = SparkEntry.queries.filter(kv => only(kv._1))
    var failed = List.empty[String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        val dir = Paths.get(s"$outDir/$name")
        Files.createDirectories(dir)
        Files.writeString(dir.resolve("_ERROR.json"),
          s"""{"query": ${jstr(name)}, "error": ${jstr(
            s"${e.getClass.getName}: ${e.getMessage}")}}""")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    val ok = selected.size - failed.size
    System.err.println(
      s"[verify] $ok/${selected.size} wrote output" +
        (if (failed.nonEmpty) s"; FAILED: ${failed.reverse.mkString(", ")}"
         else ""))
    if (failed.nonEmpty) sys.exit(1)
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
