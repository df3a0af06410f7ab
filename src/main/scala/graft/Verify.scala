package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local triage;
    // the driver always passes exactly two args → full dump)
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    val attempted = SparkEntry.queries.keySet
      .filter(name => only.forall(_.contains(name)))
    // manifest of attempted queries, written BEFORE any query runs:
    // selfcheck treats an attempted query with no output dir as a failure
    // (a query can throw before its dir exists — e.g. while draining a
    // stream or training an index — and must not silently vanish from the
    // compare)
    // (an empty set must emit [], not [""] — a filter matching nothing
    // would otherwise produce a one-element array of the empty string)
    Files.writeString(Paths.get(s"$outDir/attempted.json"),
      if (attempted.isEmpty) "[]"
      else attempted.toSeq.sorted.mkString("[\"", "\", \"", "\"]"))
    // failures are recorded to failures.json (not just stderr) so an
    // erroring query shows up as an explicit artifact row instead of
    // silently vanishing from the downstream compare
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => attempted.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        failures(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/failures.json"),
      failures.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}"))
    spark.stop()
  }

  /** JSON string literal: escapes backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in a query's oracle SQL would otherwise make a
    * reader's json.load of oracle_sql.json fail and silently zero the
    * correctness compare. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
