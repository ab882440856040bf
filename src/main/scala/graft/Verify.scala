package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      case Array(s, o, names) => (s, o, Some(QueryRun.select(names))) // local iteration filter
    }
    val spark = Sessions.fromEnv()
    new java.io.File(outDir).mkdirs()
    val sink = QueryRun.parquet(outDir)
    only.getOrElse(QueryRun.queries.keys.toSeq).foreach { name =>
      QueryRun.runQuery(spark, sfDir, name, sink).error
        .foreach(e => System.err.println(s"[verify] $name failed: ${e.getMessage}"))
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
    // The driver keys its CORRECTNESS report by "<name>.parquet" (the result
    // file name) while queries are registered by bare "<name>". Emit every
    // oracle SQL under BOTH keys so the driver's lookup binds regardless of
    // which form it uses — round 1 reported no_oracle for all queries because
    // only the bare key was written.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
