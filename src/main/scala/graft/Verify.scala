package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: <sfDir> <outDir>. Extra args (local dev only)
    // restrict the dump to the named queries.
    val sfDir = args(0); val outDir = args(1)
    val only = args.drop(2).toSet
    val spark = ToolSession.build(sfDir, "graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // one retry: a transiently failed query (executor hiccup, fetch
      // failure) must not cost the round a correctness row; persistent
      // failures still surface with a full diagnostic
      val attempts = Iterator.range(0, 2).map { attempt =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          true
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name attempt $attempt failed: $e")
          e.getStackTrace.take(3).foreach(f => System.err.println(s"[verify]   at $f"))
          false
        }
      }
      attempts.find(identity).getOrElse(System.err.println(s"[verify] $name FAILED twice"))
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
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    core.PersistedMemo.clearAll()
    spark.stop()
  }
}
