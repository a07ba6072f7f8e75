package graft
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

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
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => only.isEmpty || only(k) }
    Files.write(Paths.get(s"$outDir/oracle_sql.json"),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(oracle))
    core.PersistedMemo.clearAll()
    spark.stop()
  }
}
