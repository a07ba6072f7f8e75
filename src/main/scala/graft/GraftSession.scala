package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.GraftFunctions
import graft.sources.Tables

/** Ad-hoc SQL surface — SURVEY §4's "free in Catalyst if we expose SQL"
  * claim, made concrete. `open` registers the ten driver tables as temp
  * views over a scale-factor directory plus the engine's native
  * functions, so `spark.sql("SELECT ... graft_cosine(...) ...")` runs
  * the SAME optimized plans as the Scala catalog: one parser front-end,
  * one Catalyst pipeline — predicate pushdown, column pruning, constant
  * folding, subquery decorrelation all apply identically
  * (SqlSurfaceSpec asserts plan equality with the DataFrame forms).
  *
  * Reference analog: the HTTP query surface (lambda-sample
  * dashboard/Dashboard.scala routes) — the reference's only ad-hoc
  * entry point is per-sensor REST lookups; SQL over the same tables is
  * the warehouse-grade generalization.
  *
  * Scale note: temp views are metadata only — each references the
  * lazily-planned parquet scan, so registering ten views costs nothing
  * and every SQL query still plans its own pruned, pushed-down scan. On
  * a real cluster these would be external catalog tables over
  * partitioned roots; the query text is identical.
  */
object GraftSession {

  /** The driver-generated tables (TESTDATA.md). */
  val TableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Register all tables under `dir` as temp views + graft functions on
    * an existing session. Idempotent; returns the session for chaining.
    * `events` goes through [[Tables.events]] so its TIMESTAMP(NANOS)
    * column is truncated exactly like the Scala catalog sees it. */
  def open(spark: SparkSession, dir: String): SparkSession = {
    GraftFunctions.register(spark)
    TableNames.foreach { n =>
      val df =
        if (n == "events") Tables.events(spark, dir)
        else Tables.table(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
    spark
  }

  /** Standalone entry point for a pure-SQL user: the one engine session
    * ([[ToolSession.build]]: its confs and input-scaled shuffle
    * parallelism) with the graft functions and views over `dir` ready
    * to query. */
  def build(dir: String): SparkSession =
    open(ToolSession.build(dir, "graft-sql"), dir)

  /** One-shot: ensure views over `dir`, run `query`. */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame =
    open(spark, dir).sql(query)
}
