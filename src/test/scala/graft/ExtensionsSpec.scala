package graft

import org.apache.spark.sql.SparkSession

/** `spark.sql.extensions=graft.GraftExtensions` gives SQL users the
  * native vector functions on a fresh session over the same context. */
class ExtensionsSpec extends SparkSpecBase {

  test("extensions register graft functions for pure-SQL sessions") {
    spark // ensure the shared context exists
    val priorDefault = SparkSession.getDefaultSession
    val priorActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val dot = s2.sql(
        "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head().getDouble(0)
      dot shouldBe 11.0
      val cos = s2.sql(
        "SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c").head().getDouble(0)
      cos shouldBe 1.0
      s2.sql("SELECT graft_intersect_count_sorted(array(1, 2, 3), array(2, 3, 4))")
        .head().getLong(0) shouldBe 2L
      s2.sql("DESCRIBE FUNCTION graft_dot").collect()
        .map(_.getString(0)).mkString("\n") should include("graft_dot")
    } finally {
      priorDefault.foreach(SparkSession.setDefaultSession)
      priorActive.foreach(SparkSession.setActiveSession)
    }
  }
}
