package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** Benchmark process. `run.py` builds and launches it; it writes one
  * JSON result file and exits.
  *
  *   --workload batch_cycle|speed_serve --seed N --seconds S --trace 0|1
  *       --work DIR --out FILE [--smoke]
  *   --selftest                  statistics, body parser and pin hash
  *   --pin DUMP                  pins of a graft.Verify dump directory
  */
object Main {

  private def session(dir: String, app: String): SparkSession = {
    val spark = graft.ToolSession.build(dir, app)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val flags = Set("--smoke", "--selftest")
    def parse(xs: List[String]): Map[String, String] = xs match {
      case f :: rest if flags(f) => parse(rest) + (f -> "1")
      case k :: v :: rest if k.startsWith("--") => parse(rest) + (k -> v)
      case Nil => Map.empty
      case other => throw new IllegalArgumentException(s"bad arguments: $other")
    }
    val a = parse(argv.toList)
    val code =
      if (a.contains("--selftest")) selfTest()
      else if (a.contains("--pin")) pinDump(a("--pin"))
      else workload(a)
    sys.exit(code)
  }

  private def selfTest(): Int = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fails = try Check.selfTest(spark) finally spark.stop()
    fails.foreach(f => System.err.println(s"[selftest] FAIL $f"))
    println(s"""{"selftest":"${if (fails.isEmpty) "pass" else "fail"}","failures":${fails.size}}""")
    if (fails.isEmpty) 0 else 1
  }

  private def pinDump(dump: String): Int = {
    val spark = session(dump, "perfbench-pin")
    val names = new java.io.File(dump).listFiles().filter(_.isDirectory).map(_.getName).sorted
    val pins = ListMap(names.toSeq.map { n =>
      val (rows, h) = Check.pin(spark.read.parquet(s"$dump/$n"))
      n -> Seq(rows, h)
    }: _*)
    println(Json.mapper.writerWithDefaultPrettyPrinter().writeValueAsString(pins))
    spark.stop()
    0
  }

  private def workload(a: Map[String, String]): Int = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val name = a("--workload")
    val run: Ctx => Outcome = name match {
      case "batch_cycle" => BatchCycle.run
      case "speed_serve" => SpeedServe.run
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val work = a("--work")
    Files.createDirectories(Paths.get(work))
    val steal0 = Jvm.steal()
    val tracer = new Tracer(a.getOrElse("--trace", "0") == "1")
    val spark = session(work, s"perfbench-$name")
    tracer.sc = Some(spark.sparkContext)
    val sparkProbe = new SparkProbe(tracer)
    val streamProbe = new StreamProbe
    spark.sparkContext.addSparkListener(sparkProbe)
    spark.streams.addListener(streamProbe)
    val ctx = new Ctx(spark, tracer, sparkProbe, streamProbe, work, a("--seed").toLong,
      a("--seconds").toInt, a.contains("--smoke"), jvmStartMs)
    val outcome =
      try Some(run(ctx))
      catch { case e: Throwable =>
        ctx.attempt(s"$name run")(throw e)
        e.printStackTrace()
        None
      }
    if (tracer.on) tracer.write(Paths.get(s"$work/trace.jsonl"))
    val result = ListMap[String, Any](
      "workload" -> name,
      "correct" -> (outcome.isDefined && ctx.failed == 0),
      "attempted" -> math.max(ctx.attempted, 1),
      "failed" -> (if (outcome.isDefined) ctx.failed else math.max(ctx.failed, 1)),
      "errors" -> ctx.errors,
      "e2e" -> outcome.map(_.e2e.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }),
      "layers" -> outcome.map(o => (o.layers ++ ListMap(
        "error_ratio" -> ((ctx.failed.toDouble / math.max(ctx.attempted, 1), "share")),
        "trace.spans" -> ((tracer.all.size.toDouble, "count"))))
        .map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }),
      "validity" -> outcome.map(_.validity ++ ListMap(
        "run_steal_share" -> (Jvm.steal() - steal0).share,
        "cores" -> ctx.cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
        "spark" -> spark.version)))
    Files.write(Paths.get(a("--out")), Json.render(result).getBytes("UTF-8"))
    spark.stop()
    0
  }
}
