package wbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry: one workload per process.
  *
  * `wbench.Main --workload W --seed N --seconds S --trace 0|1 [--smoke]
  * [--plant-wrong]`, run from the repository root. Prints the run's
  * provenance (host sentinel, sizes, caps) and then the result object with
  * every metric it measured as the last line of standard output; both also
  * land under `.bench_out/`, with the trace spans. */
object Main {
  val Workloads = Seq("serve_hot", "serve_cold")

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val flags = argv.toSet
    def need(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val w = need("--workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    val seconds = need("--seconds").toInt
    require(seconds >= 1, "--seconds must be positive")
    val trace = need("--trace")
    require(trace == "0" || trace == "1", "--trace is 0 or 1")
    val work = Paths.get(".bench_work").toAbsolutePath.resolve(s"$w-${ProcessHandle.current().pid()}")
    Args(w, need("--seed").toLong, seconds, trace == "1", flags("--smoke"),
      flags("--plant-wrong"), work)
  }

  def session(work: Path): SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("wbench")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val hostBefore = Host.probe()
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    val spark = session(a.work)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    if (a.trace) Trace.start(spark.sparkContext)
    val r = try a.workload match {
      case "serve_hot" => ServeHot.run(spark, a)
      case "serve_cold" => ServeCold.run(spark, a)
    } catch { case e: Throwable =>
      e.printStackTrace()
      spark.stop()
      Host.deleteTree(a.work)
      sys.exit(2)
    }
    val out = Paths.get(".bench_out")
    Files.createDirectories(out)
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    if (a.trace) {
      org.apache.spark.wbench.Bus.drain(spark.sparkContext)
      Trace.dump(out.resolve(s"$tag.spans.jsonl"))
    }
    val metrics = Json.obj(r.metrics.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val conf = spark.sparkContext.getConf.getAll.filterNot(_._1.contains("dir")).sortBy(_._1)
    val runtime = java.lang.management.ManagementFactory.getRuntimeMXBean
    val provenance = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> Json.num(a.seed.toDouble),
      "seconds" -> Json.num(a.seconds), "trace" -> (if (a.trace) "true" else "false"),
      "smoke" -> (if (a.smoke) "true" else "false"),
      "host_before" -> hostBefore, "host_after" -> Host.probe(),
      "nproc" -> Json.num(Runtime.getRuntime.availableProcessors()),
      "jvm_flags" -> Json.str(runtime.getInputArguments.toArray.filter(_.toString.startsWith("-X")).mkString(" ")),
      "spark_conf" -> Json.obj(conf.map { case (k, v) => k -> Json.str(v) }),
      "session_s" -> Json.num(sessionS),
      "info" -> Json.obj(r.info),
      "all_metrics" -> metrics))
    Files.write(out.resolve(s"$tag.json"), (provenance + "\n").getBytes("UTF-8"))
    spark.stop()
    Host.deleteTree(a.work)
    val correct = r.failed == 0 && r.attempted > 0
    println(provenance)
    println(Json.obj(Seq("correct" -> correct.toString, "attempted" -> Json.num(r.attempted.toDouble),
      "failed" -> Json.num(r.failed.toDouble), "metrics" -> metrics)))
    sys.exit(0)
  }
}
