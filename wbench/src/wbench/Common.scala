package wbench

import scala.collection.mutable

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      smoke: Boolean, plantWrong: Boolean, work: java.nio.file.Path)

/** What one run reports: operation accounting, the metrics of the run's
  * mode, and provenance fields written beside them. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def note(name: String, json: String): Unit = info(name) = json
  def noteNum(name: String, v: Double): Unit = info(name) = Json.num(v)
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

object Stats {
  /** Nearest-rank percentile of an ascending array. */
  def pct(sorted: Array[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else sorted(math.min(sorted.length - 1, math.max(0, math.ceil(p * sorted.length).toInt - 1)))
  def median(xs: Seq[Double]): Double = pct(xs.toArray.sorted, 0.5)
  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Host sentinel: fixed probes recorded beside the metrics, never used to
  * adjust them. */
object Host {
  /** Seconds to hash 64 MiB on one thread; depends only on the host. */
  def sha256ProbeS(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 20)
    val t0 = System.nanoTime()
    var i = 0
    while (i < 64) { md.update(buf); i += 1 }
    md.digest()
    (System.nanoTime() - t0) / 1e9
  }

  /** MB/s of first touches over 32 MiB of fresh allocation. A lazily backed
    * VM faults fresh pages in at tens of MB/s, a healthy host at GB/s. */
  def faultProbeMbPerS(): Double = {
    val mb = 32
    val t0 = System.nanoTime()
    val a = new Array[Byte](mb << 20)
    var i = 0
    while (i < a.length) { a(i) = 1; i += 4096 }
    val sec = math.max((System.nanoTime() - t0) / 1e9, 1e-9)
    if (a(0) == 2) println("")
    mb / sec
  }

  /** Seconds spent in [[probe]], so set-up time can leave it out. */
  @volatile var probeSeconds = 0.0

  def probe(): String = {
    val t0 = System.nanoTime()
    val json = Json.obj(Seq("sha256_64mib_s" -> Json.num(sha256ProbeS()),
      "fault_mb_per_s" -> Json.num(faultProbeMbPerS())))
    probeSeconds += (System.nanoTime() - t0) / 1e9
    json
  }

  /** Heap in use after a full collection, in MB. Collects until the
    * reading settles, since Spark's cleaner frees broadcasts and shuffle
    * state asynchronously after a collection finds them unreachable. */
  def heapAfterGcMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    def used(): Double = { System.gc(); mx.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = used()
    var cur = prev
    var i = 0
    do { Thread.sleep(200); prev = cur; cur = used(); i += 1 }
    while (i < 8 && math.abs(prev - cur) > 0.5)
    cur
  }

  def dirMb(p: java.nio.file.Path): Double =
    if (!java.nio.file.Files.exists(p)) 0.0
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size(_)).sum / 1048576.0
      } finally s.close()
    }

  def deleteTree(p: java.nio.file.Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
}
