package perfbench

import java.lang.management.ManagementFactory

import scala.io.Source

import org.apache.spark.sql.SparkSession

/** Minimal JSON writing for the result file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** Host-contention stamp: 1-minute loadavg; the user CPU that other
  * processes used over the run, from `/proc/stat` user+nice jiffies minus
  * this JVM's own CPU time; and the CPU the hypervisor stole from this
  * machine, from the steal jiffies (USER_HZ = 100). */
final class HostStamp {
  /** Seconds of (user+nice, steal) CPU since boot, or -1 without /proc. */
  private def jiffies: (Double, Double) =
    try {
      val src = Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+") finally src.close()
      ((f(1).toDouble + f(2).toDouble) / 100.0, f(8).toDouble / 100.0)
    } catch { case _: Throwable => (-1.0, -1.0) }

  private def ownCpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => -1.0
  }

  private val (user0, steal0) = jiffies
  private val own0 = ownCpuSeconds
  private val wall0 = System.nanoTime()

  private def wall: Double = (System.nanoTime() - wall0) / 1e9

  def loadavg: Double =
    try {
      val src = Source.fromFile("/proc/loadavg")
      try src.mkString.split(" ")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Average cores of user CPU used outside this JVM since construction. */
  def externalUserCpu: Double =
    if (user0 < 0) -1.0 else math.max((jiffies._1 - user0) - (ownCpuSeconds - own0), 0.0) / wall

  /** Average cores stolen by the hypervisor since construction. */
  def stolenCpu: Double = if (steal0 < 0) -1.0 else (jiffies._2 - steal0) / wall
}

/** Benchmark driver inside the JVM: runs one workload and writes its raw
  * results as JSON for `perfbench/run.py`.
  *
  * Arguments: `--workload daily|analytics --seed N --seconds S
  * --trace 0|1 --work DIR --out FILE [--tables DIR]`. */
object Main {

  private def peakRssMb: Double =
    try {
      val src = Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Throwable => -1.0 }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val work = args("work")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val host = new HostStamp
      val tracer = new Tracer(spark.sparkContext, args("trace") == "1")
      val h = new Harness(spark, tracer, args("seed").toLong, args("seconds").toInt, work)
      val out = workload match {
        case "daily" => Daily.run(h)
        case "analytics" => Analytics.run(h, args("tables"))
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (tracer.enabled) tracer.writeJsonLines(s"$work/spans.jsonl")
      val ops = out.ops.map { o =>
        Json.obj(Seq("name" -> Json.str(o.name), "seconds" -> Json.num(o.seconds),
          "cpu_seconds" -> Json.num(o.cpuSeconds), "traced" -> o.traced.toString,
          "ok" -> o.ok.toString))
      }
      val result = Json.obj(Seq(
        "workload" -> Json.str(workload),
        "cpus" -> cpus.toString,
        "setup_s" -> out.setupSeconds.map(Json.num).mkString("[", ",", "]"),
        "ops" -> ops.mkString("[", ",", "]"),
        "disk_bytes" -> Json.num(out.diskBytes),
        "input_bytes" -> Json.num(out.inputBytes),
        "failures" -> out.failures.map(Json.str).mkString("[", ",", "]"),
        "layers" -> Json.obj(out.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
        "rss_peak_mb" -> Json.num(peakRssMb),
        "host" -> Json.obj(Seq("loadavg_1m" -> Json.num(host.loadavg),
          "ext_user_cpu" -> Json.num(host.externalUserCpu),
          "steal_cpu" -> Json.num(host.stolenCpu)))))
      val w = new java.io.PrintWriter(args("out"), "UTF-8")
      try w.println(result) finally w.close()
    } finally spark.stop()
  }
}
