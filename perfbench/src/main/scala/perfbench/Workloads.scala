package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.meta.MetadataLedger
import graft.pipeline.{Bronze, Gold, Ingestion, Pipeline, Silver}

/** One timed operation: wall time, and CPU time of the whole JVM. */
final case class OpSample(name: String, seconds: Double, cpuSeconds: Double, traced: Boolean,
                          ok: Boolean)

/** What a workload hands back to [[Main]]. `layers` holds the per-layer
  * metrics of a traced run (empty when untraced). */
final case class Outcome(setupSeconds: Seq[Double], ops: Seq[OpSample], diskBytes: Double,
                         inputBytes: Double, failures: Seq[String], layers: Map[String, Double])

/** Files under a directory: path -> (size, modification millis). */
final case class Listing(files: Map[String, (Long, Long)]) {
  def bytes: Long = files.values.map(_._1).sum
  def dataFiles: Int = files.keys.count(_.endsWith(".parquet"))
  def partitions: Int = files.keys.filter(_.endsWith(".parquet"))
    .map(p => p.substring(0, p.lastIndexOf('/'))).toSet.size
  /** Files new or rewritten since `before`. */
  def changedSince(before: Listing): Seq[(String, (Long, Long))] =
    files.toSeq.filter { case (p, st) => !before.files.get(p).contains(st) }
}

object Listing {
  def of(dir: String): Listing = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Listing(Map.empty)
    else {
      val s = Files.walk(root)
      try Listing(s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap)
      finally s.close()
    }
  }

  def delete(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach((p: Path) => Files.delete(p))
      finally s.close()
    }
  }
}

/** What every workload needs: timing, warm-up, operation counts, tracing. */
final class Harness(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                    val seconds: Int, val work: String) {

  /** Set-up runs per benchmark run; `setup_s` is their median. */
  val setupRepeats = 3

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Time one operation; `body` reports whether it succeeded. A traced
    * operation runs inside a root span "op" that the layer spans nest in. */
  def op(name: String, traced: Boolean)(body: => Boolean): OpSample = {
    val cpu0 = os.getProcessCpuTime
    val (ok, t) = time(if (traced) tracer.span("op")(body) else body)
    val cpu = (os.getProcessCpuTime - cpu0) / 1e9
    if (traced) tracer.drain()
    OpSample(name, t, cpu, traced, ok)
  }

  /** Run a one-city pipeline on a throwaway lake, so that class loading,
    * JIT and code generation are done before set-up is timed. */
  def warmUp(): Unit = {
    val w = new Weather(seed, 1, 0.0)
    val conf = Pipeline.Config(s"$work/warmup", cities = w.cities)
    MetadataLedger.ensure(spark, conf.metadataPath)
    Weather.landHistory(spark, w, Seq(LocalDate.of(2020, 1, 1)), 4, conf.bronzeRoot, None)
    Silver.run(spark, conf.bronzeRoot, conf.silverRoot, conf.metadataPath)
    Gold.run(spark, conf.silverRoot, conf.goldRoot, conf.metadataPath,
      fullRefresh = conf.fullRefreshGold)
    Listing.delete(conf.root)
  }

  /** Operation count that fills about `seconds` at a nominal operation time
    * on a 4-core host. The count depends on `seconds` only, so parent and
    * child commits do the same work. */
  def opsFor(nominalSeconds: Double, min: Int): Int =
    math.max(min, math.round(seconds / nominalSeconds).toInt)

  /** In a traced run every other operation is traced; the untraced ones
    * give the baseline for the tracing overhead. */
  def traced(i: Int): Boolean = tracer.enabled && i % 2 == 0

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Tracing overhead (mean traced over mean untraced operation time: a
    * median would pick different queries of the analytics mix on each
    * side), and the part of traced operation time no layer span covers. */
  def opAccounting(ops: Seq[OpSample]): Map[String, Double] = {
    val roots = tracer.all.filter(_.parent == 0L)
    def mean(xs: Seq[OpSample]) = if (xs.isEmpty) 0.0 else xs.map(_.seconds).sum / xs.size
    val tracedT = mean(ops.filter(_.traced))
    val plainT = mean(ops.filterNot(_.traced))
    Map(
      "op.wall_s" -> median(roots.map(_.seconds)),
      "op.unattributed_s" -> median(roots.map(tracer.selfSeconds)),
      "trace.overhead_ratio" -> (if (plainT > 0) tracedT / plainT - 1 else 0.0))
  }
}

/** Per-layer bookkeeping of the traced pipeline operations. */
final class LayerBook(h: Harness) {
  private val filesWritten =
    scala.collection.mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)
  private val partitions =
    scala.collection.mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)
  private val useful = scala.collection.mutable.ArrayBuffer.empty[Double]
  /** (rows, data files, bytes rewritten) of the ledger after each op. */
  private val ledger = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double)]

  /** Run one traced layer call, counting the files it left under `dir`. */
  def layer[A](name: String, dir: String)(body: => A): A = {
    val before = Listing.of(dir)
    val a = h.tracer.span(name)(body)
    filesWritten(name) :+= Listing.of(dir).changedSince(before).size.toDouble
    a
  }

  /** A traced operation processed `s` silver and rewrote `g` gold partitions. */
  def processed(s: Long, g: Long): Unit = {
    partitions("silver") :+= s.toDouble
    partitions("gold") :+= g.toDouble
    useful += (if (g > 0) s.toDouble / g else 0.0)
  }

  /** Ledger size and rewrite volume, measured by listing it after an op. */
  def ledgerAfter(path: String, before: Listing): Unit = {
    val after = Listing.of(path)
    val rows = MetadataLedger.read(h.spark, path).count().toDouble
    val rewritten = after.changedSince(before).map(_._2._1).sum.toDouble
    ledger += ((rows, after.dataFiles.toDouble, rewritten))
  }

  /** Spark counters of the spans named `layer`, as per-operation medians. */
  private def spark(layer: String): Map[String, Double] = {
    val ss = h.tracer.all.filter(_.name == layer)
    def m(f: Span => Double) = h.median(ss.map(f))
    def c(f: Counters => Long) = m(s => f(h.tracer.counters(s)).toDouble)
    Map(
      s"$layer.busy_s" -> m(_.seconds),
      s"$layer.jobs" -> c(_.jobs.get),
      s"$layer.tasks" -> c(_.tasks.get),
      s"$layer.task_run_s" -> c(_.taskRunMs.get) / 1000.0,
      s"$layer.driver_s" -> m(h.tracer.driverSeconds),
      s"$layer.bytes_read" -> c(_.bytesRead.get),
      s"$layer.bytes_written" -> c(_.bytesWritten.get),
      s"$layer.shuffle_bytes" -> c(_.shuffleBytes.get),
      s"$layer.files_written" -> h.median(filesWritten(layer)))
  }

  /** File count, size and layout of one layer's root after the run. */
  private def lake(layer: String, dir: String): Map[String, Double] = {
    val l = Listing.of(dir)
    Map(
      s"lake.$layer.files" -> l.files.size.toDouble,
      s"lake.$layer.bytes" -> l.bytes.toDouble,
      s"lake.$layer.partitions" -> l.partitions.toDouble,
      s"lake.$layer.files_per_partition" ->
        (if (l.partitions > 0) l.dataFiles.toDouble / l.partitions else 0.0))
  }

  def metrics(conf: Pipeline.Config, fetches: Double, fetchFailed: Double): Map[String, Double] = {
    val (rows, files, _) = ledger.lastOption.getOrElse((0.0, 0.0, 0.0))
    val bronze = spark("bronze")
    Map(
      "ingestion.busy_s" -> h.median(h.tracer.all.filter(_.name == "ingestion").map(_.seconds)),
      "ingestion.fetches" -> fetches,
      "ingestion.failed" -> fetchFailed,
      "bronze.busy_s" -> bronze("bronze.busy_s"),
      "bronze.rows" -> h.median(h.tracer.all.filter(_.name == "bronze")
        .map(s => h.tracer.counters(s).recordsWritten.get.toDouble)),
      "bronze.files_written" -> bronze("bronze.files_written"),
      "bronze.bytes_written" -> bronze("bronze.bytes_written"),
      "bronze.jobs" -> bronze("bronze.jobs"),
      "silver.partitions" -> h.median(partitions("silver")),
      "gold.partitions" -> h.median(partitions("gold")),
      "gold.useful_ratio" -> h.median(useful.toSeq),
      "ledger.rows" -> rows,
      "ledger.files" -> files,
      "ledger.bytes_rewritten" -> h.median(ledger.map(_._3).toSeq)) ++
      spark("silver") ++ spark("gold") ++
      lake("bronze", conf.bronzeRoot) ++ lake("silver", conf.silverRoot) ++
      lake("gold", conf.goldRoot)
  }
}

object Daily {
  val cities = 4
  val historyDays = 7
  val historyObsPerPartition = 4
  val nullShare = 0.1
  val nominalOpSeconds = 3.0
  val start: LocalDate = LocalDate.of(2025, 1, 1)

  /** The reference's production shape: a lake with a week of history, then
    * one `Pipeline.run` per operation for the next date, with the shipped
    * default configuration. */
  def run(h: Harness): Outcome = {
    // a cold first set-up would take three times as long as the others
    h.warmUp()
    val w = new Weather(h.seed, cities, nullShare)
    val history = (0 until historyDays).map(i => start.plusDays(i))
    var fold = new GoldFold
    var inputBytes = 0L
    var conf: Pipeline.Config = null
    val setups = (0 until h.setupRepeats).map { i =>
      fold = new GoldFold
      conf = Pipeline.Config(s"${h.work}/lake$i", cities = w.cities)
      h.time {
        MetadataLedger.ensure(h.spark, conf.metadataPath)
        inputBytes = Weather.landHistory(h.spark, w, history, historyObsPerPartition,
          conf.bronzeRoot, Some(fold))
        Silver.run(h.spark, conf.bronzeRoot, conf.silverRoot, conf.metadataPath)
        Gold.run(h.spark, conf.silverRoot, conf.goldRoot, conf.metadataPath,
          fullRefresh = conf.fullRefreshGold)
      }._2
    }
    (0 until h.setupRepeats - 1).foreach(i => Listing.delete(s"${h.work}/lake$i"))
    val fetcher = new GeneratedFetcher(w)
    val book = new LayerBook(h)
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val ops = (0 until h.opsFor(nominalOpSeconds, min = 2)).map { i =>
      val date = start.plusDays(historyDays + i)
      fetcher.date = date
      w.cities.foreach(c => fold.add(c.name, date, Seq(fetcher.observation(c))))
      val runDate = java.sql.Date.valueOf(date)
      val traced = h.traced(i)
      val ledgerBefore = Listing.of(conf.metadataPath)
      val sample = h.op("pipeline_run", traced) {
        try {
          if (!traced) Pipeline.run(h.spark, conf, fetcher, runDate)
          else {
            // the body of Pipeline.run, one span per layer call
            MetadataLedger.ensure(h.spark, conf.metadataPath)
            val raw = h.tracer.span("ingestion")(Ingestion.fetchAll(conf.cities, fetcher))
            book.layer("bronze", conf.bronzeRoot)(
              Bronze.run(h.spark, raw, conf.bronzeRoot, runDate))
            val s = book.layer("silver", conf.silverRoot)(
              Silver.run(h.spark, conf.bronzeRoot, conf.silverRoot, conf.metadataPath))
            val g = book.layer("gold", conf.goldRoot)(
              Gold.run(h.spark, conf.silverRoot, conf.goldRoot, conf.metadataPath,
                fullRefresh = conf.fullRefreshGold))
            book.processed(s, g)
          }
          true
        } catch { case NonFatal(e) => failures += s"op $i: $e"; false }
      }
      if (traced) book.ledgerAfter(conf.metadataPath, ledgerBefore)
      sample
    }
    inputBytes += fetcher.bytes.get
    failures ++= Weather.check(h.spark, fold, conf.silverRoot, conf.goldRoot, conf.metadataPath)
    val layers =
      if (!h.tracer.enabled) Map.empty[String, Double]
      else book.metrics(conf, fetcher.fetches.get.toDouble, fetcher.failed.get.toDouble) ++
        h.opAccounting(ops)
    Outcome(setups, ops, Listing.of(conf.root).bytes.toDouble, inputBytes.toDouble,
      failures.toSeq, layers)
  }
}

object Analytics {
  /** Reference-shape analogs, then north-star operators. */
  val queries: Seq[String] = Seq(
    "q01_silver_transform", "q02_gold_agg", "q03_distinct_partitions", "q04_point_lookup",
    "q08_incremental_diff", "q10_json_flatten",
    "q21_dedup_exact", "q41_ann_ivf", "q104_tfidf_keywords", "q118_curation_pipeline")
  val tables: Seq[String] = Seq("lineitem", "orders", "events", "documents", "embeddings")
  val nominalPassSeconds = 5.0

  /** Read-only query mix over the generated tables in `tablesDir`. Each
    * query is drained to the `noop` sink; every pass runs the whole mix in
    * a seeded order. Results for the oracle check are written untimed
    * before the timed passes, which also warms the engine. */
  def run(h: Harness, tablesDir: String): Outcome = {
    val fns = queries.map(q => q -> SparkEntry.queries(q)).toMap
    val inputBytes = Listing.of(tablesDir).bytes
    // set-up: open every table in a fresh session and scan it once
    val setups = (0 until h.setupRepeats).map { i =>
      val s = if (i == h.setupRepeats - 1) h.spark else h.spark.newSession()
      h.time(tables.foreach(t => s.read.parquet(s"$tablesDir/$t.parquet").count()))._2
    }
    // results for the oracle check, three queries at a time: this phase is
    // untimed, and running it concurrently keeps the run short
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val checked = try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      Await.result(Future.sequence(queries.map { q =>
        Future {
          val dir = s"${h.work}/results/$q"
          try {
            fns(q)(h.spark, tablesDir).write.mode("overwrite").parquet(dir)
            Right(q -> h.spark.read.parquet(dir).count().toDouble)
          } catch { case NonFatal(e) => Left(s"$q: $e") }
        }
      }), Duration.Inf)
    } finally pool.shutdown()
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    failures ++= checked.collect { case Left(e) => e }
    val rowsOut = checked.collect { case Right(r) => r }.toMap
    val oracle = new java.io.PrintWriter(s"${h.work}/oracle_sql.json", "UTF-8")
    try oracle.print(Json.obj(queries.map(q => q -> Json.str(SparkEntry.oracleSql(q)))))
    finally oracle.close()

    val nPasses = h.opsFor(nominalPassSeconds, min = if (h.tracer.enabled) 2 else 1)
    val ops = (0 until nPasses).flatMap { p =>
      val traced = h.traced(p)
      new Random(h.seed * 31 + p).shuffle(queries).map { q =>
        def drain(): Unit =
          fns(q)(h.spark, tablesDir).write.format("noop").mode("overwrite").save()
        h.op(q, traced) {
          try {
            if (traced) h.tracer.span(s"query.$q")(drain()) else drain()
            true
          } catch { case NonFatal(e) => failures += s"$q pass $p: $e"; false }
        }
      }
    }
    val layers =
      if (!h.tracer.enabled) Map.empty[String, Double]
      else queries.flatMap { q =>
        val ss = h.tracer.all.filter(_.name == s"query.$q")
        def m(f: Counters => Long) = h.median(ss.map(s => f(h.tracer.counters(s)).toDouble))
        Seq(
          s"query.$q.busy_s" -> h.median(ss.map(_.seconds)),
          s"query.$q.tasks" -> m(_.tasks.get),
          s"query.$q.shuffle_bytes" -> m(_.shuffleBytes.get),
          s"query.$q.rows_out" -> rowsOut.getOrElse(q, 0.0))
      }.toMap ++ h.opAccounting(ops)
    Outcome(setups, ops, Listing.of(tablesDir).bytes.toDouble, inputBytes.toDouble,
      failures.toSeq, layers)
  }
}
