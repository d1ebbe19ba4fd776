package graft.pipeline

import java.sql.Date
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkFunSuite
import graft.pipeline.WeatherFixtures._

/** Spark jobs per layer run on a lake that already has history. Every job
  * is a fixed per-job cost that dominates a daily batch of a few
  * partitions, so the partition bookkeeping (enumerate, diff, validate,
  * ledger merge) runs on the driver and each layer launches only its data
  * write and its ledger read and write. A bookkeeping step re-added as a
  * Spark job (a DISTINCT, a `count`, a window) breaks these ceilings. */
class JobBudgetSpec extends SparkFunSuite {

  /** Jobs launched by `body` on this thread, counted by a listener that
    * matches a job-local property. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.budget") == tag)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.budget", tag)
    try (body, { ListenerBusDrain(sc); jobs.get })
    finally { sc.setLocalProperty("graft.budget", null); sc.removeSparkListener(listener) }
  }

  private class FakeFetcher extends Ingestion.Fetcher {
    def fetch(city: Ingestion.City): String = apiJson(20.0 + city.name.length)
  }

  test("silver and gold runs stay within their Spark job budgets") {
    val conf = Pipeline.Config(tmpDir("budget"), cities = Ingestion.defaultCities.take(3))
    val fetcher = new FakeFetcher
    Seq("2026-02-11", "2026-02-12").foreach(d => Pipeline.run(spark, conf, fetcher, Date.valueOf(d)))
    Bronze.run(spark, Ingestion.fetchAll(conf.cities, fetcher), conf.bronzeRoot,
      Date.valueOf("2026-02-13"))
    val (nSilver, silverJobs) = jobsOf(
      Silver.run(spark, conf.bronzeRoot, conf.silverRoot, conf.metadataPath))
    val (nIncremental, incrementalJobs) = jobsOf(
      Gold.run(spark, conf.silverRoot, conf.goldRoot, conf.metadataPath))
    val (nFull, fullJobs) = jobsOf(
      Gold.run(spark, conf.silverRoot, conf.goldRoot, conf.metadataPath, fullRefresh = true))
    info(s"jobs: silver $silverJobs, gold incremental $incrementalJobs, gold full refresh $fullJobs")
    assert((nSilver, nIncremental, nFull) == ((3L, 3L, 9L)))
    // the ledger upsert is one read and one write inside its lease; the
    // gold write is a shuffle map stage plus the writing stage
    assert(silverJobs <= 4, "silver: ledger read, partition write, ledger upsert")
    assert(incrementalJobs <= 5, "gold: ledger read, aggregate write, ledger upsert")
    assert(fullJobs <= 4, "gold full refresh: aggregate write, ledger upsert")
  }
}
