package graft.pipeline

import java.sql.Date
import java.time.LocalDate
import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.pipeline.WeatherFixtures._
import graft.sources.ParquetLake

class LayersSpec extends SparkFunSuite {
  import spark.implicits._

  test("scopeToPending literal regime prunes to exactly the pending partitions") {
    val rows = Seq(
      bronzeRow("Delhi", "2026-02-13"), bronzeRow("London", "2026-02-13"),
      bronzeRow("Delhi", "2026-02-14"))
    val df = bronzeDf(spark, rows)
    val pending = Layers.frame(spark, Seq(PartitionKey("Delhi", LocalDate.parse("2026-02-14"))))
    val out = Layers.scopeToPending(df, pending, literalThreshold = 256)
    assert(out.select("city", "date").distinct().collect().map(r =>
      (r.getString(0), r.getDate(1).toString)).toSeq == Seq(("Delhi", "2026-02-14")))
  }

  test("scopeToPending semi-join regime (pending set above threshold) gives identical results") {
    val rows = (1 to 30).map(i => bronzeRow(s"City$i", f"2026-02-${i % 28 + 1}%02d"))
    val df = bronzeDf(spark, rows)
    val pending = Layers.frame(spark, rows.take(20).map(r => PartitionKey.of(r.city, r.date)))
    val literal = Layers.scopeToPending(df, pending, literalThreshold = 256)
      .select("city", "date").collect().map(r => (r.getString(0), r.getDate(1).toString)).toSet
    val semi = Layers.scopeToPending(df, pending, literalThreshold = 2)
      .select("city", "date").collect().map(r => (r.getString(0), r.getDate(1).toString)).toSet
    assert(semi == literal)
    assert(semi.size == 20)
  }

  test("scopeToPending with empty pending returns no rows") {
    val df = bronzeDf(spark, Seq(bronzeRow("Delhi", "2026-02-13")))
    val pending = Seq.empty[(String, Date)].toDF("city", "date")
    assert(Layers.scopeToPending(df, pending).count() == 0)
  }

  test("availablePartitions lists the partition directories that hold files") {
    val root = tmpDir("avail") + "/data"
    writeBronze(spark, Seq(bronzeRow("Delhi", "2026-02-13"), bronzeRow("Delhi", "2026-02-13"),
      bronzeRow("London", "2026-02-13"), bronzeRow("Delhi", "2026-02-14")), root)
    new java.io.File(root, "city=Paris/date=2026-02-13").mkdirs() // no files: not a partition
    val listed = Layers.availablePartitions(ParquetLake.read(spark, root, Schemas.bronze))
    assert(listed.toSet == Set(
      PartitionKey("Delhi", LocalDate.parse("2026-02-13")),
      PartitionKey("London", LocalDate.parse("2026-02-13")),
      PartitionKey("Delhi", LocalDate.parse("2026-02-14"))))
    assert(listed.size == 3)
    // a frame not backed by files (a missing root read tolerantly) lists nothing
    assert(Layers.availablePartitions(
      ParquetLake.readOrEmpty(spark, root + "_missing", Schemas.bronze)).isEmpty)
  }

  test("PartitionKey compares equal whatever the date type") {
    assert(PartitionKey.of("Delhi", Date.valueOf("2026-02-13")) ==
      PartitionKey.of("Delhi", LocalDate.parse("2026-02-13")))
    assert(PartitionKey.of(null, null) == PartitionKey(null, null))
  }

  test("requireAllNonEmpty passes when every pending partition produced rows") {
    val df = bronzeDf(spark, Seq(bronzeRow("Delhi", "2026-02-13"), bronzeRow(null, "2026-02-13")))
    val pending = Seq(("Delhi", Date.valueOf("2026-02-13")), (null, Date.valueOf("2026-02-13")))
      .toDF("city", "date")
    Layers.requireAllNonEmpty(df, pending) // must not throw: a null city matches itself
  }

  test("requireAllNonEmptyObserved: the WRITE job collects the counts; no re-scan") {
    val df = bronzeDf(spark, Seq(bronzeRow("Delhi", "2026-02-13"),
      bronzeRow("London", "2026-02-13")))
    val pendingOk = Seq(("Delhi", Date.valueOf("2026-02-13")),
      ("London", Date.valueOf("2026-02-13"))).toDF("city", "date")
    val out = tmpDir("obs") + "/t"
    val (inst, validate) = Layers.requireAllNonEmptyObserved(df, pendingOk)
    // terminal action on the INSTRUMENTED frame, then validate — the
    // observation was collected by the write's own tasks
    inst.write.mode("overwrite").partitionBy("city", "date").parquet(out)
    validate() // must not throw
    // the written table is the plain frame, bit for bit
    assert(spark.read.parquet(out).count() == df.count())
    // a pending partition the transform produced NO rows for throws the
    // same loud error — after the action, per the documented trade
    val pendingMiss = pendingOk.unionByName(
      Seq(("Paris", Date.valueOf("2026-02-13"))).toDF("city", "date"))
    val (inst2, validate2) = Layers.requireAllNonEmptyObserved(df, pendingMiss)
    inst2.write.mode("overwrite").partitionBy("city", "date")
      .parquet(tmpDir("obs2") + "/t")
    val e = intercept[IllegalStateException](validate2())
    assert(e.getMessage.contains("Paris"))
  }
}
