package graft.pipeline

import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StringType, StructField, StructType}

/** One Hive partition of a layer table, compared by value: the date is
  * held as a `LocalDate` whichever external type the session hands out
  * (`java.sql.Date`, or `LocalDate` under
  * `spark.sql.datetime.java8API.enabled`). Either field may be null — the
  * `__HIVE_DEFAULT_PARTITION__` directory. */
final case class PartitionKey(city: String, date: LocalDate)

object PartitionKey {

  /** Key from a collected (city, date) pair in either date representation. */
  def of(city: Any, date: Any): PartitionKey = PartitionKey(
    city.asInstanceOf[String],
    date match {
      case null => null
      case d: LocalDate => d
      case d: java.sql.Date => DateTimeUtils.daysToLocalDate(DateTimeUtils.fromJavaDate(d))
    })

  val schema: StructType = StructType(Seq(
    StructField("city", StringType),
    StructField("date", DateType)))
}

/** Shared machinery for incremental layer processing (the reference's
  * enumerate → diff → process loop, silver.py:65-74 / gold.py:104-125).
  *
  * Deliberate departure from the reference, noted in BASELINE.md: instead of
  * one engine invocation per pending partition (pathological in Spark — a
  * full job per (city,date)), all pending partitions are processed in ONE
  * batched job. Semantics are identical (same rows, same per-partition
  * files via partitionBy) and it is the shape that survives 1000× more
  * partitions.
  *
  * The bookkeeping around that job — enumerate, diff, validate — runs on
  * the driver: a partition list is as small as the ledger that records it,
  * and a Spark job per bookkeeping step is fixed overhead that dominates a
  * daily batch of a handful of partitions.
  */
object Layers {

  /** Partition enumeration from the file index of the table `df` reads:
    * every (city, date) directory holding at least one data file. The index
    * was listed when `df` was created, so this launches no Spark job and
    * reads no file — the analog of the reference's
    * `SELECT DISTINCT city, date FROM read_parquet(...)` (silver.py:9-12).
    * A frame not backed by files (the empty stand-in for a missing root)
    * has no partitions. */
  def availablePartitions(df: DataFrame): Seq[PartitionKey] =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs
    }.fold(Seq.empty[PartitionKey]) { fs =>
      val schema = fs.partitionSchema
      lazy val Seq(ci, di) = Seq("city", "date").map(schema.fieldIndex)
      def value(row: InternalRow, i: Int) =
        CatalystTypeConverters.convertToScala(row.get(i, schema(i).dataType), schema(i).dataType)
      // a root holding no data file (an empty landing) has no partition
      // directories and lists as one file-less unpartitioned directory
      fs.location.listFiles(Nil, Nil).filter(_.files.nonEmpty)
        .map(p => PartitionKey.of(value(p.values, ci), value(p.values, di)))
        .distinct
    }

  /** A partition list as a (city, date) local relation: scoping, validating
    * and recording it costs no Spark job. */
  def frame(spark: SparkSession, keys: Seq[PartitionKey]): DataFrame =
    spark.createDataFrame(keys.map(k => Row(k.city, k.date)).asJava, PartitionKey.schema)

  /** Scope `df` to the pending partitions — delegates to the generic,
    * null-safe [[graft.sources.PartitionScope]] (the partition columns are
    * whatever columns `pending` carries). */
  def scopeToPending(df: DataFrame, pending: DataFrame,
                     literalThreshold: Int = 256): DataFrame =
    graft.sources.PartitionScope.scopeTo(df, pending, literalThreshold)

  /** The pending partitions absent from `produced`, as the loud
    * empty-partition error (reference silver.py:42-47 / gold.py:46-51
    * ValueError on COUNT(*)==0). */
  private def requireProduced(produced: Set[PartitionKey], pending: DataFrame): Unit = {
    val missing = pending.select("city", "date").collect()
      .map(r => PartitionKey.of(r.get(0), r.get(1))).filterNot(produced)
    if (missing.nonEmpty) {
      val desc = missing.map(k => s"${k.city}/${k.date}").mkString(", ")
      throw new IllegalStateException(s"empty partitions after transform: $desc")
    }
  }

  /** Empty-partition guard: every pending partition must have produced at
    * least one row. Collects the batch's DISTINCT (city, date) before the
    * write. */
  def requireAllNonEmpty(processedRows: DataFrame, pending: DataFrame): Unit =
    requireProduced(
      processedRows.select("city", "date").distinct().collect()
        .map(r => PartitionKey.of(r.get(0), r.get(1))).toSet,
      pending)

  /** ZERO-EXTRA-SCAN variant of [[requireAllNonEmpty]] for the 100 TB
    * regime: the DISTINCT above re-scans the processed batch (a terabyte
    * batch makes the validation re-scan real IO). This attaches a Spark
    * `Observation`, so the TERMINAL ACTION ITSELF — the partition
    * write — collects the per-partition presence as it streams rows
    * through its tasks; `collect_set` over the two partition columns is
    * bounded by the pending-partition count.
    *
    * Contract: run the returned `validate` thunk AFTER the terminal
    * action on the INSTRUMENTED frame (it blocks on the observation and
    * throws [[requireAllNonEmpty]]'s loud error). The trade, stated:
    * validation happens after the write where the reference validates
    * before — pair with DYNAMIC partition overwrite, where rerunning a
    * failed batch overwrites the same partitions, so the late failure
    * costs a rerun, never correctness. */
  def requireAllNonEmptyObserved(processedRows: DataFrame,
                                 pending: DataFrame): (DataFrame, () => Unit) = {
    val obs = org.apache.spark.sql.Observation()
    val instrumented = processedRows.observe(obs,
      collect_set(struct(col("city"), col("date"))).as("parts"))
    val validate = () => requireProduced(
      obs.get("parts").asInstanceOf[scala.collection.Seq[Row]]
        .map(r => PartitionKey.of(r.get(0), r.get(1))).toSet,
      pending)
    (instrumented, validate)
  }
}
