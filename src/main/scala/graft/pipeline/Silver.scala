package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

import graft.meta.MetadataLedger
import graft.sources.ParquetLake

/** Cleaning (silver) layer: cast/parse/filter bronze rows, write
  * partitioned, record progress in the ledger.
  *
  * Column logic mirrors the reference CTAS (silver.py:28-39): rename
  * `*_2m/_10m` metrics, parse `time` with the Java format equivalent of
  * STRPTIME '%Y-%m-%dT%H:%M', cast wind_direction/weather_code to int, and
  * drop rows with null temperature. The reference treats a missing bronze
  * directory as fatal for silver (silver.py:8-12) — preserved here.
  */
object Silver {

  val layerName = "silver"

  /** Pure column transform, bronze → silver schema (testable without IO). */
  def transform(bronze: DataFrame): DataFrame =
    bronze
      .filter(col("temperature_2m").isNotNull)
      .select(
        col("city"),
        col("date"),
        to_timestamp(col("time"), "yyyy-MM-dd'T'HH:mm").as("timestamp"),
        col("temperature_2m").cast(DoubleType).as("temperature"),
        col("wind_speed_10m").cast(DoubleType).as("wind_speed"),
        col("wind_direction_10m").cast(IntegerType).as("wind_direction"),
        col("weather_code").cast(IntegerType).as("weather_code")
      )

  /** Incremental run: process bronze partitions not yet in the ledger.
    * Returns the number of partitions processed.
    *
    * `observedValidation` (default ON — the 100 TB path) validates the
    * empty-partition guard via [[Layers.requireAllNonEmptyObserved]]: the
    * partition WRITE itself collects per-partition presence, zero extra
    * scans. Validation then lands after the write; dynamic partition
    * overwrite makes the rerun-on-failure overwrite the same partitions, so
    * the late failure costs a rerun, never correctness (and the ledger is
    * only stamped after validation passes). Set it false for the
    * reference's validate-before-write order at the price of a re-scan. */
  def run(spark: SparkSession, bronzeRoot: String, silverRoot: String,
          metadataPath: String, observedValidation: Boolean = true): Long = {
    val bronze = ParquetLake.read(spark, bronzeRoot, Schemas.bronze) // missing bronze → fatal, like the reference
    val pending = MetadataLedger.pendingPartitions(
      Layers.availablePartitions(bronze),
      MetadataLedger.processed(spark, metadataPath, layerName))
    if (pending.isEmpty) return 0L
    val pendingDf = Layers.frame(spark, pending)
    val batch = transform(Layers.scopeToPending(bronze, pendingDf))
    if (observedValidation) {
      val (instrumented, validate) = Layers.requireAllNonEmptyObserved(batch, pendingDf)
      ParquetLake.overwritePartitions(instrumented, silverRoot, Seq("city", "date"))
      validate() // throws before the ledger is stamped
    } else {
      Layers.requireAllNonEmpty(batch, pendingDf)
      ParquetLake.overwritePartitions(batch, silverRoot, Seq("city", "date"))
    }
    MetadataLedger.upsert(spark, metadataPath, pendingDf.withColumn("layer", lit(layerName)))
    pending.size.toLong
  }
}
