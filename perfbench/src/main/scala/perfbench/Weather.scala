package perfbench

import java.time.LocalDate
import java.util.concurrent.atomic.AtomicLong

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.MetadataLedger
import graft.pipeline.{Bronze, Ingestion}

/** One generated observation: a 15-minute slot of one city's day. */
final case class Obs(time: String, temp: Option[Double], wind: Double, dir: Long, code: Long)

/** Seeded weather input for the pipeline workloads.
  *
  * Every value is a pure function of (seed, city, date, slot), so the same
  * seed yields the same lake whatever order the benchmark asks for it in.
  * Bodies have the Open-Meteo `current` shape the ingestion layer parses. */
final class Weather(seed: Long, nCities: Int, nullShare: Double) {
  import Ingestion.City

  val cities: Seq[City] = {
    val rng = new Random(seed)
    (0 until nCities).map { i =>
      val lat = round(rng.nextDouble() * 140 - 70, 4)
      City(f"city$i%03d", lat, round(rng.nextDouble() * 360 - 180, 4))
    }
  }

  private def round(v: Double, digits: Int): Double =
    BigDecimal(v).setScale(digits, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def rngFor(city: City, date: LocalDate, salt: Int): Random =
    new Random(seed * 1000003L + city.name.hashCode * 7919L + date.toEpochDay * 31L + salt)

  /** `n` distinct 15-minute slots of `date` for `city`, in time order.
    * With `allowNull`, each lacks its temperature with probability
    * `nullShare`, but never all of them: silver rejects a partition left
    * empty by its null filter. */
  def observations(city: City, date: LocalDate, n: Int, allowNull: Boolean = true): Seq[Obs] = {
    val rng = rngFor(city, date, n)
    val slots = rng.shuffle((0 until 96).toVector).take(n).sorted
    val obs = slots.map { s =>
      val temp =
        if (allowNull && rng.nextDouble() < nullShare) None
        else Some(round(rng.nextGaussian() * 8 + 12 + city.lat / 10, 1))
      Obs(f"${date}T${s / 4}%02d:${(s % 4) * 15}%02d", temp, round(rng.nextDouble() * 20, 1),
        rng.nextInt(360).toLong, rng.nextInt(100).toLong)
    }
    if (obs.exists(_.temp.isDefined)) obs
    else obs.head.copy(temp = Some(12.0)) +: obs.tail
  }

  def json(city: City, o: Obs): String =
    s"""{"latitude":${city.lat},"longitude":${city.lon},"current":{"time":"${o.time}",""" +
      s""""interval":900,"temperature_2m":${o.temp.fold("null")(_.toString)},""" +
      s""""wind_speed_10m":${o.wind},"wind_direction_10m":${o.dir},"weather_code":${o.code}}}"""
}

/** In-process transport: serves the observation of the current run date,
  * counts fetches and failures, and the JSON bytes it hands out. */
final class GeneratedFetcher(weather: Weather) extends Ingestion.Fetcher {
  @volatile var date: LocalDate = LocalDate.of(2025, 1, 1)
  val fetches, failed, bytes = new AtomicLong

  def observation(city: Ingestion.City): Obs =
    weather.observations(city, date, 1, allowNull = false).head

  def fetch(city: Ingestion.City): String = {
    fetches.incrementAndGet()
    try {
      val body = weather.json(city, observation(city))
      bytes.addAndGet(body.getBytes("UTF-8").length)
      body
    } catch { case e: Throwable => failed.incrementAndGet(); throw e }
  }
}

/** The expected gold: avg, min, max and count of non-null temperatures per
  * (city, date), folded in Scala from the generated observations. */
final class GoldFold {
  /** (sum, min, max, count) per (city, date). */
  private val acc =
    scala.collection.mutable.Map.empty[(String, LocalDate), (Double, Double, Double, Long)]
  var nonNull = 0L

  def add(city: String, date: LocalDate, obs: Seq[Obs]): Unit =
    obs.flatMap(_.temp).foreach { t =>
      val (s, mn, mx, n) =
        acc.getOrElse((city, date), (0.0, Double.MaxValue, -Double.MaxValue, 0L))
      acc((city, date)) = (s + t, math.min(mn, t), math.max(mx, t), n + 1)
      nonNull += 1
    }

  def partitions: Set[(String, LocalDate)] = acc.keySet.toSet

  /** Mismatches between the gold table and the fold, described. */
  def diff(gold: DataFrame): Seq[String] = {
    val rows = gold.select("city", "date", "avg_temp", "min_temp", "max_temp", "record_count")
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate) -> r).toMap
    val missing = acc.keySet.diff(rows.keySet).toSeq.map(k => s"gold lacks $k")
    val extra = rows.keySet.diff(acc.keySet).toSeq.map(k => s"gold has unexpected $k")
    val wrong = acc.toSeq.flatMap { case (k, (s, mn, mx, n)) =>
      rows.get(k).flatMap { r =>
        val avg = s / n
        val ok = r.getLong(5) == n && r.getDouble(3) == mn && r.getDouble(4) == mx &&
          math.abs(r.getDouble(2) - avg) <= 1e-9 * math.max(1.0, math.abs(avg))
        if (ok) None else Some(s"gold $k = $r, expected avg $avg min $mn max $mx count $n")
      }
    }
    missing ++ extra ++ wrong
  }
}

object Weather {

  /** Land a history of many observations per (city, date) through the
    * bronze layer in one write; returns the JSON bytes ingested. */
  def landHistory(spark: SparkSession, w: Weather, dates: Seq[LocalDate], perPartition: Int,
                  bronzeRoot: String, fold: Option[GoldFold]): Long = {
    var bytes = 0L
    val frames = dates.map { d =>
      val raw = w.cities.flatMap { c =>
        val obs = w.observations(c, d, perPartition)
        fold.foreach(_.add(c.name, d, obs))
        obs.map(o => c.name -> w.json(c, o))
      }
      bytes += raw.map(_._2.getBytes("UTF-8").length.toLong).sum
      Bronze.flatten(spark, raw, java.sql.Date.valueOf(d))
    }
    Bronze.write(frames.reduce(_ unionByName _), bronzeRoot)
    bytes
  }

  /** Output checks on a pipeline root: gold equals the fold, silver holds
    * every non-null observation, and the ledger holds exactly one row per
    * processed (layer, city, date). Returns the failures, described. */
  def check(spark: SparkSession, fold: GoldFold, silverRoot: String, goldRoot: String,
            ledgerPath: String): Seq[String] = {
    val gold = fold.diff(spark.read.parquet(goldRoot))
    val silverRows = spark.read.parquet(silverRoot).count()
    val silver =
      if (silverRows == fold.nonNull) Nil
      else Seq(s"silver has $silverRows rows, expected ${fold.nonNull} non-null observations")
    val ledger = MetadataLedger.read(spark, ledgerPath)
    val dup = ledger.groupBy("layer", "city", "date").count().filter(col("count") > 1).count()
    val keys = ledger.select("layer", "city", "date").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDate(2).toLocalDate)).toSet
    val expected = for {
      layer <- Set("silver", "gold")
      (c, d) <- fold.partitions
    } yield (layer, c, d)
    val ledgerErr =
      (if (dup > 0) Seq(s"ledger has $dup duplicated keys") else Nil) ++
        (if (keys == expected) Nil
         else Seq(s"ledger keys differ: ${expected.diff(keys).size} missing, " +
           s"${keys.diff(expected).size} unexpected"))
    gold.take(5) ++ silver ++ ledgerErr
  }
}
