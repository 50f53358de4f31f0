package perfbench

import java.io.File
import java.time.LocalDate
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.op.PriceGen
import graft.pipeline.Pipeline
import graft.sink.Sinks
import graft.source.{JsonIngest, Tables}

/** The paper's own surface: K collection batches in the three payload
  * dialects, each deduplicated and anti-joined against the station table
  * and appended to it; then a price backfill over `Days` days and one
  * last-write-wins daily price merge, both written partitioned by date.
  * The unit operation is one collection batch.
  */
final class StationEtl(ctx: Ctx) extends Workload {
  import ctx.{spark, trace}
  private val Key = "location_id"
  private val Days = 7
  private val From = LocalDate.of(2024, 1, 1)
  private val To = From.plusDays(Days - 1L)

  private val batches: Seq[File] =
    new File(s"${ctx.inputs}/batches").listFiles().filter(_.getName.endsWith(".jsonl"))
      .sortBy(_.getName).toSeq
  private def dialect(f: File): String = f.getName.split("[-.]")(1)
  /** `first` (a source's first fetch) or `refetch` (its list again). */
  private def kind(f: File): String = f.getName.split("[-.]")(2)
  private val seedTable = new File(s"${ctx.inputs}/stations_seed.parquet")

  val inputBytes: Long = batches.map(_.length).sum
  val inputRows: Long = Inputs.truthSum(ctx.inputs, "rows")

  private def roundDir(r: Int) = s"${ctx.out}/rounds/r$r"

  private def normalize(payloads: org.apache.spark.sql.Dataset[String], d: String) =
    d match {
      case "bp" => JsonIngest.normalizeBp(spark, payloads)
      case "mobil" => JsonIngest.normalizeMobil(spark, payloads)
      case _ => JsonIngest.normalizePlaces(spark, payloads)
    }

  /** One collection batch: `Pipeline.collect` (decode + normalize,
    * intra-batch first-seen dedup, anti-join against the stored keys), then
    * the append. Traced, the normalize step is made first and materialised,
    * so that the library call that follows finds it in the cache (its own
    * `normalized.cache()` has the same plan) and its span holds only the
    * dedup and the anti-join.
    */
  private def collectBatch(f: File, stations: String): Unit = {
    val payloads = spark.read.textFile(f.getPath)
    val existing = spark.read.parquet(stations)
    val fresh =
      if (!trace.enabled) Pipeline.collect(spark, payloads, dialect(f), existing)
      else trace.span("pipeline.collect") {
        val normalized = trace.span("source.normalize") {
          ctx.mat(normalize(payloads, dialect(f)))
        }
        val nIn = normalized.count()
        trace.count("source.rows_out", nIn.toDouble)
        trace.span("op.dedup") {
          val lib = Pipeline.collect(spark, payloads, dialect(f), existing)
          trace.count("source.normalize_cache_hits", ctx.cacheHits(lib))
          val out = ctx.mat(lib)
          trace.count("op.dedup_rows_in", nIn.toDouble)
          trace.count("op.dedup_rows_out", out.count().toDouble)
          out
        }
      }
    trace.span("sink.write") { fresh.write.mode(SaveMode.Append).parquet(stations) }
    if (trace.enabled) spark.catalog.clearCache()
  }

  /** The price backfill and the daily last-write-wins merge. Traced, the
    * daily run's price generation is made first and materialised, so that
    * `Pipeline.dailyPrices` finds it in the cache and its span holds the
    * merge.
    */
  private def prices(dir: String): Unit = {
    val stations = spark.read.parquet(s"$dir/stations")
    val backfill = trace.span("op.pricegen") {
      ctx.mat(Pipeline.backfillPrices(spark, stations, Key, None, From, To))
    }
    trace.span("sink.write") { Sinks.parquetByDate(backfill, s"$dir/prices") }
    // the daily run re-prices the last backfilled day and merges it over
    // the stored rows of that day, last write wins
    val day = lit(java.sql.Date.valueOf(To))
    val stored = spark.read.parquet(s"$dir/prices").filter(col("date") === day)
    if (trace.enabled) trace.span("op.pricegen") {
      ctx.mat(PriceGen.generate(Tables.keyScan(stations, Key), Key,
        Tables.fuelTypes(spark), day))
    }
    val daily = trace.span("op.dedup") {
      val lib = Pipeline.dailyPrices(spark, stations, Key, Some(stored), day)
      trace.count("op.pricegen_cache_hits", ctx.cacheHits(lib))
      ctx.mat(lib)
    }
    trace.span("sink.write") { Sinks.parquetByDate(daily, s"$dir/prices_daily") }
    if (trace.enabled) spark.catalog.clearCache()
  }

  override def prepare(r: Int): Unit = {
    Main.deleteTree(new File(s"${ctx.out}/rounds"))
    new File(s"${roundDir(r)}/stations").mkdirs()
    Main.copyTree(seedTable, new File(s"${roundDir(r)}/stations/part-seed.parquet"))
  }

  def round(r: Int, samples: Samples): Unit = {
    batches.foreach { f =>
      samples.timed("op", kind(f))(collectBatch(f, s"${roundDir(r)}/stations"))
    }
    prices(roundDir(r))
  }

  override def afterRound(r: Int): Map[String, Double] = {
    val (files, bytes) = ProcStats.footprint(new File(roundDir(r)))
    val (_, seedBytes) = ProcStats.footprint(seedTable)
    Map("sink.state_files" -> files.toDouble,
      "state_bytes" -> (bytes - seedBytes).toDouble,
      "state_input_bytes" -> inputBytes.toDouble)
  }

  def check(): Map[String, String] = {
    val dir = roundDir(new File(s"${ctx.out}/rounds").list().map(_.drop(1).toInt).max)
    Map("stations" -> Json.str(s"$dir/stations"),
      "prices" -> Json.str(s"$dir/prices"),
      "prices_daily" -> Json.str(s"$dir/prices_daily"),
      "days" -> Days.toString,
      "from" -> Json.str(From.toString))
  }
}
