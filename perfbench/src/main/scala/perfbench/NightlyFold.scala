package perfbench

import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.{Curation, IncrementalCuration, IncrementalPipeline}
import graft.source.Tables

/** The incremental path: the corpus cut into ascending-id nights, each
  * folded by `IncrementalPipeline.nightly` into one state root with
  * compaction on, and one `retractNightly` after the first timed night.
  * Set-up folds the warm-up nights into a prebuilt state; every round
  * starts from a copy of it. The unit operation is one night.
  */
final class NightlyFold(ctx: Ctx) extends Workload {
  import ctx.{spark, trace}
  private val Text = "text"
  private val Id = "doc_id"
  private val WarmNights = 1
  private val TimedNights = 1
  private val Nights = WarmNights + TimedNights

  private def docs: DataFrame =
    Tables.documents(spark, ctx.inputs).select(Id, Text, "lang", "source")

  /** Upper id bound of every night, from the ascending id order. */
  private lazy val bounds: IndexedSeq[Long] = {
    val ids = docs.select(Id).orderBy(Id).collect().map(_.getLong(0))
    (1 to Nights).map(n => ids(ids.length * n / Nights - 1))
  }
  private def night(n: Int): DataFrame = {
    val lo = if (n == 1) Long.MinValue else bounds(n - 2)
    docs.filter(col(Id) > lo && col(Id) <= bounds(n - 1))
  }
  private def textBytes(df: DataFrame): Long =
    df.agg(sum(length(col(Text)))).head().getLong(0)

  /** The ids retracted after night `n`: about 2% of everything folded. */
  private def retracted(n: Int): DataFrame =
    docs.filter(col(Id) <= bounds(n - 1) && pmod(xxhash64(col(Id)), lit(50)) === 0)
      .select(Id)
  private val RetractAfter = WarmNights + 1

  private def state0 = s"${ctx.out}/state0"
  private def root(r: Int) = s"${ctx.out}/rounds/r$r/state"

  lazy val inputRows: Long =
    (WarmNights + 1 to Nights).map(night(_).count()).sum
  lazy val inputBytes: Long =
    (WarmNights + 1 to Nights).map(n => textBytes(night(n))).sum
  private lazy val allBytes: Long = (1 to Nights).map(n => textBytes(night(n))).sum

  private var admitted, batched, compacted = 0L

  private def fold(root: String, n: Int): Unit = {
    val rep = trace.span("pipeline.nightly") {
      IncrementalPipeline.nightly(spark, root, night(n), Text, Id,
        batchNo = 2L * n, compact = true)
    }
    admitted += rep.nAdmitted; batched += rep.nBatch
    compacted += rep.compaction.size
  }

  override def setup(): Unit = {
    (1 to WarmNights).foreach(fold(state0, _))
    // sizes are read here so the rounds only time the folds
    inputRows; inputBytes; allBytes
  }

  override def prepare(r: Int): Unit = {
    Main.deleteTree(new File(s"${ctx.out}/rounds"))
    Main.copyTree(new File(state0), new File(root(r)))
    admitted = 0; batched = 0; compacted = 0
  }

  def round(r: Int, samples: Samples): Unit =
    (WarmNights + 1 to Nights).foreach { n =>
      samples.timed("op")(fold(root(r), n))
      if (n == RetractAfter) samples.timed("retract") {
        trace.span("pipeline.retract") {
          IncrementalPipeline.retractNightly(spark, root(r), retracted(n), Text, Id,
            retractVer = 2L * n + 1)
        }
      }
    }

  override def afterRound(r: Int): Map[String, Double] = {
    val (files, bytes) = ProcStats.footprint(new File(root(r)))
    Map("pipeline.admit_ratio" -> admitted.toDouble / batched.max(1L),
      "sink.compacted_partitions" -> compacted.toDouble,
      "sink.state_files" -> files.toDouble,
      "sink.state_bytes" -> bytes.toDouble,
      "state_bytes" -> bytes.toDouble,
      "state_input_bytes" -> allBytes.toDouble)
  }

  /** Survivors after the last night and the retraction must equal the
    * one-shot curation of the surviving input.
    */
  def check(): Map[String, String] = {
    val last = new File(s"${ctx.out}/rounds").list().map(_.drop(1).toInt).max
    val folded = docs.filter(col(Id) <= bounds(Nights - 1))
      .join(retracted(RetractAfter), Seq(Id), "left_anti")
    val got = IncrementalCuration.survivors(spark, s"${root(last)}/curation", Id)
      .select(Id, "n_words", "quality_score")
    val want = Curation.curate(folded, Text, Id).select(Id, "n_words", "quality_score")
    val dir = s"${ctx.out}/check"
    got.write.mode("overwrite").parquet(s"$dir/survivors")
    folded.write.mode("overwrite").parquet(s"$dir/surviving_input")
    val mismatches = got.exceptAll(want).count() + want.exceptAll(got).count()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "curation.sql"),
      graft.OracleSql.all("ns_curation_pipeline"))
    Map("dir" -> Json.str(dir),
      "survivor_mismatches" -> mismatches.toString,
      "survivors" -> got.count().toString)
  }
}
