package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** What a workload hands the harness. */
final case class Ctx(spark: SparkSession, inputs: String, out: String,
                     trace: Trace) {
  /** At a layer boundary of a traced run, the layer call's output is
    * materialised so its span holds that layer's work; untraced, the
    * frame stays lazy.
    */
  def mat(df: DataFrame): DataFrame =
    if (!trace.enabled) df
    else { val c = df.cache(); c.count(); c }

  /** Cached frames a frame's plan reads (traced runs check with it that a
    * library call found the layer output materialised before it).
    */
  def cacheHits(df: DataFrame): Double =
    df.queryExecution.withCachedData.collect { case m: InMemoryRelation => m }.size

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** One workload: untimed set-up, a timed round that can be repeated, and
  * the output checks made after the timed rounds.
  */
trait Workload {
  /** Input rows one round consumes. */
  def inputRows: Long
  /** Input bytes one round consumes. */
  def inputBytes: Long
  /** Index and state prebuild; untimed rounds follow it as warm-up. */
  def setup(): Unit = ()
  /** Untimed preparation of round `r` (fresh output directories). Spark's
    * cache is already empty: every round computes its frames anew.
    */
  def prepare(r: Int): Unit = ()
  /** The timed body. Records unit-operation latencies in `samples`. */
  def round(r: Int, samples: Samples): Unit
  /** Per-round figures read after round `r`, outside the timed and counted
    * window (traced runs add their layer audits here).
    */
  def afterRound(r: Int): Map[String, Double] = Map.empty
  /** Output checks and the files the Python oracle reads. */
  def check(): Map[String, String]
}

/** Unit-operation latencies by kind. An operation that throws is counted
  * as failed, its stack trace logged, and the round goes on; `tag` files a
  * latency under a sub-kind as well (say, the kind of batch).
  */
final class Samples {
  val byKind = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
  val byTag = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
  var failed = 0
  def timed(kind: String, tag: String = "")(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try {
      body
      val dt = (System.nanoTime() - t0) / 1e9
      byKind(kind) = byKind.getOrElse(kind, Vector.empty) :+ dt
      if (tag.nonEmpty) byTag(s"${kind}_$tag") = byTag.getOrElse(s"${kind}_$tag", Vector.empty) :+ dt
    } catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        System.err.println(s"perfbench: a $kind operation failed")
        e.printStackTrace()
    }
  }
  def attempted: Int = byKind.values.map(_.size).sum + failed
}

object Main {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def session(cores: Int, out: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        graft.util.SessionDefaults.advisoryPartitionBytes(cores).toString)
      .config(graft.util.SessionDefaults.CodegenCacheKey,
        graft.util.SessionDefaults.codegenCacheEntries(0).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = arg(args, "workload")
    val inputs = arg(args, "inputs")
    val out = arg(args, "out")
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val cores = arg(args, "cores").toInt
    Files.createDirectories(Paths.get(out))

    val spark = session(cores, out)
    val trace = new Trace(traced, s"$workload-${ProcessHandle.current().pid()}")
    val ctx = Ctx(spark, inputs, out, trace)
    val w: Workload = workload match {
      case "station_etl" => new StationEtl(ctx)
      case "corpus_dedup" => new CorpusDedup(ctx)
      case "nightly_fold" => new NightlyFold(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val counters = new SparkCounters(spark.sparkContext, cores)
    // Every round starts with Spark's cache empty. The library persists
    // frames it does not unpersist, and every round reads the same input
    // paths, so a round would otherwise read the frames an earlier round
    // cached instead of computing them.
    def fresh(r: Int): Unit = { spark.catalog.clearCache(); w.prepare(r) }
    // set-up: the workload's own prebuild, then untimed rounds that fill
    // the codegen and JIT caches
    // (untimed rounds number down from 0: no two rounds share a directory,
    // which Spark may still hold a file listing of)
    var untimed = 1
    def untimedRound(): Double = trace.enabledOff {
      untimed -= 1
      fresh(untimed)
      val s = new Samples
      val t0 = System.nanoTime()
      w.round(untimed, s)
      require(s.failed == 0, "an operation failed in an untimed round")
      (System.nanoTime() - t0) / 1e9
    }
    trace.enabledOff(w.setup())
    untimedRound(); untimedRound()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val setupCompileS = CodeGenerator.compileTime / 1e9

    // A traced run puts an untraced round before each traced one: the
    // difference of their medians is the tracing overhead. Both kinds of
    // round share the `seconds`, so a traced run takes no longer than an
    // untraced one.
    val untracedS = Vector.newBuilder[Double]
    val samples = new Samples
    val roundS = Vector.newBuilder[Double]
    val perRound = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val sparkPerRound = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    var writeBytes, filesWritten = 0L
    var r = 1
    var timedS = 0.0
    while (r == 1 || timedS < seconds) {
      if (traced) {
        val u = untimedRound()
        untracedS += u
        timedS += u
      }
      fresh(r)
      val b0 = ProcStats.bytesWritten
      val roundStartMs = System.currentTimeMillis()
      counters.reset()
      val t0 = System.nanoTime()
      trace.span("round")(w.round(r, samples))
      val dt = (System.nanoTime() - t0) / 1e9
      sparkPerRound += counters.snapshot()
      writeBytes += ProcStats.bytesWritten - b0
      filesWritten += ProcStats.filesSince(new File(s"$out/rounds"), roundStartMs)
      roundS += dt
      timedS += dt
      perRound += w.afterRound(r)
      r += 1
    }
    val rounds = r - 1
    // per-round figures, so runs with different round counts compare
    val spark0 = sparkPerRound.head.keys.map { k =>
      val vs = sparkPerRound.map(_(k)).toSeq
      k -> (if (k == "spark.core_util" || k == "spark.task_skew") median(vs)
            else vs.sum / rounds)
    }
    val runS = median(roundS.result())
    val checks = trace.enabledOff(w.check())

    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    layer ++= spark0
    // compile time in set-up, the window whose codegen moves setup_s; the
    // timed rounds' own compile time is spark.round_codegen_compile_s
    layer("spark.round_codegen_compile_s") = layer("spark.codegen_compile_s")
    layer("spark.codegen_compile_s") = setupCompileS
    if (traced) {
      trace.selfByName.foreach { case (n, s) => layer(s"$n.self_s") = s / rounds }
      trace.totalByName.foreach { case (n, s) =>
        if (n != "round") layer(s"${n}_s") = s / rounds }
      trace.counters.foreach { case (n, v) => layer(n) = v / rounds }
      val untracedRunS = median(untracedS.result())
      layer("trace.overhead_s") = runS - untracedRunS
      layer("trace.untraced_run_s") = untracedRunS
      layer("trace.spans") = trace.spans.size.toDouble
    }
    val last = perRound.lastOption.getOrElse(Map.empty)
    layer("sink.bytes_written") = writeBytes.toDouble / rounds
    layer("sink.files_written") = filesWritten.toDouble / rounds
    layer ++= last.filter { case (k, _) => !k.startsWith("state_") }

    val ops = samples.byKind.getOrElse("op", Vector.empty)
    val attempted = samples.attempted
    val e2e = scala.collection.mutable.LinkedHashMap(
      "setup_s" -> setupS,
      "run_s" -> runS,
      "rows_per_s" -> w.inputRows / runS,
      "op_p50_s" -> median(ops),
      "op_samples" -> ops.size.toDouble,
      "peak_rss_mb" -> ProcStats.peakRssMb,
      "write_amp" -> writeBytes.toDouble / rounds / w.inputBytes)
    samples.byTag.foreach { case (t, vs) => e2e(s"${t}_p50_s") = median(vs) }
    samples.byKind.get("retract").foreach { rs =>
      e2e("retract_p50_s") = median(rs); e2e("retract_samples") = rs.size.toDouble }
    for (b <- last.get("state_bytes"); in <- last.get("state_input_bytes"))
      e2e("state_bytes_per_input_byte") = b / in

    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "rounds" -> rounds.toString,
      "round_s" -> roundS.result().map(Json.num).mkString("[", ",", "]"),
      "attempted" -> attempted.toString,
      "failed" -> samples.failed.toString,
      "samples_s" -> Json.obj(samples.byKind.map { case (k, v) =>
        k -> v.map(Json.num).mkString("[", ",", "]") }),
      "end_to_end" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(layer.map { case (k, v) => k -> Json.num(v) }),
      "checks" -> Json.obj(checks.map { case (k, v) => k -> v })))
    Files.writeString(Paths.get(out, "result.json"), json)
    if (traced) Files.writeString(Paths.get(out, "spans.json"), trace.toJson)
    spark.stop()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def copyTree(from: File, to: File): Unit = {
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().foreach(c => copyTree(c, new File(to, c.getName)))
    } else Files.copy(from.toPath, to.toPath)
  }
}

/** Reads the planted ground truth the generators leave beside the inputs. */
object Inputs {
  def truth(dir: String): String =
    new String(Files.readAllBytes(Paths.get(dir, "truth.json")), "UTF-8")

  /** Sum of every integer field `key` in truth.json. */
  def truthSum(dir: String, key: String): Long =
    s""""$key": (\\d+)""".r.findAllMatchIn(truth(dir)).map(_.group(1).toLong).sum
}
