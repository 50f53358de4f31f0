package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Spark-side counts for one measured window, from a listener the
  * benchmark registers. The listener bus is asynchronous, so `snapshot`
  * drains it before reading.
  */
final class SparkCounters(sc: SparkContext, cores: Int) extends SparkListener {
  private case class TaskRec(stage: Int, launch: Long, finish: Long,
                             failed: Boolean)
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val stageSpan = mutable.Map.empty[Int, (Long, Long)]
  private var jobs, stages = 0L
  private var shuffleWrite, shuffleRead, spill = 0L
  private var windowStart = 0L
  private var gc0, cg0 = 0L

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val i = e.stageInfo
    for (s <- i.submissionTime; f <- i.completionTime) stageSpan(i.stageId) = (s, f)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    tasks += TaskRec(e.stageId, info.launchTime, info.finishTime, info.failed)
    Option(e.taskMetrics).foreach { m =>
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** Starts a fresh window. */
  def reset(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      tasks.clear(); stageSpan.clear()
      jobs = 0; stages = 0; shuffleWrite = 0; shuffleRead = 0; spill = 0
      windowStart = System.currentTimeMillis()
    }
    gc0 = gcMs
    cg0 = CodeGenerator.compileTime
  }

  /** The counts since the last `reset`. */
  def snapshot(): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val windowEnd = System.currentTimeMillis()
    synchronized {
      val wall = (windowEnd - windowStart).max(1L)
      val busyMs = tasks.map(t => t.finish - t.launch).sum
      // wall time of the window during which no task was running
      val covered = tasks.map(t => (t.launch.max(windowStart), t.finish.min(windowEnd)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (a >= reach) (sum + (b - a), b)
          else if (b > reach) (sum + (b - reach), b)
          else (sum, reach)
        }._1
      val skew = stageSpan.maxByOption { case (_, (s, f)) => f - s }.map { case (id, _) =>
        val ds = tasks.filter(t => t.stage == id && !t.failed)
          .map(t => (t.finish - t.launch).toDouble).sorted
        if (ds.isEmpty) 1.0 else ds.last / math.max(ds(ds.size / 2), 1.0)
      }.getOrElse(1.0)
      Map(
        "spark.jobs" -> jobs.toDouble,
        "spark.stages" -> stages.toDouble,
        "spark.tasks" -> tasks.size.toDouble,
        "spark.failed_tasks" -> tasks.count(_.failed).toDouble,
        "spark.idle_s" -> (wall - covered) / 1e3,
        "spark.task_busy_s" -> busyMs / 1e3,
        "spark.core_util" -> busyMs.toDouble / (wall * cores),
        "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
        "spark.shuffle_read_bytes" -> shuffleRead.toDouble,
        "spark.spill_bytes" -> spill.toDouble,
        "spark.task_skew" -> skew,
        "spark.codegen_compile_s" -> (CodeGenerator.compileTime - cg0) / 1e9,
        "spark.gc_s" -> (gcMs - gc0) / 1e3)
    }
  }
}

/** Process-level figures read outside Spark. */
object ProcStats {
  /** Peak resident set size of this JVM (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Bytes written through Hadoop's local file system since JVM start:
    * every parquet file, checksum and commit marker the sinks and state
    * merges write.
    */
  def bytesWritten: Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  /** Files under a directory written after `sinceMs` and still there,
    * Hadoop checksum files excluded.
    */
  def filesSince(dir: java.io.File, sinceMs: Long): Long = {
    if (!dir.exists()) return 0L
    java.nio.file.Files.walk(dir.toPath).iterator().asScala
      .count(p => java.nio.file.Files.isRegularFile(p) &&
        !p.getFileName.toString.endsWith(".crc") &&
        java.nio.file.Files.getLastModifiedTime(p).toMillis > sinceMs).toLong
  }

  /** (files, bytes) under a directory, Hadoop checksum files excluded. */
  def footprint(dir: java.io.File): (Long, Long) = {
    if (!dir.exists()) return (0L, 0L)
    val files = java.nio.file.Files.walk(dir.toPath).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        !p.getFileName.toString.endsWith(".crc")).toSeq
    (files.size.toLong, files.map(p => java.nio.file.Files.size(p)).sum)
  }
}
