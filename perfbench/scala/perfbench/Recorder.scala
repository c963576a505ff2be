package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark listener behind the pass counters. Untraced runs only sum the
  * shuffle bytes written and follow the block manager's RDD block
  * memory (for `shuffle_mb` and `heap_live_peak_mb`); traced runs also
  * keep a span per job, attributed to its step through the
  * job group the runner sets, plus task, stage and block-manager
  * counters. Everything stays in memory until the run ends. */
final class Recorder(trace: Boolean) extends SparkListener {
  private final class Job(val id: Int, val group: String, val start: Long) { var end: Long = -1 }
  private final class Counters {
    var jobs, stages, tasks = 0L
    var runMs, waitMs, spill, shuffle, scanned = 0L
  }

  private var shuffleWritten = 0L
  private val allJobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.Map.empty[Int, Job]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val byGroup = mutable.LinkedHashMap.empty[String, Counters]
  private val blockMem = mutable.Map.empty[String, Long]
  private var storageNow, storagePeak = 0L

  private def group(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  def startPass(): Unit = synchronized {
    shuffleWritten = 0L
    byGroup.clear()
    storagePeak = storageNow
  }

  def passShuffleBytes: Long = synchronized(shuffleWritten)

  /** Memory of the RDD blocks the pass held at its peak and has
    * released since. */
  def blocksReleasedBytes: Long = synchronized(storagePeak - storageNow)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (trace) synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
    val j = new Job(e.jobId, g, e.time)
    allJobs += j
    jobById(e.jobId) = j
    e.stageIds.foreach(s => stageGroup(s) = g)
    group(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (trace) synchronized {
    jobById.remove(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (trace) synchronized {
    group(stageGroup.getOrElse(e.stageInfo.stageId, "none")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      shuffleWritten += m.shuffleWriteMetrics.bytesWritten
      if (trace) {
        val c = group(stageGroup.getOrElse(e.stageId, "none"))
        val info = e.taskInfo
        val duration = info.finishTime - info.launchTime
        val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        c.tasks += 1
        c.runMs += m.executorRunTime
        // scheduler delay as the Spark UI defines it
        c.waitMs += math.max(0L, duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - gettingResult)
        c.spill += m.diskBytesSpilled
        c.shuffle += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val mem = if (info.storageLevel.isValid) info.memSize else 0L
      storageNow += mem - blockMem.getOrElse(id, 0L)
      if (mem == 0L) blockMem.remove(id) else blockMem(id) = mem
      storagePeak = math.max(storagePeak, storageNow)
    }
  }

  private var scanStep = "none"

  /** Scans of queries that finish from now on belong to step `name`. */
  def stepStarted(name: String): Unit = synchronized { scanStep = name }

  /** Traced runs wait for the bus to deliver the step's query events. */
  def stepEnded(sc: org.apache.spark.SparkContext): Unit = if (trace) {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized { scanStep = "none" }
  }

  /** Bytes of the files each finished query's file scans selected
    * (after partition pruning), summed per step. Task input metrics do
    * not serve here: the parquet reader of this Spark build reports
    * almost none of the bytes it reads. */
  val scans: QueryExecutionListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val bytes = collect(qe.executedPlan) { case s: FileSourceScanExec =>
        s.metrics.get("filesSize").map(_.value).getOrElse(0L)
      }.sum
      Recorder.this.synchronized { group(scanStep).scanned += bytes }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Traced counters of the pass that ran from `ms0` to `ms1`. */
  def passMetrics(ms0: Long, ms1: Long): Seq[(String, Double)] = synchronized {
    if (!trace) return Seq.empty
    val mb = 1048576.0
    val tot = byGroup.values.foldLeft(new Counters) { (a, c) =>
      a.jobs += c.jobs; a.stages += c.stages; a.tasks += c.tasks
      a.runMs += c.runMs; a.waitMs += c.waitMs; a.spill += c.spill; a.shuffle += c.shuffle
      a
    }
    // pass time covered by no running job: planning, codegen and
    // driver-side work between the jobs
    val ivs = allJobs.filter(j => j.start >= ms0 && j.end >= 0 && j.start <= ms1)
      .map(j => (j.start, math.min(j.end, ms1))).sortBy(_._1)
    var covered = 0L; var reach = ms0
    ivs.foreach { case (s, e) =>
      val s1 = math.max(s, reach)
      if (e > s1) { covered += e - s1; reach = e }
    }
    Seq(
      "spark.jobs" -> tot.jobs.toDouble,
      "spark.stages" -> tot.stages.toDouble,
      "spark.tasks" -> tot.tasks.toDouble,
      "spark.task_wait_s" -> tot.waitMs / 1e3,
      "spark.task_run_s" -> tot.runMs / 1e3,
      "spark.spill_mb" -> tot.spill / mb,
      "spark.storage_peak_mb" -> storagePeak / mb,
      "driver.outside_jobs_s" -> ((ms1 - ms0) - covered) / 1e3) ++
    byGroup.toSeq.filter(_._1 != "none").flatMap { case (g, c) =>
      Seq(s"$g.jobs" -> c.jobs.toDouble, s"$g.shuffle_mb" -> c.shuffle / mb, s"$g.read_mb" -> c.scanned / mb)
    }
  }

  /** Pass and step spans from the runner plus one span per Spark job,
    * parented by its step, as JSON lines. */
  def writeSpans(path: Path, spans: Seq[Span]): Unit = synchronized {
    val jobSpans = allJobs.map(j => Span(s"job${j.id}", "job", j.group, j.start, j.end))
    val w = Json.mapper.writer()
    val lines = (spans ++ jobSpans).map { s =>
      w.writeValueAsString(ListMap("name" -> s.name, "kind" -> s.kind, "parent" -> s.parent,
        "start_ms" -> s.start, "end_ms" -> s.end))
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
