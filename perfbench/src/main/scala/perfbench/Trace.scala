package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed call into a layer: `name` is the op, `parent` the span
  * that issued it (0 for a root), `op` the id shared by every span of
  * one operation. Times are epoch milliseconds, as Spark's listener
  * events carry them. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
                      name: String, start: Long, end: Long)

/** Spans kept in memory plus the Spark work each op issued, counted by
  * a [[SparkListener]]. Jobs are attributed through the local property
  * [[Trace.OpKey]], which the benchmark sets on the calling thread
  * around each call (Spark copies local properties into every job the
  * thread submits). Jobs submitted without it belong to `streaming`
  * when Structured Streaming tagged them, else to `other`. */
final class Trace extends SparkListener {
  import Trace.{Job, Task}
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val tasks = mutable.ArrayBuffer.empty[Task]

  /** Record a span; returns its id, for children to name as parent. */
  def span(parent: Long, op: Long, layer: String, name: String,
           start: Long, end: Long): Long = {
    val id = nextId.getAndIncrement()
    spans.add(Span(id, parent, op, layer, name, start, end))
    id
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(Trace.OpKey)))
      .orElse(props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
        .map(_ => "streaming"))
      .getOrElse("other")
    jobs(e.jobId) = Job(e.jobId, op, e.time, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      tasks += Task(e.stageId, e.taskInfo.duration, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Sum of the union of [start, end) intervals, in seconds. */
  private def covered(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }

  /** Per-layer and whole-run counters over [t0, t1] (epoch ms). A
    * layer's ops are the root spans it recorded in that window. */
  def summary(t0: Long, t1: Long, cores: Int): Map[String, Double] =
    synchronized {
      val out = mutable.LinkedHashMap.empty[String, Double]
      val inRun = jobs.values.filter(j => j.start >= t0 && j.start <= t1).toSeq
      val runJobs = inRun.map(_.id).toSet
      val runTasks = tasks.filter(t => stageJob.get(t.stage).exists(runJobs))
      val all = spans.asScala.toSeq
      val roots = all.filter(s => s.parent == 0 && s.start >= t0)
      val children = all.groupBy(_.parent)
      val jobsByOp = inRun.groupBy(_.op)
      for (layer <- Trace.Layers) {
        val rs = roots.filter(_.layer == layer)
        def child(name: String) =
          rs.flatMap(r => children.getOrElse(r.id, Nil)).filter(_.name == name)
            .map(s => (s.end - s.start) / 1000.0).sum
        val opJobs = rs.flatMap(r => jobsByOp.getOrElse(r.name, Nil))
        val gap = rs.map { r =>
          val iv = jobsByOp.getOrElse(r.name, Nil)
            .map(j => (math.max(j.start, r.start), math.min(j.end, r.end)))
          (r.end - r.start) / 1000.0 - covered(iv)
        }.sum
        // self time: the op span minus what its plan/exec children cover
        val self = rs.map { r =>
          (r.end - r.start) / 1000.0 - covered(children.getOrElse(r.id, Nil)
            .map(c => (c.start, c.end)))
        }.sum
        out(s"$layer.ops") = rs.size
        out(s"$layer.plan_s") = child("plan")
        out(s"$layer.exec_s") = child("exec")
        out(s"$layer.self_s") = self
        out(s"$layer.jobs") = opJobs.size
        out(s"$layer.driver_gap_s") = gap
      }
      out("streaming.jobs") = inRun.count(_.op == "streaming")
      val commitJobs = inRun.filter(_.op.startsWith("tables:commit:"))
      out("tables.commit_jobs") =
        commitJobs.size.toDouble / math.max(1, commitJobs.map(_.op).distinct.size)
      out("spark.jobs") = inRun.size
      out("spark.tasks") = runTasks.size
      out("spark.executor_cpu_s") = runTasks.map(_.cpuNs).sum / 1e9
      out("spark.gc_s") = runTasks.map(_.gcMs).sum / 1000.0
      out("spark.shuffle_write_bytes") = runTasks.map(_.shuffleWrite).sum.toDouble
      out("spark.spill_bytes") = runTasks.map(_.spill).sum.toDouble
      val wall = math.max(1L, t1 - t0) / 1000.0
      out("spark.core_util") = runTasks.map(_.durMs).sum / 1000.0 / (wall * cores)
      // worst stage's slowest task over its median task (stages of 4+ tasks)
      out("spark.task_skew") = runTasks.groupBy(_.stage).values
        .filter(_.size >= 4).map { ts =>
          val d = ts.map(_.durMs).sorted
          d.last.toDouble / math.max(1L, d(d.size / 2))
        }.maxOption.getOrElse(1.0)
      // wall time of the timed ops that no job of that op covers
      out("spark.driver_gap_s") = Trace.Layers.map(l => out(s"$l.driver_gap_s")).sum
      out.toMap
    }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.id).map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.start,
        "end_ms" -> s.end)
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  final case class Job(id: Int, op: String, start: Long, var end: Long)
  final case class Task(stage: Int, durMs: Long, cpuNs: Long, gcMs: Long,
                        shuffleWrite: Long, spill: Long)

  /** Local property naming the op (`layer:name:seq`) a job serves. */
  val OpKey = "perfbench.op"
  val Layers = Seq("core", "ops", "dedup", "sim", "text", "tables", "sql",
    "streaming")
}
