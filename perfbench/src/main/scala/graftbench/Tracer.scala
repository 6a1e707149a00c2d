package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One span: a query, one of its four layer phases, or a Spark job. Times
  * are microseconds since the epoch. */
final case class Span(id: String, parent: Option[String], name: String,
    startUs: Long, endUs: Long, attrs: Map[String, Any]) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "name" -> name, "start_us" -> startUs, "end_us" -> endUs,
    "attrs" -> attrs)
}

/** The traced run's listener. Every timed query sets the job group
  * `<query id>/<phase>` on its client thread before each phase, so each job,
  * and through the job each stage and task, is attributed to the query and
  * layer that started it, also under concurrent clients. Counters and spans
  * stay in memory until the window ends. */
final class Tracer extends SparkListener {
  private val nano0 = System.nanoTime()
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private def us(nano: Long): Long = epochUs0 + (nano - nano0) / 1000L

  import Tracer.Job
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private val sums = new ConcurrentHashMap[String, DoubleAdder]()
  private def add(k: String, v: Double): Unit =
    sums.computeIfAbsent(k, _ => new DoubleAdder).add(v)
  private def sum(k: String): Double =
    Option(sums.get(k)).map(_.sum()).getOrElse(0.0)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .map(_.split('/')).collect {
        case Array(q, ph) if q.nonEmpty && q.forall(_.isDigit) =>
          val j = Job(e.jobId, q.toLong, ph, e.time)
          jobs.put(e.jobId, j)
          e.stageIds.foreach(stageJob.put(_, j))
          add("jobs", 1)
          add(s"jobs.$ph", 1)
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (stageJob.containsKey(e.stageInfo.stageId)) {
      stageSubmitMs.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
      add("stages", 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      add("tasks", 1)
      Option(stageSubmitMs.get(e.stageId)).foreach(s =>
        add("task_wait_ms", (e.taskInfo.launchTime - s).max(0L).toDouble))
      Option(e.taskMetrics).foreach { m =>
        add("run_ms", m.executorRunTime.toDouble)
        if (j.phase == "exec") add("run_ms.exec", m.executorRunTime.toDouble)
        add("cpu_ns", m.executorCpuTime.toDouble)
        add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("input_rows", m.inputMetrics.recordsRead.toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        add("output_rows", m.outputMetrics.recordsWritten.toDouble)
      }
    }

  /** A root span per query with its four layer children. */
  def querySpans(samples: Seq[Main.Sample], workload: String,
      seed: Long): Seq[Span] = samples.flatMap { s =>
    val id = s"q${s.id}"
    val attrs = Map("workload" -> workload, "query" -> s.query,
      "client" -> s.client, "pass" -> s.pass, "seed" -> seed,
      "error" -> s.error.map(_.linesIterator.next()))
    s.t match {
      case None => Seq(Span(id, None, "query", 0L, 0L, attrs))
      case Some(t) =>
        Span(id, None, "query", us(t.start), us(t.done), attrs) +:
          Seq(("queries.build", t.start, t.built),
            ("catalyst.optimize", t.built, t.optimized),
            ("catalyst.plan", t.optimized, t.planned),
            ("exec", t.planned, t.done)).map { case (n, a, b) =>
            Span(s"$id.$n", Some(id), n, us(a), us(b), Map.empty) }
    }
  }

  /** A span per Spark job, parented to the layer span that started it. */
  def jobSpans: Seq[Span] = jobs.values().asScala.toSeq.sortBy(_.id).map { j =>
    val layer = j.phase match {
      case "build" => "queries.build"
      case "optimize" => "catalyst.optimize"
      case "plan" => "catalyst.plan"
      case _ => "exec"
    }
    Span(s"j${j.id}", Some(s"q${j.query}.$layer"), "job", j.startMs * 1000L,
      j.endMs * 1000L, Map("job_id" -> j.id))
  }

  /** Milliseconds covered by the union of one query's jobs of one phase. */
  private def jobCoverMs(query: Long, phase: String): Double = {
    val iv = jobs.values().asScala.filter(j => j.query == query &&
      j.phase == phase).map(j => (j.startMs, j.endMs)).toSeq.sortBy(_._1)
    var covered = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) covered += ce - cs; cs = s; ce = e }
      else ce = ce.max(e)
    }
    if (ce > cs) covered += ce - cs
    covered.toDouble
  }

  /** Per-layer metrics, each per completed query unless it is a ratio. */
  def layers(samples: Seq[Main.Sample], cores: Int,
      processCpuS: Double, gcS: Double): Map[String, Double] = {
    val ok = samples.filter(_.t.isDefined)
    val n = ok.size.max(1).toDouble
    def mean(f: Main.Timing => Long): Double = ok.map(s => f(s.t.get)).sum / 1e9 / n
    val execWallS = ok.map(s => s.t.get.done - s.t.get.planned).sum / 1e9
    def selfS(phase: String, f: Main.Timing => Long): Double =
      ok.map(s => f(s.t.get) / 1e9 - jobCoverMs(s.id, phase) / 1e3).sum / n
    Map(
      "queries.build_s" -> mean(t => t.built - t.start),
      "queries.build_self_s" -> selfS("build", t => t.built - t.start),
      "queries.build_jobs" -> sum("jobs.build") / n,
      "catalyst.optimize_s" -> mean(t => t.optimized - t.built),
      "catalyst.plan_s" -> mean(t => t.planned - t.optimized),
      "exec.wall_s" -> execWallS / n,
      "exec.self_s" -> selfS("exec", t => t.done - t.planned),
      "scheduler.jobs" -> sum("jobs") / n,
      "scheduler.stages" -> sum("stages") / n,
      "scheduler.tasks" -> sum("tasks") / n,
      "scheduler.task_wait_s" -> sum("task_wait_ms") / 1e3 / n,
      "exec.task_run_s" -> sum("run_ms") / 1e3 / n,
      "exec.task_cpu_s" -> sum("cpu_ns") / 1e9 / n,
      "exec.core_util" -> sum("run_ms.exec") / 1e3 / (execWallS * cores).max(1e-9),
      "scan.input_mb" -> sum("input_bytes") / 1e6 / n,
      "scan.input_rows" -> sum("input_rows") / n,
      "shuffle.write_mb" -> sum("shuffle_write_bytes") / 1e6 / n,
      "shuffle.read_mb" -> sum("shuffle_read_bytes") / 1e6 / n,
      "shuffle.fetch_wait_s" -> sum("fetch_wait_ms") / 1e3 / n,
      "exec.spill_mb" -> sum("spill_bytes") / 1e6 / n,
      "sources.write_mb" -> sum("output_bytes") / 1e6 / n,
      "sources.write_rows" -> sum("output_rows") / n,
      "driver.cpu_s" -> (processCpuS - sum("cpu_ns") / 1e9) / n,
      "jvm.gc_s" -> gcS / n)
  }
}

object Tracer {
  private final case class Job(id: Int, query: Long, phase: String,
      startMs: Long) { @volatile var endMs: Long = startMs }
}
