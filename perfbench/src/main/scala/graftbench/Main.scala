package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}

/** The benchmark's JVM side: one workload in one JVM.
  *
  * Set-up (session start, and a check pass that dumps every query's result
  * for the DuckDB comparison and is the warm-up) is followed by a timed
  * window. A pass is every query of the roster once, in an order drawn from
  * the seed, the client and the pass; each of `--clients` closed-loop clients
  * runs `--passes` passes of its own on its own session, sending its next
  * query when its previous one has finished.
  * One timed query is the entry-point call `SparkEntry.queries(name)(spark,
  * dir)` followed by pushing every row of the query's own executed plan into
  * a counting sink; `.count()` is never used, because the optimizer prunes
  * the plan under a count.
  *
  * Writes `record.json` (samples, set-up time, memory, errors) and, with
  * `--trace 1`, `spans.json` plus the per-layer counters, into `--out`.
  */
object Main {
  private val cores = 4

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val out = a("out")
    val dir = a("data")
    val roster = a("queries").split(',').toSeq
    Files.createDirectories(Paths.get(out))
    val spark = session(out)
    val code =
      try {
        if (a.get("selftest").contains("1")) SelfTest.run(spark, dir, roster, out)
        else {
          run(spark, a("workload"), dir, roster, out, a("clients").toInt,
            a("passes").toInt, a("seed").toLong, a("trace") == "1")
          0
        }
      } finally spark.stop()
    sys.exit(code)
  }

  def session(out: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The benched queries, plus two deliberately failing ones that only the
    * benchmark's own tests ask for. */
  def build(spark: SparkSession, name: String, dir: String): DataFrame =
    name match {
      case "inject_throw" =>
        spark.range(1).selectExpr("raise_error('injected failure') AS x")
      case "inject_wrong" =>
        SparkEntry.queries("q1_agg")(spark, dir).filter("l_returnflag <> 'A'")
      case n => SparkEntry.queries(n)(spark, dir)
    }

  /** Nanosecond stamps of one timed query's phases. */
  final case class Timing(start: Long, built: Long, optimized: Long,
      planned: Long, done: Long, rows: Long, plan: SparkPlan)

  /** The timed action. `phase` is told which layer is about to run, so the
    * traced run can attribute the Spark jobs it starts. */
  def timed(spark: SparkSession, name: String, dir: String,
      phase: String => Unit): Timing = {
    val t0 = System.nanoTime()
    phase("build")
    val df = build(spark, name, dir)
    val t1 = System.nanoTime()
    phase("optimize")
    val qe = df.queryExecution
    qe.optimizedPlan
    val t2 = System.nanoTime()
    phase("plan")
    val plan = qe.executedPlan
    val t3 = System.nanoTime()
    phase("exec")
    val rows = SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      qe.toRdd.mapPartitions { it =>
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        Iterator.single(n)
      }.fold(0L)(_ + _)
    }
    Timing(t0, t1, t2, t3, System.nanoTime(), rows, plan)
  }

  def stackTrace(e: Throwable): String = {
    val sw = new java.io.StringWriter()
    e.printStackTrace(new java.io.PrintWriter(sw))
    sw.toString
  }

  final case class Sample(client: Int, pass: Int, query: String, id: Long,
      t: Option[Timing], error: Option[String])

  private def run(spark: SparkSession, workload: String, dir: String,
      roster: Seq[String], out: String, clients: Int, passes: Int,
      seed: Long, trace: Boolean): Unit = {
    val sc = spark.sparkContext
    val sessions = (0 until clients).map(c =>
      if (clients == 1) spark else spark.newSession())
    def order(client: Int, pass: Int) =
      new Random((seed * 1000003L + client) * 1000003L + pass).shuffle(roster)

    // Check pass, also the warm-up: each query's result is dumped for the
    // DuckDB comparison. It runs on `cores` sessions at once, because it is
    // untimed and one client leaves most cores idle.
    val checkErrors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val todo = new ConcurrentLinkedQueue[String](roster.asJava)
    val checkSecs = onClients((1 to cores).map(_ => spark.newSession()),
        _ => Iterator.continually(todo.poll()).takeWhile(_ != null)) {
      (s, _, q) =>
        try build(s, q, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/checks/$q")
        catch { case e: Throwable => checkErrors.put(q, stackTrace(e)) }
    }
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach(sc.addSparkListener)
    val samples = new ConcurrentLinkedQueue[Sample]()
    val ids = new java.util.concurrent.atomic.AtomicLong()
    val gc0 = gcMillis()
    val cpu0 = processCpuNanos()
    val start = System.nanoTime()
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    onClients(sessions,
        c => (1 to passes).iterator.flatMap(p => order(c, p).map(p -> _))) {
      (s, c, pq) =>
        val (pass, q) = pq
        val id = ids.incrementAndGet()
        samples.add(
          try Sample(c, pass, q, id, Some(timed(s, q, dir, ph =>
            sc.setJobGroup(s"$id/$ph", q, interruptOnCancel = false))), None)
          catch { case e: Throwable =>
            Sample(c, pass, q, id, None, Some(stackTrace(e))) })
        sc.clearJobGroup()
    }
    val end = System.nanoTime()
    val cpuS = (processCpuNanos() - cpu0) / 1e9
    val gcS = (gcMillis() - gc0) / 1e3
    val all = samples.asScala.toSeq.sortBy(_.id)

    val layers = tracer.map { tr =>
      org.apache.spark.PerfbenchBridge.drainListeners(sc)
      sc.removeSparkListener(tr)
      val spans = tr.querySpans(all, workload, seed) ++ tr.jobSpans
      Files.write(Paths.get(s"$out/spans.json"),
        Json(spans.map(_.toMap)).getBytes(UTF_8))
      tr.layers(all, cores, cpuS, gcS)
    }

    val record = Map(
      "workload" -> workload, "seed" -> seed, "clients" -> clients,
      "setup_s" -> setupS, "check_pass_s" -> checkSecs,
      "window_s" -> (end - start) / 1e9,
      "peak_rss_mb" -> peakRssMb(),
      "check_errors" -> checkErrors.asScala.toMap,
      "oracle_sql" -> roster.flatMap(q =>
        SparkEntry.oracleSql.get(if (q == "inject_wrong") "q1_agg" else q)
          .map(q -> _)).toMap,
      "samples" -> all.map { s => Map(
        "client" -> s.client, "pass" -> s.pass, "query" -> s.query,
        "latency_s" -> s.t.map(t => (t.done - t.start) / 1e9),
        "rows" -> s.t.map(_.rows), "error" -> s.error) },
      "layers" -> layers)
    Files.write(Paths.get(s"$out/record.json"), Json(record).getBytes(UTF_8))
  }

  /** Runs `f(session, client, query)` for every query of `work(client)`, in
    * order, on one closed-loop thread per session: each thread takes its
    * next query when its previous one has finished. Returns the seconds
    * that took. */
  private def onClients[T](sessions: Seq[SparkSession], work: Int => Iterator[T])(
      f: (SparkSession, Int, T) => Unit): Double = {
    val t0 = System.nanoTime()
    val threads = sessions.zipWithIndex.map { case (s, c) =>
      new Thread(() => work(c).foreach(f(s, c, _)), s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  private def processCpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime

  /** High-water resident set size of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}
