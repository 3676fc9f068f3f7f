package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The benchmark's JVM side. It drives the engine only through its public
  * entry point, `SparkEntry.queries(name)(spark, dir)`, followed by a
  * write, in a closed loop: one driver thread, the workload's queries back
  * to back in a fixed order.
  *
  *  1. Set-up: SparkSession creation, then one pass that writes every
  *     query's answer as parquet for the oracle check. That pass also
  *     warms the JVM, so set-up ends where the first timed pass begins.
  *  2. Timed passes until `--seconds` have elapsed, each query written to
  *     the `noop` sink so the whole plan runs without output I/O. A pass
  *     during which the host stole more than [[StealLimit]] of the VM's
  *     CPU time is marked disturbed; if no undisturbed pass has run, one
  *     more pass is run.
  *  3. With `--trace 1`, five passes run, time allowing: one untraced,
  *     then traced, untraced, untraced, traced, so the JVM's warm-up trend
  *     cancels out of the tracing overhead. A traced pass registers a
  *     [[LayerRecorder]] and records spans
  *     pass → query → construct/execute → job → stage.
  *
  * The result (pass times, per-pass layer metrics, failures) is written
  * as JSON to `--result`; `run.py` checks the answers and prints the
  * metrics. */
object Harness {

  /** Share of cpus × pass wall time that the hypervisor may steal before a
    * pass counts as disturbed. Undisturbed passes on a 4-vCPU VM measured
    * up to 4%; bursts of host contention took 14–20% and slowed a pass by
    * 40–60%. */
  val StealLimit = 0.1

  final case class Opts(queries: Seq[String], data: String, out: String,
      seconds: Double, trace: Boolean, cpus: Int, launchMs: Long,
      deadlineMs: Long, localDir: String, result: String, spans: String)

  final case class Span(id: Long, parent: Long, kind: String, name: String,
      startMs: Long, endMs: Long, attrs: Seq[(String, Any)] = Nil)

  private final case class QueryRun(name: String, startMs: Long, midMs: Long,
      endMs: Long, constructS: Double, executeS: Double)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = session(o)
    val sessionS = (System.currentTimeMillis() - o.launchMs) / 1e3
    val fns = o.queries.map(n => n -> SparkEntry.queries.getOrElse(n,
      throw new IllegalArgumentException(s"unknown query $n")))
    val errors = mutable.ArrayBuffer.empty[String]
    val answerFailed = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    // the inputs are generated while the session starts; wait for them
    while (!Files.isDirectory(Paths.get(o.data))) Thread.sleep(10)

    val answerS = fns.map { case (name, fn) =>
      attempted += 1
      val a = System.nanoTime()
      try fn(spark, o.data).coalesce(1).write.mode("overwrite")
        .parquet(s"${o.out}/$name")
      catch { case NonFatal(e) =>
        errors += s"$name (answer pass): $e"
        answerFailed += name
      }
      name -> (System.nanoTime() - a) / 1e9
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => o.queries.contains(k) }
    Files.writeString(Paths.get(o.out, "oracle_sql.json"), Json(oracle))
    val setupS = (System.currentTimeMillis() - o.launchMs) / 1e3

    val spans = mutable.ArrayBuffer.empty[Span]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var lastWallS = 0.0
    var undisturbed = 0
    // a traced run wants five passes, but needs only two (one traced) and
    // must not start a pass it cannot finish before the deadline
    def tracePassWanted = o.trace && (passes.size < 2 || (passes.size < 5 &&
      System.currentTimeMillis() + 1500 * lastWallS < o.deadlineMs))
    def retryWanted = !o.trace && undisturbed == 0 && passes.size < 2
    while (passes.isEmpty || tracePassWanted || retryWanted || elapsed < o.seconds) {
      val traced = o.trace && passes.nonEmpty && Set(0, 3).contains((passes.size - 1) % 4)
      val recorder = if (traced) Some(new LayerRecorder) else None
      recorder.foreach { r =>
        spark.sparkContext.addSparkListener(r)
        spark.listenerManager.register(r)
      }
      val startMs = System.currentTimeMillis()
      val cpu0 = processCpuNs()
      val steal0 = stealJiffies()
      val p0 = System.nanoTime()
      val runs = fns.map { case (name, fn) =>
        attempted += 1
        val qStart = System.currentTimeMillis()
        val a = System.nanoTime()
        var mid = 0L
        var b = 0L
        try {
          val df = fn(spark, o.data)
          mid = System.currentTimeMillis(); b = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
        } catch { case NonFatal(e) =>
          errors += s"$name (pass ${passes.size}): $e"
          if (b == 0L) { mid = System.currentTimeMillis(); b = System.nanoTime() }
        }
        QueryRun(name, qStart, mid, System.currentTimeMillis(),
          (b - a) / 1e9, (System.nanoTime() - b) / 1e9)
      }
      val wallS = (System.nanoTime() - p0) / 1e9
      lastWallS = wallS
      val cpuS = (processCpuNs() - cpu0) / 1e9
      val stealS = (stealJiffies() - steal0) / 100.0
      val disturbed = stealS > StealLimit * o.cpus * wallS
      if (!disturbed) undisturbed += 1
      val endMs = System.currentTimeMillis()
      val layers = recorder.map { r =>
        ListenerBusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(r)
        spark.listenerManager.unregister(r)
        val cachedBytes = spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum
        val w = r.window(startMs, endMs)
        (passLayers(w, runs, startMs, endMs, wallS, cachedBytes, o.cpus, passes.size, spans),
          w.jobs.map(_.site))
      }
      passes += Map("traced" -> traced, "wall_s" -> wallS, "cpu_s" -> cpuS,
        "steal_s" -> stealS, "disturbed" -> disturbed) ++ layers.map { case (l, sites) => Map("layers" -> l, "job_sites" -> sites) }.getOrElse(Map.empty)
    }

    if (o.trace) Files.write(Paths.get(o.spans),
      spans.map(s => Json(spanFields(s))).mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.writeString(Paths.get(o.result), Json(Map(
      "setup_s" -> setupS, "session_s" -> sessionS, "answer_pass" -> ListMap(answerS: _*),
      "cpus" -> o.cpus, "attempted" -> attempted,
      "failed" -> errors.size, "errors" -> errors.toSeq, "answer_failed" -> answerFailed.toSeq,
      "rss_peak_mb" -> rssPeakMb(), "passes" -> passes.toSeq)))
    spark.stop()
  }

  /** Layer metrics of one traced pass, and its spans appended to `spans`. */
  private def passLayers(w: LayerRecorder.Window, runs: Seq[QueryRun],
      startMs: Long, endMs: Long, wallS: Double, cachedBytes: Long, cpus: Int,
      passIndex: Int, spans: mutable.ArrayBuffer[Span]): Map[String, Double] = {
    val base = (passIndex + 1).toLong * 1000000L
    var next = base
    def id(): Long = { next += 1; next }
    val passId = id()
    spans += Span(passId, 0L, "pass", s"pass-$passIndex", startMs, endMs)
    // construct/execute spans in time order, to parent the jobs they started
    val phases = runs.flatMap { q =>
      val qid = id()
      val c = Span(id(), qid, "construct", s"${q.name}.construct", q.startMs, q.midMs)
      val e = Span(id(), qid, "execute", s"${q.name}.execute", q.midMs, q.endMs)
      spans += Span(qid, passId, "query", q.name, q.startMs, q.endMs)
      Seq(c, e)
    }
    def phaseOf(t: Long): Long = phases.findLast(_.startMs <= t).fold(passId)(_.id)
    val stagesByJob = w.stages.groupBy(s => w.stageJob(s.id))
    val jobSpan = mutable.Map.empty[Int, Long]
    w.jobs.foreach { j =>
      val jid = id()
      jobSpan(j.id) = jid
      spans += Span(jid, phaseOf(j.startMs), "job", j.site, j.startMs, j.endMs,
        Seq("job_id" -> j.id, "stages" -> stagesByJob.getOrElse(j.id, Nil).size))
    }
    w.stages.foreach { s =>
      spans += Span(id(), jobSpan(w.stageJob(s.id)), "stage", s"stage-${s.id}",
        s.startMs, s.endMs, Seq("tasks" -> s.tasks, "cpu_s" -> s.cpuNs / 1e9))
    }
    phases.foreach(spans += _)

    val mb = 1e6
    val cpuS = w.stages.map(_.cpuNs).sum / 1e9
    Map(
      "pass_s" -> wallS,
      "SparkEntry.construct_s" -> runs.map(_.constructS).sum,
      "SparkEntry.execute_s" -> runs.map(_.executeS).sum,
      "driver.only_s" -> (wallS - busyMs(w.jobs, startMs, endMs) / 1e3).max(0.0),
      "driver.plan_s" -> w.plans.map(_.durationMs).sum / 1e3,
      "sched.jobs" -> w.jobs.size.toDouble,
      "sched.stages" -> w.stages.size.toDouble,
      "sched.tasks" -> w.stages.map(_.tasks).sum.toDouble,
      "sched.single_task_stage_s" ->
        w.stages.filter(_.numTasks == 1).map(s => s.endMs - s.startMs).sum / 1e3,
      "exec.cpu_s" -> cpuS,
      "exec.run_s" -> w.stages.map(_.runMs).sum / 1e3,
      "exec.gc_s" -> w.stages.map(_.gcMs).sum / 1e3,
      "exec.core_util" -> cpuS / (wallS * cpus),
      "scan.input_mb" -> w.stages.map(_.inputBytes).sum / mb,
      "shuffle.write_mb" -> w.stages.map(_.shuffleWriteBytes).sum / mb,
      "spill.mb" -> w.stages.map(_.spillBytes).sum / mb,
      "storage.cached_mb_after_pass" -> cachedBytes / mb,
      "tasks.failed" -> w.stages.map(_.failedTasks).sum.toDouble,
    ) ++ runs.map(q => s"query.${q.name}_s" -> (q.constructS + q.executeS)) ++
      runs.map(q => s"jobs.${q.name}" ->
        w.jobs.count(j => j.startMs >= q.startMs && j.startMs <= q.endMs).toDouble)
  }

  /** Milliseconds of [fromMs, toMs] during which at least one job ran. */
  private def busyMs(jobs: Seq[LayerRecorder.Job], fromMs: Long, toMs: Long): Long = {
    var busy = 0L
    var curStart = -1L
    var curEnd = -1L
    jobs.map(j => (j.startMs.max(fromMs), j.endMs.min(toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curEnd) {
          busy += curEnd - curStart
          curStart = a; curEnd = b
        } else curEnd = curEnd.max(b)
      }
    busy + (curEnd - curStart)
  }

  private def spanFields(s: Span): Map[String, Any] = Map(
    "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs

  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def stealJiffies(): Long = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().trim.split("\\s+")(8).toLong finally f.close()
  }

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  private def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble * 1024 / 1e6).getOrElse(-1.0)
  }

  /** The session configuration of `graft.Bench`, with Spark's scratch
    * space moved under the benchmark's run directory. */
  private def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.files.minPartitionNum", o.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(kv("queries").split(",").toSeq, kv("data"), kv("out"),
      kv("seconds").toDouble, kv("trace") == "1", kv("cpus").toInt,
      kv("launch-ms").toLong, kv("deadline-ms").toLong, kv("local-dir"),
      kv("result"), kv("spans"))
  }
}

/** Minimal JSON encoder for the result and span files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
