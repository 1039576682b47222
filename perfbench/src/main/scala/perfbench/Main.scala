package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.perfbench.ListenerBusDrain

final case class Opts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path, out: Path)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("out")))
  }
}

/** What a run reports: metrics by name, operation counts, and check
  * failures (anything here makes the run incorrect). */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val notes = mutable.LinkedHashMap.empty[String, String]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def check(ok: Boolean, msg: => String): Unit = if (!ok) errors += msg

  def json: String = {
    import Report.str
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val ms = metrics.map { case (k, (v, u)) =>
      s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }.mkString(",")
    val es = errors.map(str).mkString(",")
    val ns = notes.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString(",")
    s"""{"attempted":$attempted,"failed":$failed,"errors":[$es],"notes":{$ns},"metrics":{$ms}}"""
  }
}

object Report {
  /** A JSON string literal. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}

/** A workload: inputs are generated before anything is timed; `setup` is
  * the program set-up a user pays once (repeated for a median); `run`
  * drives the closed loop until the deadline; `check` verifies outputs
  * outside the timed region. */
trait Workload {
  def setup(spark: SparkSession, rep: Int): Unit
  def run(spark: SparkSession, ctx: RunCtx): Unit
  def check(spark: SparkSession, ctx: RunCtx): Unit
  /** Releases what `setup` started, before its session is stopped. */
  def reset(): Unit = ()
  def close(): Unit = ()
}

final class RunCtx(val opts: Opts, val report: Report, val tracer: Tracer,
    val engine: EngineListener) {
  val seed: Long = opts.seed
  private var startNs = 0L
  private var deadlineNs = 0L
  private var endNs = 0L

  def startWindow(): Unit = {
    startNs = System.nanoTime()
    deadlineNs = startNs + opts.seconds * 1000000000L
  }

  def timeLeft: Boolean = {
    val now = System.nanoTime()
    if (now >= deadlineNs && endNs == 0L) endNs = now
    now < deadlineNs
  }

  /** Called before each operation of the workload's main loop. A traced
    * run traces every other operation, so it can report the tracing
    * overhead against untraced operations interleaved with them. */
  def nextOp(): Unit = if (opts.trace) tracer.enabled = !tracer.enabled

  def windowSeconds: Double = ((if (endNs == 0L) System.nanoTime() else endNs) - startNs) / 1e9

  /** Closed-loop latency samples per operation kind: (seconds, traced). */
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Boolean)]]
  def timed[T](kind: String)(body: => T): T = {
    val traced = tracer.enabled
    val t0 = System.nanoTime()
    val r = tracer.operation(kind)(body)
    val dt = (System.nanoTime() - t0) / 1e9
    samples.synchronized(samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ((dt, traced)))
    r
  }
  def lat(kind: String): Seq[Double] = samples.synchronized(samples.get(kind).toSeq.flatten.map(_._1))
  def tracedOps(kind: String): Int = samples.synchronized(samples.get(kind).toSeq.flatten.count(_._2))

  /** Drops the latest sample of `kind`: its operation failed. */
  def dropLast(kind: String): Unit =
    samples.synchronized(samples.get(kind).foreach(b => b.remove(b.length - 1)))

  /** `latency_p50_s` and `latency_tail_s` over the first `firstN` samples
    * of one operation kind. A fixed count, not every sample the window
    * happened to hold, keeps the tail at the same percentile rank for a
    * faster and a slower build; a run that falls short uses what it has.
    * A traced run also reports the traced/untraced latency ratio. */
  def recordLatency(kind: String, firstN: Int): Unit = {
    val all = lat(kind)
    val xs = all.take(firstN)
    report.check(xs.nonEmpty, s"no '$kind' operation succeeded in the window")
    report.notes(s"${kind}_samples_s") = all.map(x => f"$x%.2f").mkString(" ")
    if (xs.nonEmpty) {
      report.put("latency_p50_s", Stats.median(xs), "s")
      val (v, pct) = Stats.tail(xs)
      report.put("latency_tail_s", v, "s")
      report.notes("latency_tail_percentile") = f"${pct * 100}%.1f (first ${xs.length} of ${all.length})"
    }
    if (opts.trace && kind == "op") {
      val (on, off) = samples(kind).partition(_._2)
      if (on.nonEmpty && off.nonEmpty)
        layer("trace.overhead_share", Stats.median(on.map(_._1).toSeq) / Stats.median(off.map(_._1).toSeq) - 1, "share")
    }
  }

  def layer(name: String, value: Double, unit: String): Unit = report.put(name, value, unit)
  private val counts = mutable.Map.empty[String, Double]
  def layerCount(name: String, delta: Double): Unit =
    counts.synchronized(counts(name) = counts.getOrElse(name, 0.0) + delta)
  def counted(name: String): Double = counts.synchronized(counts.getOrElse(name, 0.0))
  /** A traced total per traced operation. */
  def perOp(total: Double, kind: String = "op"): Double =
    if (tracedOps(kind) == 0) 0.0 else total / tracedOps(kind)

  /** Engine metrics of the spans named `roots` and everything below them,
    * per root span. */
  def engineMetrics(roots: Seq[String]): Unit = {
    val trees = roots.flatMap(r => tracer.subtree(r).toSeq)
    val n = math.max(1, trees.size)
    val t = engine.total(trees.flatMap(_._2).toSet)
    val wall = Stats.sum(trees.map { case (id, _) => tracer.all.find(_.id == id).map(_.durNs / 1e9).getOrElse(0.0) })
    layer("engine.jobs", t.jobs.toDouble / n, "count")
    layer("engine.stages", t.stages.toDouble / n, "count")
    layer("engine.tasks", t.tasks.toDouble / n, "count")
    layer("engine.task_busy_s", t.runMs / 1000.0 / n, "s")
    layer("engine.busy_share", if (wall > 0) t.runMs / 1000.0 / (4 * wall) else 0.0, "share")
    layer("engine.shuffle_write_bytes", t.shuffleWrite.toDouble / n, "B")
    layer("engine.shuffle_read_bytes", t.shuffleRead.toDouble / n, "B")
    layer("engine.spill_bytes", t.spill.toDouble / n, "B")
    layer("engine.gc_s", t.gcMs / 1000.0 / n, "s")
    val skews = t.stageTaskMs.values.filter(_.size >= 2).map { ms =>
      val med = Stats.median(ms.map(_.toDouble).toSeq)
      ms.max / math.max(med, 1.0)
    }
    layer("engine.task_skew_max", if (skews.isEmpty) 1.0 else skews.max, "ratio")
    layer("engine.failed_tasks", t.failedTasks.toDouble, "count")
  }
}

/** A streaming query under a supervisor, the way a collector is deployed:
  * `drain` runs all pending input; if the query has died, it is restarted
  * from its checkpoint and drained again. (Spark has been seen to fail a
  * fresh query's first batch with CONCURRENT_STREAM_LOG_UPDATE.) Workloads
  * count an operation that needed a restart as failed. */
final class Supervised(start: () => org.apache.spark.sql.streaming.StreamingQuery) {
  private var query = start()
  var restarts = 0

  def drain(): Unit =
    try query.processAllAvailable()
    catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException if restarts < 3 =>
        restarts += 1
        System.err.println(s"perfbench: stream restarted from its checkpoint after: ${e.getMessage.linesIterator.next()}")
        query.stop()
        query = start()
        query.processAllAvailable()
    }

  def stop(): Unit = query.stop()
}

object Main {
  val SetupReps = 3

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.streaming.ui.enabled", "false")
      // cap the status history a long-running job keeps, so the live heap
      // at the end of a run does not depend on how many operations it ran
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.streaming.numRecentProgressUpdates", "20")
      .config("spark.local.dir", s"${sys.props("perfbench.work")}/spark-local")
      .getOrCreate()
    // task failures are counted by the workloads; their stack traces are noise
    spark.sparkContext.setLogLevel("FATAL")
    spark
  }

  private val t00 = System.nanoTime()
  /** Phase timings go to stderr, for whoever tunes the run length. */
  def phase(name: String): Unit =
    System.err.println(f"perfbench: $name at ${(System.nanoTime() - t00) / 1e9}%.1f s")

  /** Heap in use after full collections. Spark releases shuffle and
    * broadcast blocks from its cleaner thread once a collection has found
    * them unreachable, so collect, let the cleaner run, and keep the
    * lowest reading. */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      System.gc()
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }.min
  }

  /** Exits explicitly, so no lingering thread keeps a finished run alive. */
  def main(args: Array[String]): Unit =
    try { run(Opts.parse(args)); System.exit(0) }
    catch { case e: Throwable => e.printStackTrace(); System.exit(1) }

  private def run(opts: Opts): Unit = {
    Files.createDirectories(opts.work)
    System.setProperty("perfbench.work", opts.work.toString)
    val report = new Report
    val workload: Workload = opts.workload match {
      case "ingest_poll" => new IngestPoll(opts.seed)
      case "dedup_stream" => new DedupStream(opts.seed)
      case other => sys.error(s"unknown workload $other")
    }
    try {
      // set-up: session + initial build, repeated; the last one is kept
      var spark: SparkSession = null
      val setups = (0 until SetupReps).map { rep =>
        if (spark != null) { workload.reset(); spark.stop() }
        val t0 = System.nanoTime()
        spark = session()
        workload.setup(spark, rep)
        (System.nanoTime() - t0) / 1e9
      }
      report.put("setup_s", Stats.median(setups), "s")
      report.notes("setup_reps_s") = setups.map(x => f"$x%.3f").mkString(" ")
      phase("setup done")
      val engine = new EngineListener
      spark.sparkContext.addSparkListener(engine)
      val tracer = new Tracer(spark.sparkContext)
      val ctx = new RunCtx(opts, report, tracer, engine)
      workload.run(spark, ctx)
      phase("run done")
      ListenerBusDrain(spark.sparkContext)
      workload.check(spark, ctx)
      phase("check done")
      if (opts.trace) tracer.writeTo(opts.work.resolve("spans.jsonl"))
      report.put("heap_live_mb", liveHeapMb(), "MB")
      spark.stop()
    } finally workload.close()
    Files.write(opts.out, report.json.getBytes("UTF-8"))
  }
}
