package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
    endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Span {
  /** Self time: the span's duration minus the part of it that its children
    * cover (overlapping children are counted once; parts of a child outside
    * the span are ignored). */
  def selfNs(span: Span, children: Seq[Span]): Long = {
    val ivs = children
      .map(c => (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- ivs) {
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    span.durNs - covered
  }
}

/** In-memory span recorder. When enabled, each span also becomes the Spark
  * job group of the calling thread, so the engine listener can attribute
  * every job, stage and task to the span that caused it. Disabled, `span`
  * only runs its body. */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val groupKeys = Seq("spark.jobGroup.id",
    "spark.job.description", "spark.job.interruptOnCancel")

  /** The open operation span: a span opened on a thread with no open span
    * of its own (the stream thread running foreachBatch) is its child. */
  @volatile private var openOperation = 0L

  /** Times `body` as an operation: spans that other threads open while it
    * runs, on its behalf, become its children. */
  def operation[T](name: String)(body: => T): T =
    if (!enabled) body
    else span(name) {
      val outer = openOperation
      openOperation = stack.get().head
      try body finally openOperation = outer
    }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val outer = stack.get()
      val parent = outer.headOption.getOrElse(openOperation)
      val saved = groupKeys.map(k => k -> sc.getLocalProperty(k))
      stack.set(id :: outer)
      sc.setJobGroup(Tracer.group(id), name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        spans.synchronized(spans += Span(id, parent, name, t0, t1))
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Self time of every span named `name`, in seconds, summed. */
  def selfSeconds(name: String): Double = {
    val every = all
    val kids = every.groupBy(_.parent)
    Stats.sum(every.filter(_.name == name)
      .map(s => Span.selfNs(s, kids.getOrElse(s.id, Nil)) / 1e9))
  }

  def totalSeconds(name: String): Double = Stats.sum(named(name).map(_.durNs / 1e9))

  /** Every span id in the subtree rooted at each span named `name`. */
  def subtree(name: String): Map[Long, Set[Long]] = {
    val every = all
    val kids = every.groupBy(_.parent).view.mapValues(_.map(_.id)).toMap
    def walk(id: Long): Set[Long] = kids.getOrElse(id, Nil).flatMap(walk).toSet + id
    every.filter(_.name == name).map(s => s.id -> walk(s.id)).toMap
  }

  def writeTo(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  def group(id: Long): String = s"span-$id"
  def spanOf(group: String): Option[Long] =
    Option(group).filter(_.startsWith("span-")).map(_.stripPrefix("span-").toLong)
}

/** Spark's task metrics, summed per span through the job group. */
final class EngineListener extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
    var runMs = 0L; var gcMs = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
    var spill = 0L
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val stageSpan = mutable.Map.empty[Int, Long]
  val bySpan = mutable.Map.empty[Long, Acc]

  private def acc(span: Long) = bySpan.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    Tracer.spanOf(g).foreach { s =>
      jobSpan(e.jobId) = s
      acc(s).jobs += 1
      e.stageIds.foreach(id => stageSpan(id) = s)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(s => acc(s).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val a = acc(s)
      a.tasks += 1
      if (e.reason != org.apache.spark.Success) a.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
  }

  /** Totals over a set of spans. */
  def total(spans: Set[Long]): Acc = synchronized {
    val t = new Acc
    for (s <- spans; a <- bySpan.get(s)) {
      t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
      t.failedTasks += a.failedTasks; t.runMs += a.runMs; t.gcMs += a.gcMs
      t.shuffleWrite += a.shuffleWrite; t.shuffleRead += a.shuffleRead
      t.spill += a.spill
      a.stageTaskMs.foreach { case (k, v) => t.stageTaskMs(k) = v }
    }
    t
  }
}

/** Micro-batch engine timings, one entry per batch. */
final class ProgressListener extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  val batches = new java.util.concurrent.ConcurrentHashMap[Long, Map[String, Long]]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val d = e.progress.durationMs
    if (e.progress.numInputRows > 0)
      batches.put(e.progress.batchId, Seq("triggerExecution", "addBatch", "walCommit",
        "queryPlanning", "commitOffsets")
        .map(k => k -> Option(d.get(k)).map(_.longValue).getOrElse(0L)).toMap)
  }
}
