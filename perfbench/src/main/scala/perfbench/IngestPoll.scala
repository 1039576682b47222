package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.EnvelopeSink
import graft.sources.{HttpSnapshotScan, SnapshotTarget}
import graft.streaming.{Streams, Tick}

/** slaveId → the slave's snapshot endpoint on the fake agents' port. */
final case class TargetOf(port: Int) extends (String => SnapshotTarget) {
  def apply(s: String): SnapshotTarget =
    SnapshotTarget(s, Ticks.hostOf(Ticks.slaveIndex(s)), port)
}

/** Client-side fetch counters, shared by every task of this JVM. */
object FetchStats {
  val fetches = new AtomicLong
  val failures = new AtomicLong
  val busyNs = new AtomicLong
  val inflight = new AtomicInteger
  val inflightMax = new AtomicInteger
  val fetchNs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
}

/** The library's own HTTP GET, timed. Traced runs pass it as the scan's
  * fetch function; untraced runs use the library default. */
final case class TimedFetch(count: Boolean) extends (String => String) {
  def apply(url: String): String = {
    val t0 = System.nanoTime()
    if (count) FetchStats.inflightMax.accumulateAndGet(
      FetchStats.inflight.incrementAndGet(), math.max)
    try HttpSnapshotScan.httpGet()(url)
    catch { case e: Exception => if (count) FetchStats.failures.incrementAndGet(); throw e }
    finally if (count) {
      val dt = System.nanoTime() - t0
      FetchStats.inflight.decrementAndGet()
      FetchStats.fetches.incrementAndGet()
      FetchStats.busyNs.addAndGet(dt)
      FetchStats.fetchNs.add(dt)
    }
  }
}

/** The collector's core loop: one micro-batch per reporting round, one tick
  * per slave, each polled over loopback HTTP, enveloped, serialized (JSON on
  * even batch ids, Confluent Avro on odd ones) and committed to the sink. */
final class IngestPoll(seed: Long) extends Workload {
  val NSlaves = 1024
  val WarmupCycles = 6
  /** Cycles the latency statistics are taken over; a 30 s window holds
    * 19–28 on a 4-core VM. */
  val StatCycles = 18
  private val slaves = new FakeSlaves(seed, threads = 4)
  /** TCP connections the traced cycles opened (not their decomposition). */
  private var pipelineOpens = 0L
  private val progress = new ProgressListener
  private var input: MemoryStream[Tick] = _
  private var query: Supervised = _
  private var sinkDir: String = _
  private var tracer: Tracer = _
  private var round = 0L
  private val failedBatches = ConcurrentHashMap.newKeySet[Long]()
  private val measured = scala.collection.mutable.ArrayBuffer.empty[Long]
  /** Measured rounds whose cycle needed a stream restart: failed. */
  private val restarted = scala.collection.mutable.Set.empty[Long]

  private def rootCause(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last.toString

  def transformOf(batchId: Long): String = if (batchId % 2 == 0) "none" else "avro"

  /** The user's foreachBatch function: the library call, with the
    * serializer picked by batch id. A batch that throws is recorded as
    * failed and the stream moves on. */
  private def sinkBatch(df: DataFrame, id: Long): Unit = {
    val traced = tracer != null && tracer.enabled
    val call = Streams.pollEnvelopeSinkBatch(sinkDir, TargetOf(slaves.port),
      transformOf(id), if (traced) TimedFetch(count = true)
        else HttpSnapshotScan.httpGet()) _
    try (if (tracer == null) call(df, id) else tracer.span("streaming.batch")(call(df, id)))
    catch { case NonFatal(e) =>
      if (failedBatches.isEmpty) System.err.println(s"perfbench: batch $id failed: ${rootCause(e)}")
      failedBatches.add(id)
    }
  }

  override def reset(): Unit = if (query != null) query.stop()

  def setup(spark: SparkSession, rep: Int): Unit = {
    import spark.implicits._
    val base = s"${sys.props("perfbench.work")}/ingest$rep"
    sinkDir = s"$base/sink"
    input = MemoryStream[Tick](implicitly[org.apache.spark.sql.Encoder[Tick]], spark)
    val in = input
    query = new Supervised(() => in.toDF().writeStream
      .option("checkpointLocation", s"$base/checkpoint")
      .foreachBatch(sinkBatch _)
      .start())
    round = 0L
    failedBatches.clear()
  }

  private def step(): Unit = {
    slaves.round = round
    input.addData(Ticks.round(seed, NSlaves, round))
    query.drain()
    round += 1
  }

  /** One operation is a reporting cycle of two rounds, one per serializer:
    * their latencies differ (an Avro batch that fails ends early), and a
    * median over a two-mode mix would jump between the modes. */
  private def cycle(ctx: RunCtx): Unit = {
    val first = round
    val r0 = query.restarts
    ctx.timed("op") { step(); step() }
    measured ++= Seq(first, first + 1)
    if (query.restarts > r0) { ctx.dropLast("op"); restarted ++= Seq(first, first + 1) }
  }

  def run(spark: SparkSession, ctx: RunCtx): Unit = {
    tracer = ctx.tracer
    spark.streams.addListener(progress)
    for (_ <- 0 until 2 * WarmupCycles) step()
    slaves.resetCounters()
    Main.phase("warm-up done")
    ctx.startWindow()
    while (ctx.timeLeft) {
      ctx.nextOp()
      if (tracer.enabled) {
        val before = PassiveOpens.read()
        cycle(ctx)
        pipelineOpens += PassiveOpens.read() - before
        for (r <- round - 2 until round) decompose(spark, ctx, r)
      } else cycle(ctx)
    }
    val wall = ctx.windowSeconds
    query.stop()
    // every tick handled, verified or not: at this commit no envelope
    // verifies (the fractional-gauge defect), so a verified-only rate
    // would be 0
    ctx.report.put("throughput_per_s", measured.size * NSlaves / wall, "1/s")
    ctx.recordLatency("op", StatCycles)
  }

  /** The calls pollEnvelopeSinkBatch is made of, timed one by one on the
    * same round (outside the batch's own latency): the HTTP scan over the
    * round's distinct slaves, planned as the pipeline plans it, then each
    * serializer's value column written to a no-op sink, then the keyed
    * parquet write. */
  private def decompose(spark: SparkSession, ctx: RunCtx, r: Long): Unit = {
    import spark.implicits._
    val ticks = Ticks.round(seed, NSlaves, r).toDS().select(col("slaveId"), col("ts"))
    val targets = ticks.select("slaveId").distinct().as[String].map(TargetOf(slaves.port))
    val fetched = ctx.tracer.span("sources.scan") {
      val f = HttpSnapshotScan.scan(targets, TimedFetch(count = false))
        .select("slaveId", "hostname", "port", "body").collect()
      spark.createDataFrame(spark.sparkContext.parallelize(f.toSeq, 4), f.head.schema)
    }
    val env = ticks.join(fetched, "slaveId").select(
      col("slaveId").as("SlaveID"), col("hostname").as("Hostname"),
      col("port").as("Port"), lit("prod").as("Namespace"),
      (unix_micros(col("ts")) * 1000).as("Timestamp"), col("body").as("props"))
      .localCheckpoint()
    for ((name, value) <- Seq("json" -> EnvelopeSink.toJsonValue.cast("binary"),
                              "avro" -> EnvelopeSink.toAvroValue)) {
      val rows = env.select(col("SlaveID").cast("binary").as("key"), value.as("value"))
      // the Avro write fails on the fractional-gauge defect; the span still
      // records its time to failure
      try ctx.tracer.span(s"envelope.serialize_$name")(rows.write.format("noop").mode("overwrite").save())
      catch { case NonFatal(_) => () }
      if (name == "json") {
        val bytes = rows.select(sum(length(col("value")))).head().getLong(0)
        ctx.layerCount("envelope.value_bytes", bytes.toDouble)
        ctx.tracer.span("sink.write")(rows.write.mode("overwrite")
          .parquet(s"${sys.props("perfbench.work")}/decomposed/batch=$r"))
      }
    }
  }

  def check(spark: SparkSession, ctx: RunCtx): Unit = {
    import spark.implicits._
    val port = slaves.port
    val seedL = seed
    val rows = spark.read.parquet(sinkDir)
      .filter(col("batch").isin(measured.toSeq: _*))
    val per = rows.select(col("batch"), col("key"), col("value")).as[(Long, Array[Byte], Array[Byte])]
      .mapPartitions(_.map { case (b, k, v) =>
        val slave = new String(k, "UTF-8")
        (b, slave, EnvelopeCheck.verify(seedL, port, b, slave, v))
      }).toDF("batch", "slave", "ok")
    val byBatch = per.groupBy("batch").agg(count(lit(1)).as("n"),
      sum(col("ok").cast("long")).as("ok"), countDistinct(col("slave")).as("slaves"))
      .as[(Long, Long, Long, Long)].collect().map(t => t._1 -> t).toMap
    var verified = 0L
    var delivered = 0L
    for (b <- measured) byBatch.get(b) match {
      case Some((_, n, ok, distinct)) =>
        ctx.report.check(n == distinct && n <= NSlaves,
          s"batch $b committed $n rows for $distinct slaves")
        if (!restarted.contains(b)) verified += ok
        delivered += n
      case None =>
        ctx.report.check(failedBatches.contains(b), s"batch $b committed nothing and did not fail")
    }
    val attempted = measured.size.toLong * NSlaves
    ctx.report.attempted = attempted
    ctx.report.failed = attempted - verified
    ctx.report.put("recall", delivered.toDouble / attempted, "share")
    ctx.report.notes("verified_envelopes") = s"$verified of $attempted"
    ctx.report.notes("stream_restarts") = query.restarts.toString
    ctx.report.notes("restarted_rounds") = restarted.size.toString
    ctx.report.notes("failed_batches") = measured.count(failedBatches.contains).toString
    val sinkBytes = measured.map(b => DirBytes(s"$sinkDir/batch=$b")).sum
    ctx.report.put("bytes_per_record", sinkBytes.toDouble / attempted, "B")

    // per-layer: sources, streaming, envelope, sink; decomposed per round
    def perRound(total: Double) = ctx.perOp(total) / 2
    val fetchMs = FetchStats.fetchNs.asScala.map(_ / 1e6).toSeq
    val serviceMs = slaves.serviceNs.asScala.map(_ / 1e6).toSeq
    ctx.layer("sources.fetches", perRound(FetchStats.fetches.get.toDouble), "count")
    ctx.layer("sources.fetch_failures", perRound(FetchStats.failures.get.toDouble), "count")
    ctx.layer("sources.fetch_p50_ms", if (fetchMs.isEmpty) 0 else Stats.median(fetchMs), "ms")
    ctx.layer("sources.fetch_busy_s", perRound(FetchStats.busyNs.get / 1e9), "s")
    ctx.layer("sources.inflight_max", FetchStats.inflightMax.get.toDouble, "count")
    ctx.layer("sources.connections_opened", perRound(pipelineOpens.toDouble), "count")
    ctx.layer("sources.server_service_ms", if (serviceMs.isEmpty) 0 else Stats.median(serviceMs), "ms")
    ctx.layer("sources.server_inflight_max", slaves.inflightMax.get.toDouble, "count")
    ctx.layer("sources.scan_s", perRound(ctx.tracer.totalSeconds("sources.scan")), "s")
    if (ctx.opts.trace && fetchMs.nonEmpty)
      ctx.report.check(Stats.median(serviceMs) < 0.5 * Stats.median(fetchMs),
        f"fake slaves took ${Stats.median(serviceMs)}%.3f ms of a ${Stats.median(fetchMs)}%.3f ms fetch")
    StreamingLayer(ctx, progress, measured.toSeq, opsPerBatch = 0.5)
    ctx.layer("envelope.serialize_json_s", perRound(ctx.tracer.totalSeconds("envelope.serialize_json")), "s")
    ctx.layer("envelope.serialize_avro_s", perRound(ctx.tracer.totalSeconds("envelope.serialize_avro")), "s")
    ctx.layer("sink.write_s", perRound(ctx.tracer.totalSeconds("sink.write")), "s")
    ctx.layer("sink.files", measured.map(b => DirBytes.files(s"$sinkDir/batch=$b")).sum.toDouble / measured.size, "count")
    ctx.layer("sink.bytes", sinkBytes.toDouble / measured.size, "B")
    ctx.layer("envelope.value_bytes", perRound(ctx.counted("envelope.value_bytes")), "B")
    ctx.engineMetrics(Seq("streaming.batch"))
  }

  override def close(): Unit = {
    if (query != null) query.stop()
    slaves.close()
  }
}

/** Independent decoder for one committed envelope value: JSON, or a
  * Confluent frame (magic 0, 4-byte schema id) around an Avro record. */
object EnvelopeCheck {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .enable(com.fasterxml.jackson.databind.DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
  private val schema = new org.apache.avro.Schema.Parser().parse(
    """{"type":"record","name":"SlaveMetrics","namespace":"graft.avro","fields":[
      |{"name":"SlaveID","type":"string"},{"name":"Hostname","type":"string"},
      |{"name":"Port","type":"int"},{"name":"Namespace","type":"string"},
      |{"name":"Timestamp","type":"long"},{"name":"Metrics","type":"bytes"}]}""".stripMargin)

  def verify(seed: Long, port: Int, batch: Long, slave: String, v: Array[Byte]): Boolean = try {
    val (id, host, p, ns, ts, metrics) =
      if (batch % 2 == 0) {
        val n = mapper.readTree(v)
        (n.get("SlaveID").asText, n.get("Hostname").asText, n.get("Port").asInt,
          n.get("Namespace").asText, n.get("Timestamp").asLong, n.get("Metrics"))
      } else {
        require(v(0) == 0, "missing Confluent magic byte")
        val dec = org.apache.avro.io.DecoderFactory.get().binaryDecoder(v, 5, v.length - 5, null)
        val r = new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord](schema)
          .read(null, dec)
        val mb = r.get("Metrics").asInstanceOf[java.nio.ByteBuffer]
        val bytes = new Array[Byte](mb.remaining()); mb.get(bytes)
        (r.get("SlaveID").toString, r.get("Hostname").toString,
          r.get("Port").asInstanceOf[Int], r.get("Namespace").toString,
          r.get("Timestamp").asInstanceOf[Long], mapper.readTree(bytes))
      }
    val i = Ticks.slaveIndex(slave)
    val r = (ts / 1000000L - Ticks.epochMs) / 1000L
    val expected = Snapshots.values(seed, i, r)
    id == slave && host == Ticks.hostOf(i) && p == port && ns == "prod" &&
      ts == (Ticks.epochMs + r * 1000L) * 1000000L && metrics != null &&
      metrics.isObject && metrics.size == expected.size &&
      expected.forall { case (k, want) =>
        val got = metrics.get(k)
        got != null && got.isNumber && got.decimalValue.compareTo(new java.math.BigDecimal(want)) == 0
      }
  } catch { case NonFatal(_) => false }
}

object DirBytes {
  private def walk(dir: String): Seq[java.io.File] = {
    val f = new java.io.File(dir)
    if (!f.exists) Nil
    else if (f.isFile) Seq(f)
    else Option(f.listFiles).toSeq.flatten.flatMap(c => walk(c.getPath))
  }
  private def data(dir: String) =
    walk(dir).filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
  def apply(dir: String): Long = data(dir).map(_.length).sum
  def files(dir: String): Int = data(dir).size
}

/** Micro-batch engine metrics of the measured batches, from the query's
  * progress events: the end-to-end `maintenance_s` of a stream without a
  * store of its own (the offset WAL and commit log written per batch), and
  * the `streaming.*` layer. */
object StreamingLayer {
  def apply(ctx: RunCtx, progress: ProgressListener, measured: Seq[Long],
      opsPerBatch: Double, maintenance: Boolean = true): Unit = {
    val prog = measured.flatMap(b => Option(progress.batches.get(b)))
    ctx.report.check(prog.size == measured.size, s"progress for ${prog.size} of ${measured.size} batches")
    // the operation span's self time: the engine's work outside foreachBatch
    ctx.layer("streaming.outside_batch_s",
      if (ctx.tracedOps("op") == 0) 0.0 else ctx.tracer.selfSeconds("op") / ctx.tracedOps("op") * opsPerBatch, "s")
    def pm(f: Map[String, Long] => Long) = if (prog.isEmpty) 0.0 else Stats.median(prog.map(f(_).toDouble))
    if (maintenance)
      ctx.report.put("maintenance_s", pm(p => p("walCommit") + p("commitOffsets")) / 1000.0, "s")
    ctx.layer("streaming.trigger_ms", pm(_("triggerExecution")), "ms")
    ctx.layer("streaming.add_batch_ms", pm(_("addBatch")), "ms")
    ctx.layer("streaming.wal_commit_ms", pm(p => p("walCommit") + p("commitOffsets")), "ms")
    ctx.layer("streaming.planning_ms", pm(_("queryPlanning")), "ms")
    ctx.layer("streaming.overhead_ms", pm(p => p("triggerExecution") - p("addBatch")), "ms")
  }
}
