package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, DeltaStore}
import graft.SparkEntry
import graft.streaming.{DocIngest, Streams}

/** Continuous near-dedup ingest: each micro-batch of documents is checked
  * against the growing at-rest signature store and then appended to it;
  * the store is compacted every `CompactEvery` batches, between batches. */
final class DedupStream(seed: Long) extends Workload {
  val BatchDocs = 125
  val InitialBatches = 1 // the store a run starts from, loaded in set-up
  val WarmupBatches = 2
  val CompactEvery = 5
  val MaxDistance = 0.3
  /** Batches the latency statistics are taken over; a 30 s window holds
    * 16–19 on a 4-core VM. */
  val StatBatches = 15
  private val docs = Docs.stream(seed, 400, BatchDocs)
  private var input: MemoryStream[DocIngest] = _
  private var query: Supervised = _
  private var base: String = _
  private var tracer: Tracer = _
  private val progress = new ProgressListener
  private var next = 0
  private val measured = mutable.ArrayBuffer.empty[Int]
  /** Measured batches that needed a stream restart: failed. */
  private val restarted = mutable.Set.empty[Int]

  private def add(b: Int): Unit = {
    val ts = new java.sql.Timestamp(Ticks.epochMs + b * 1000L)
    input.addData(docs(b).docs.map { case (id, t) => DocIngest(id, ts, t) })
  }

  private def sinkBatch(df: DataFrame, id: Long): Unit = {
    val call = Streams.nearDedupSinkBatch(s"$base/store", s"$base/out", MaxDistance) _
    if (tracer == null) call(df, id) else tracer.span("streaming.batch")(call(df, id))
  }

  override def reset(): Unit = if (query != null) query.stop()

  def setup(spark: SparkSession, rep: Int): Unit = {
    import spark.implicits._
    base = s"${sys.props("perfbench.work")}/dedup$rep"
    input = MemoryStream[DocIngest](implicitly[org.apache.spark.sql.Encoder[DocIngest]], spark)
    val in = input
    query = new Supervised(() => in.toDF().writeStream
      .option("checkpointLocation", s"$base/checkpoint")
      .foreachBatch(sinkBatch _)
      .start())
    for (b <- 0 until InitialBatches) { add(b); query.drain() }
    next = InitialBatches
  }

  private def liveStoreBytes(spark: SparkSession): Long = {
    val store = s"$base/store"
    val snap = DeltaStore.current(spark, store)
    val folded = if (snap.gen > 0L) DirBytes(DeltaStore.baseDir(s"$store/folded", snap)) else 0L
    folded + DeltaStore.committedDeltaIds(spark, store, snap.foldedBelow)
      .map(i => DirBytes(s"$store/delta=$i")).sum
  }

  private def compact(spark: SparkSession, ctx: RunCtx): Unit = {
    ctx.timed("maintenance")(ctx.tracer.span("deltastore.compaction")(
      Dedup.compactSignatureStore(spark, s"$base/store", next.toLong - 1)))
    if (ctx.tracer.enabled) ctx.layerCount("deltastore.bytes_rewritten", DirBytes(
      DeltaStore.baseDir(s"$base/store/folded", DeltaStore.current(spark, s"$base/store"))).toDouble)
  }

  def run(spark: SparkSession, ctx: RunCtx): Unit = {
    tracer = ctx.tracer
    spark.streams.addListener(progress)
    for (_ <- 0 until WarmupBatches) { add(next); query.drain(); next += 1 }
    Main.phase("warm-up done")
    ctx.startWindow()
    while (ctx.timeLeft) {
      ctx.nextOp()
      add(next)
      val r0 = query.restarts
      ctx.timed("op")(query.drain())
      measured += next
      if (query.restarts > r0) { ctx.dropLast("op"); restarted += next }
      next += 1
      if (next % CompactEvery == 0 && ctx.timeLeft) compact(spark, ctx)
      if (ctx.opts.trace && tracer.enabled) decompose(spark, ctx, next - 1)
    }
    val wall = ctx.windowSeconds
    query.stop()
    ctx.report.put("throughput_per_s", measured.size * BatchDocs / wall, "1/s")
    ctx.recordLatency("op", StatBatches)
    // a compaction rewrites the whole store, so it costs more as a run goes
    // on; the first two of the window sit at the same store size in every
    // run, whatever the number of batches the run reached
    val m = ctx.lat("maintenance")
    ctx.report.notes("maintenance_samples_s") = m.map(x => f"$x%.2f").mkString(" ")
    if (!ctx.opts.trace)
      ctx.report.check(m.size >= 2, s"${m.size} compactions ran in the measured window; 2 are needed")
    if (m.nonEmpty) ctx.report.put("maintenance_s", Stats.median(m.take(2)), "s")
  }

  /** The operator calls nearDedupSinkBatch is made of, timed one by one on
    * the batch just committed: the store snapshot resolve, signing, the
    * band-join probe and the signature delta write (to a side directory). */
  private def decompose(spark: SparkSession, ctx: RunCtx, b: Int): Unit = {
    import spark.implicits._
    val batch = docs(b).docs.toDF("doc_id", "text")
    val store = ctx.tracer.span("deltastore.resolve")(
      DeltaStore.snapshotPureDelta(spark, s"$base/store", uptoExclusive = b.toLong)
        .map(_.select("doc", "shingles", "bk")).get.localCheckpoint())
    val sigs = ctx.tracer.span("dedup.sign")(
      Dedup.signatureStore(batch, "text", "doc_id").localCheckpoint())
    val decided = ctx.tracer.span("dedup.probe")(
      Dedup.incrementalNearAgainst(batch, store, "text", "doc_id", MaxDistance)
        .localCheckpoint())
    ctx.tracer.span("dedup.delta_write")(
      sigs.write.mode("overwrite").parquet(s"$base/decomposed/delta=$b"))
    val bBands = sigs.select(col("doc").as("b_doc"), col("bk"))
    val cands = bBands.join(store.select(col("doc").as("s_doc"), col("bk")), "bk")
      .select("b_doc", "s_doc").distinct().count()
    ctx.layerCount("dedup.candidates", cands.toDouble)
    ctx.layerCount("dedup.verified", decided.filter(!col("is_novel")).count().toDouble)
    val snap = DeltaStore.current(spark, s"$base/store")
    ctx.layerCount("deltastore.deltas_read",
      DeltaStore.committedDeltaIds(spark, s"$base/store", snap.foldedBelow).count(_ < b).toDouble)
  }

  def check(spark: SparkSession, ctx: RunCtx): Unit = {
    import spark.implicits._
    val out = spark.read.parquet(s"$base/out").filter(col("batch").isin(measured.toSeq: _*))
      .select("batch", "doc_id", "near_store_id", "dist", "is_novel")
      .as[(Long, Long, Option[Long], Option[Double], Boolean)].collect()
    val text = docs.flatMap(_.docs).toMap
    val byBatch = out.groupBy(_._1)
    var planted = 0L
    var found = 0L
    for (b <- measured) {
      val rows = byBatch.getOrElse(b.toLong, Array.empty)
      val want = docs(b).docs.map(_._1).toSet
      ctx.report.check(rows.map(_._2).toSet == want && rows.length == want.size,
        s"batch $b decided ${rows.length} rows for ${want.size} docs")
      for ((_, id, near, dist, novel) <- rows) {
        ctx.report.check(novel == near.isEmpty, s"doc $id: is_novel disagrees with near_store_id")
        near.foreach { s =>
          ctx.report.check(s < b.toLong * BatchDocs, s"doc $id matched $s, not in an earlier batch")
          val d = JaccardCheck.distance(text(id), text(s))
          ctx.report.check(math.abs(d - dist.get) < 1e-6 && d <= MaxDistance,
            f"doc $id ~ $s: reported distance ${dist.get}, recomputed $d%.6f")
        }
      }
      val p = docs(b).planted.keySet
      planted += p.size
      found += rows.count(r => p.contains(r._2) && !r._5)
    }
    ctx.report.notes("stream_restarts") = query.restarts.toString
    ctx.report.attempted = measured.size.toLong * BatchDocs
    ctx.report.failed = restarted.size.toLong * BatchDocs
    ctx.report.put("recall", found.toDouble / math.max(1L, planted), "share")
    ctx.report.notes("planted") = s"$found of $planted planted near-duplicates found"
    // the live snapshot only: superseded generations wait on disk for the
    // next compaction's clean-up, and would make the figure depend on phase
    val stored = (InitialBatches + WarmupBatches + measured.size) * BatchDocs
    ctx.report.put("bytes_per_record", liveStoreBytes(spark).toDouble / stored, "B")

    ctx.layer("dedup.sign_s", ctx.perOp(ctx.tracer.totalSeconds("dedup.sign")), "s")
    ctx.layer("dedup.probe_s", ctx.perOp(ctx.tracer.totalSeconds("dedup.probe")), "s")
    ctx.layer("dedup.candidates", ctx.perOp(ctx.counted("dedup.candidates")), "count")
    ctx.layer("dedup.verified", ctx.perOp(ctx.counted("dedup.verified")), "count")
    ctx.layer("dedup.candidate_precision",
      if (ctx.counted("dedup.candidates") == 0) 0.0
      else ctx.counted("dedup.verified") / ctx.counted("dedup.candidates"), "share")
    ctx.layer("dedup.delta_write_s", ctx.perOp(ctx.tracer.totalSeconds("dedup.delta_write")), "s")
    ctx.layer("deltastore.deltas_read", ctx.perOp(ctx.counted("deltastore.deltas_read")), "count")
    ctx.layer("deltastore.resolve_s", ctx.perOp(ctx.tracer.totalSeconds("deltastore.resolve")), "s")
    StoreLayer(ctx, s"$base/store")
    StreamingLayer(ctx, progress, measured.map(_.toLong).toSeq, opsPerBatch = 1.0,
      maintenance = false)
    ctx.engineMetrics(Seq("streaming.batch"))
    if (ctx.opts.trace) {
      ctx.tracer.enabled = true
      queriesLayer(spark, ctx)
      new AnnLayer(seed)(spark, ctx)
    }
  }

  /** The batch twin of this stream, for the `queries` layer: the nightly
    * curation queries (registered in SparkEntry) run once over the
    * documents this run ingested, in the repo's `documents`/`embeddings`
    * schema, each output written to parquet for the DuckDB check. */
  private def queriesLayer(spark: SparkSession, ctx: RunCtx): Unit = {
    import spark.implicits._
    val dir = ctx.opts.work.resolve("curate").toString
    docs.take(next).flatMap(_.docs).map { case (id, t) =>
      Corpus.Doc(id, t, Corpus.langOf(seed, id), s"src${id % 20}", t.length.toLong)
    }.toDF().coalesce(1).write.parquet(s"$dir/documents.parquet")
    Corpus.embeddings(seed, 2000).toDF().coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    for (q <- DedupStream.CurateQueries) {
      ctx.tracer.span(s"queries.$q")(
        SparkEntry.queries(q)(spark, dir).write.parquet(s"$dir/out/$q"))
      val n = spark.read.parquet(s"$dir/out/$q").count()
      ctx.report.check(n > 0, s"$q wrote no rows")
      ctx.layer(s"queries.${q}_s", ctx.tracer.totalSeconds(s"queries.$q"), "s")
      ctx.layer(s"queries.${q}_rows_out", n.toDouble, "count")
    }
    val oracle = DedupStream.CurateQueries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))
    java.nio.file.Files.write(ctx.opts.work.resolve("curate/oracle.json"),
      oracle.map { case (q, sql) => s"${Report.str(q)}:${Report.str(sql)}" }
        .mkString("{", ",", "}").getBytes("UTF-8"))
    java.nio.file.Files.write(ctx.opts.work.resolve("curate/queries.txt"),
      DedupStream.CurateQueries.mkString("\n").getBytes("UTF-8"))
  }

  override def close(): Unit = if (query != null) query.stop()
}

object DedupStream {
  val CurateQueries = Seq("q_pipeline_e2e", "q_text_stats", "q_bpe_encode",
    "q_dedup_near", "q_dedup_semantic", "q_textrank")
}

/** Independent 3-shingle Jaccard distance, as the dedup operator defines
  * it: whitespace tokens, distinct space-joined 3-grams. */
object JaccardCheck {
  def shingles(t: String): Set[String] = {
    val ws = t.split(" ")
    if (ws.length < 3) Set.empty else ws.sliding(3).map(_.mkString(" ")).toSet
  }
  def distance(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val d = 1.0 - (x & y).size.toDouble / (x | y).size
    math.round(d * 1e6) / 1e6
  }
}

/** Store-level per-layer metrics of the signature store. */
object StoreLayer {
  def apply(ctx: RunCtx, dir: String): Unit = {
    val comps = ctx.tracer.named("deltastore.compaction")
    ctx.layer("deltastore.bytes_rewritten",
      if (comps.isEmpty) 0.0 else ctx.counted("deltastore.bytes_rewritten") / comps.size, "B")
    ctx.layer("deltastore.compaction_s",
      if (comps.isEmpty) 0.0 else Stats.median(comps.map(_.durNs / 1e9)), "s")
    ctx.layer("deltastore.store_bytes", DirBytes(dir).toDouble, "B")
    ctx.layer("deltastore.files_listed", DirBytes.files(dir).toDouble, "count")
  }
}
