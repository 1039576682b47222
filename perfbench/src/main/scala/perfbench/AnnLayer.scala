package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{DetQuantizer, Similarity}
import graft.streaming.Streams

/** The IVF-PQ serve path once, traced, for the `similarity` layer of a run
  * whose own workload does not serve vectors: the layout build over
  * clustered vectors, then two probe batches of held-out queries, each
  * followed by an ingest delta. Each probe is decomposed into the public
  * calls it is made of. */
final class AnnLayer(seed: Long) {
  val BaseVectors = 1500
  val Clusters = 16
  val ProbeQueries = 16
  val IngestVectors = 100
  val Passes = 2
  val K = 10
  val QueryIdBase = 10000000L
  val ProbeKind = "ann.probe"
  val WriteKind = "ann.write"
  private val base = s"${sys.props("perfbench.work")}/ann"
  private val layout = s"$base/layout"

  private def vectorsDf(spark: SparkSession, from: Long, n: Int): DataFrame = {
    import spark.implicits._
    (from until from + n).map(i => (i, Vectors.vector(seed, i, Clusters).toSeq))
      .toDF("vec_id", "embedding")
  }
  private def queriesDf(spark: SparkSession, p: Int): DataFrame = {
    import spark.implicits._
    (0 until ProbeQueries).map { j =>
      val id = QueryIdBase + p.toLong * ProbeQueries + j
      (id, Vectors.vector(seed, id, Clusters).toSeq)
    }.toDF("q_id", "q_emb")
  }

  def apply(spark: SparkSession, ctx: RunCtx): Unit = {
    val corpus = vectorsDf(spark, 0L, BaseVectors)
    val t0 = System.nanoTime()
    Similarity.writeIvfPqLayout(corpus, layout)
    val buildS = (System.nanoTime() - t0) / 1e9
    corpus.write.parquet(s"$base/vectors/batch=-1")
    for (p <- 0 until Passes) {
      val q = queriesDf(spark, p)
      val rows = ctx.timed(ProbeKind)(Similarity.probeIvfPqLayoutAll(layout, q,
        spark.read.parquet(s"$base/vectors"), K).select("q_id", "vec_id").collect())
      ctx.report.check(rows.length == ProbeQueries * K,
        s"probe $p returned ${rows.length} rows for $ProbeQueries queries")
      decomposeProbe(spark, ctx, q)
      ingest(spark, ctx, p)
    }

    val nProbe = ctx.tracedOps(ProbeKind)
    def perProbe(x: Double) = if (nProbe == 0) 0.0 else x / nProbe
    ctx.layer("similarity.probe_rows", perProbe(ctx.counted("similarity.probe_rows")), "count")
    ctx.layer("similarity.codes_scanned", perProbe(ctx.counted("similarity.codes_scanned")), "count")
    ctx.layer("similarity.shortlist_rows", perProbe(ctx.counted("similarity.shortlist_rows")), "count")
    ctx.layer("similarity.rerank_s", perProbe(ctx.tracer.totalSeconds("similarity.rerank")), "s")
    ctx.layer("similarity.encode_s", ctx.perOp(ctx.tracer.totalSeconds("similarity.encode"), WriteKind), "s")
    ctx.layer("similarity.build_s", buildS, "s")
    val probeJobs = ctx.engine.total(ctx.tracer.subtree(ProbeKind).values.flatten.toSet).jobs
    ctx.layer("similarity.probe_jobs", perProbe(probeJobs.toDouble), "count")
  }

  /** One ingest delta: raw vectors first (the rerank source), then the
    * codes through the streaming sink function; then the encode step on
    * its own, to a no-op sink. */
  private def ingest(spark: SparkSession, ctx: RunCtx, i: Int): Unit = {
    val nv = vectorsDf(spark, BaseVectors + i.toLong * IngestVectors, IngestVectors)
      .localCheckpoint()
    ctx.timed(WriteKind) {
      nv.write.parquet(s"$base/vectors/batch=$i")
      Streams.annIngestSinkBatch(layout)(nv, i.toLong)
    }
    ctx.tracer.span("similarity.encode")(
      Similarity.encodeForIvfPqLayout(nv, layout).write.format("noop").mode("overwrite").save())
  }

  /** Public calls behind one probe, on the same queries: the cell probe,
    * and the exact rerank kernel over the probed cells' vectors. Counts
    * are derived from the same public pieces. */
  private def decomposeProbe(spark: SparkSession, ctx: RunCtx, q: DataFrame): Unit = {
    val codes = Similarity.committedCodes(spark, layout)
    val qn = q.withColumn("q_emb", Vectors.normalize(col("q_emb")))
    val probed = DetQuantizer.probe(qn, "q_emb", "q_id",
      spark.read.parquet(s"$layout/cells"), 2).select("q_id", "cell_id").collect()
    ctx.layerCount("similarity.probe_rows", probed.length.toDouble)
    val perCell = codes.groupBy("cell_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cells = probed.map(_.getInt(1)).distinct
    ctx.layerCount("similarity.codes_scanned", cells.map(perCell.getOrElse(_, 0L)).sum.toDouble)
    ctx.layerCount("similarity.shortlist_rows", probed.groupBy(_.getLong(0)).values
      .map(rs => math.min(8L * K, rs.map(r => perCell.getOrElse(r.getInt(1), 0L)).sum)).sum.toDouble)
    val cand = codes.filter(col("cell_id").isin(cells.toSeq: _*)).select("vec_id")
      .join(spark.read.parquet(s"$base/vectors"), "vec_id")
    ctx.tracer.span("similarity.rerank")(
      Similarity.cosineTopK(q, cand.select("vec_id", "embedding"), K).collect())
  }
}
