package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.LongType
import graft.operators.{Decontaminate, Dedup, DeltaStore}
import graft.streaming.Streams

/** A local file system under the `vanish:` scheme whose `listStatus` runs
  * [[VanishingLocalFs.afterList]] once the listing is taken: a spec can
  * delete directories exactly between a reader's listing and its
  * inspection of what it listed, with no sleeps. */
class VanishingLocalFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("vanish:///")
  override def listStatus(p: Path): Array[FileStatus] = {
    val listed = super.listStatus(p)
    VanishingLocalFs.afterList(p)
    listed
  }
}

object VanishingLocalFs {
  @volatile var afterList: Path => Unit = _ => ()
}

/** The pure-delta store read path: the one-scan snapshot read against the
  * per-delta union it replaced, the listing's tolerance of a concurrent
  * GC, and the S15 sink's per-batch cost and replay contract. */
class DeltaStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def docs(from: Int, n: Int): DataFrame =
    Tables.documents(spark, sf).select("doc_id", "text")
      .filter(col("doc_id") >= from && col("doc_id") < from + n)

  /** The snapshot read as it was before the one-scan read: one parquet
    * read per live delta, each stamped with its id, unioned with the
    * folded base. */
  private def perDeltaUnion(root: String, upto: Long): Option[DataFrame] = {
    val snap = DeltaStore.current(spark, root)
    val baseP = DeltaStore.baseDir(s"$root/folded", snap)
    val base =
      if (snap.gen > 0L && new java.io.File(baseP).isDirectory)
        Some(spark.read.parquet(baseP).filter(col("delta") < lit(upto)))
      else None
    val deltas = DeltaStore.committedDeltaIds(spark, root, snap.foldedBelow)
      .filter(_ < upto)
      .map(i => spark.read.parquet(s"$root/delta=$i")
        .withColumn("delta", lit(i)))
    (base.toSeq ++ deltas).reduceOption(_.unionByName(_))
  }

  /** snapshotPureDelta ≡ the per-delta union at every cut: same columns
    * in the same order, `delta` typed bigint, same rows. */
  private def assertSameSnapshot(root: String, cuts: Seq[Long]): Unit =
    cuts.foreach { upto =>
      val got = DeltaStore.snapshotPureDelta(spark, root, upto)
      val want = perDeltaUnion(root, upto)
      assert(got.isDefined === want.isDefined, s"cut $upto")
      for (g <- got; w <- want) {
        assert(g.columns.toSeq === w.columns.toSeq, s"cut $upto")
        assert(g.schema("delta").dataType === LongType, s"cut $upto")
        assert(rows(g) === rows(w), s"cut $upto")
      }
    }

  test("one-scan snapshot ≡ per-delta union: S15 signatures, folded base + live deltas, every cut") {
    val store = tmp("ds_sig")
    val out = tmp("ds_sig_out")
    val sink = Streams.nearDedupSinkBatch(store, out, 0.5) _
    (0 until 5).foreach(b => sink(docs(b * 20, 20), b.toLong))
    Dedup.compactSignatureStore(spark, store, uptoBatch = 2L)
    assert(DeltaStore.current(spark, store) === DeltaStore.Snapshot(1L, 2L))
    // cuts inside the base, at the fold boundary, among the live deltas,
    // and none at all
    assertSameSnapshot(store, Seq(0L, 1L, 2L, 4L, Long.MaxValue))
  }

  test("one-scan snapshot ≡ per-delta union: S26 contamination ids across a fold") {
    val gate = tmp("ds_gate")
    val all = Tables.documents(spark, sf).select("doc_id", "text")
    val bloom = Streams.buildDecontaminationGate(
      all.filter(col("doc_id") % 25 === 0), "text", 5, gate)
    val sink = Streams.decontaminateSinkBatch(gate, bloom, 5) _
    (0 until 4).foreach(b => sink(docs(b * 50, 50), b.toLong))
    val root = s"$gate/contaminated"
    assert(DeltaStore.snapshotPureDelta(spark, root).get.count() > 0,
      "fixture must flag at least one document")
    Decontaminate.compactContaminatedStore(spark, gate, uptoBatch = 2L)
    assertSameSnapshot(root, Seq(1L, 2L, 3L, Long.MaxValue))
  }

  test("one-scan snapshot ≡ per-delta union: S33 partials, through compactMvView's max(delta) fold") {
    val view = tmp("ds_view")
    val keys = Seq("grp")
    val waves = Seq(
      Seq(("a", 10L), ("a", 20L), ("b", 5L)),
      Seq(("a", 30L), ("c", 7L)),
      Seq(("b", 15L), ("c", 3L)),
      Seq(("a", 1L), ("d", 2L)),
      Seq(("d", 4L)))
    waves.zipWithIndex.foreach { case (w, b) =>
      Streams.mvMergeSinkBatch(view, keys, "v")(w.toDF("grp", "v"), b.toLong)
    }
    def mv(): Seq[String] = rows(Streams.mvViewSnapshot(spark, view, keys))
    val before = mv()
    assertSameSnapshot(view, Seq(2L, Long.MaxValue))
    // first fold merges deltas 0-1 into one row per key, stamped with the
    // max delta id; the second folds that base and deltas 2-3 through the
    // same one-scan read, so its max(delta) runs over bigint ids
    Streams.compactMvView(spark, view, keys, uptoBatch = 2L)
    assertSameSnapshot(view, Seq(1L, 2L, 3L, Long.MaxValue))
    Streams.compactMvView(spark, view, keys, uptoBatch = 4L)
    assert(DeltaStore.current(spark, view) === DeltaStore.Snapshot(2L, 4L))
    val base = spark.read.parquet(s"$view/folded_g2")
    assert(base.schema("delta").dataType === LongType)
    assert(base.select("grp", "delta").as[(String, Long)].collect().toMap ===
      Map("a" -> 3L, "b" -> 2L, "c" -> 2L, "d" -> 3L))
    assertSameSnapshot(view, Seq(3L, 4L, Long.MaxValue))
    assert(mv() === before)
  }

  test("committedDeltaIds: directories deleted between listing and inspection never break a reader") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.vanish.impl", classOf[VanishingLocalFs].getName)
    conf.setBoolean("fs.vanish.impl.disable.cache", true)
    val dir = tmp("ds_vanish")
    (0 to 3).foreach { i =>
      val d = Paths.get(dir, s"delta=$i")
      Files.createDirectories(d)
      Files.write(d.resolve("part-00000.parquet"), Array[Byte](1))
    }
    def rmrf(name: String): Unit = {
      val d = Paths.get(dir, name)
      Files.list(d).forEach(Files.delete(_))
      Files.delete(d)
    }
    // delete the named directories right after the reader lists the root
    def vanishAfterListing(names: String*): Unit = {
      val fired = new AtomicBoolean(false)
      VanishingLocalFs.afterList = p =>
        if (p.toUri.getPath.stripSuffix("/") == dir &&
            fired.compareAndSet(false, true)) names.foreach(rmrf)
    }
    val root = s"vanish://$dir"
    try {
      // a grace GC deleting folded deltas 0 and 1 (below the watermark):
      // the reader must never inspect them
      vanishAfterListing("delta=0", "delta=1")
      assert(DeltaStore.committedDeltaIds(spark, root, minId = 2L) ===
        Seq(2L, 3L))
      // a live directory that vanishes mid-inspection holds no committed
      // snapshot data
      vanishAfterListing("delta=3")
      assert(DeltaStore.committedDeltaIds(spark, root, minId = 2L) ===
        Seq(2L))
    } finally VanishingLocalFs.afterList = _ => ()
  }

  test("S15 batch job count does not grow with the number of live deltas") {
    val group = new AtomicInteger(0)
    val counts = new ConcurrentHashMap[String, AtomicInteger]()
    @volatile var marker: (String, CountDownLatch) = ("", new CountDownLatch(0))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("")
        counts.computeIfAbsent(g, _ => new AtomicInteger(0)).incrementAndGet()
        if (g == marker._1) marker._2.countDown()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    // jobs of one sink call, counted by job group once the listener has
    // seen a later marker job (listener events arrive in order)
    def jobsOf(call: => Unit): Int = {
      val g = s"ds-count-${group.incrementAndGet()}"
      sc.setJobGroup(g, "counted sink call", interruptOnCancel = false)
      try call finally sc.clearJobGroup()
      val m = s"$g-marker"
      marker = (m, new CountDownLatch(1))
      sc.setJobGroup(m, "listener marker", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker._2.await(60, TimeUnit.SECONDS), "listener marker not seen")
      Option(counts.get(g)).map(_.get).getOrElse(0)
    }
    // the probed batch repeats batch 0's texts under new ids, so both
    // stores hold matches and both probes run the same plan
    val probe = docs(0, 20).withColumn("doc_id", col("doc_id") + 10000L)
    def storeWith(liveDeltas: Int): Int = {
      val store = tmp("ds_jobs")
      val out = tmp("ds_jobs_out")
      val sink = Streams.nearDedupSinkBatch(store, out, 0.5) _
      (0 until liveDeltas).foreach(b => sink(docs(b * 20, 20), b.toLong))
      val n = jobsOf(sink(probe, liveDeltas.toLong))
      assert(spark.read.parquet(s"$out/batch=$liveDeltas")
        .filter(!col("is_novel")).count() === 20)
      n
    }
    try {
      val one = storeWith(1)
      val five = storeWith(5)
      assert(one > 0)
      assert(one === five,
        s"$one jobs against 1 live delta, $five against 5: store reads scale with the delta count")
    } finally sc.removeSparkListener(listener)
  }

  test("S15 replay after its delta and output exist: identical decisions, own delta excluded") {
    val store = tmp("ds_replay")
    val out = tmp("ds_replay_out")
    val sink = Streams.nearDedupSinkBatch(store, out, 0.5) _
    sink(docs(0, 30), 0L)
    // batch 1: 30 new documents plus a copy of doc 0 under a new id
    val b1 = docs(30, 30).unionByName(
      docs(0, 1).withColumn("doc_id", lit(1000L)))
    sink(b1, 1L)
    val decided = rows(spark.read.parquet(s"$out/batch=1"))
    val signed = rows(spark.read.parquet(s"$store/delta=1"))
    sink(b1, 1L) // the replay: delta=1 and batch=1 are already on disk
    assert(rows(spark.read.parquet(s"$out/batch=1")) === decided)
    assert(rows(spark.read.parquet(s"$store/delta=1")) === signed)
    val d = spark.read.parquet(s"$out/batch=1")
      .select("doc_id", "near_store_id", "is_novel")
      .as[(Long, Option[Long], Boolean)].collect()
    // a read that included delta=1 would match every batch-1 document to
    // itself at distance 0; it must see batch 0 only
    assert(d.flatMap(_._2).forall(_ < 30L),
      s"batch 1 matched its own signatures: ${d.filter(_._2.exists(_ >= 30L)).toSeq}")
    assert(d.exists(_._3), "fixture must keep novel documents")
    assert(d.find(_._1 == 1000L).flatMap(_._2) === Some(0L))
  }
}
