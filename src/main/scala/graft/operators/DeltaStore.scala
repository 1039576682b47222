package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Snapshot-versioned delta-store plumbing — the shared mechanics behind
  * the three continuously-ingested at-rest stores (the IVF-PQ code
  * layout's `codes_deltas`, S15's MinHash signature store, S26's
  * contamination id store) and their compaction lifecycle.
  *
  * The problem compaction creates: folding `delta=*` children into a
  * rewritten base and then deleting them is TWO filesystem mutations, and
  * a reader that lists the store between them either double-counts the
  * folded deltas or loses them — plain directory listings cannot give a
  * torn-free snapshot. The standard answer (the transaction-log idea of
  * Iceberg/Delta, reduced to the two integers these stores actually
  * need) is a tiny versioned MANIFEST published atomically:
  *
  *   `<root>/_manifests/v<NNNNNN>.json` → {"gen": G, "foldedBelow": K}
  *
  *   - gen G names the current base generation directory (generation 0
  *     is the store's original layout — absence of any manifest means
  *     gen 0 with nothing folded, so never-compacted stores read exactly
  *     as before and carry no manifest at all);
  *   - foldedBelow K says "delta children with id < K are already IN the
  *     base — ignore their directories".
  *
  * A manifest file appears atomically (written to a temp name, then one
  * FileSystem.rename), and readers resolve the HIGHEST version — so
  * every read maps to one consistent (G, K) pair: either the
  * pre-compaction snapshot (old gen + old deltas, all still on disk) or
  * the post-compaction one (folded gen + surviving deltas). Identical
  * logical content either way; no interleaving is torn.
  *
  * GC runs with ONE COMPACTION CYCLE OF GRACE: compaction N+1 deletes
  * the generation and folded deltas that compaction N superseded, never
  * its own inputs — a reader still holding the previous manifest keeps
  * its files until a whole further compaction happens. (The residual
  * assumption, documented rather than hidden: a reader does not straddle
  * TWO compactions of the same store mid-job.)
  *
  * Writer discipline: stores have a SINGLE maintenance writer at a time
  * (the streaming ingest query and the compactor are serialized by the
  * caller — the posture S15/S22/S26 already operate under). Compaction
  * never blocks readers.
  */
object DeltaStore {

  /** The two integers a store snapshot is: current base generation and
    * the delta-id watermark below which deltas are folded into it. */
  final case class Snapshot(gen: Long, foldedBelow: Long)

  /** The implied snapshot of a store that has never been compacted. */
  val Gen0: Snapshot = Snapshot(0L, Long.MinValue)

  def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(root: String) = new Path(s"$root/_manifests")

  // {6,} not {6}: the writer pads to AT LEAST six digits (f"v$v%06d"), so
  // version 1,000,000 is v1000000.json — a {6} match would silently stop
  // seeing new manifests there and every reader would revert to the last
  // six-digit snapshot. Versions compare numerically (.toLong), so longer
  // names order correctly; non-matching names stay ignored because
  // publish() parks its temp file in this same directory.
  private val ManifestName = """v(\d{6,})\.json""".r
  private val ManifestBody =
    """\{"gen":\s*(-?\d+),\s*"foldedBelow":\s*(-?\d+)\}""".r

  /** Highest-version manifest of the store at `root`, or [[Gen0]] when
    * none exists (never-compacted store — full back-compat). */
  def current(spark: SparkSession, root: String): Snapshot =
    currentVersioned(spark, root)._2

  /** (version, snapshot); version 0 = no manifest yet. */
  def currentVersioned(spark: SparkSession, root: String): (Long, Snapshot) = {
    val f = fs(spark, root)
    val dir = manifestDir(root)
    if (!f.exists(dir)) return (0L, Gen0)
    val versions = f.listStatus(dir).flatMap(st => st.getPath.getName match {
      case ManifestName(v) => Some(v.toLong)
      case _ => None
    })
    if (versions.isEmpty) return (0L, Gen0)
    val v = versions.max
    val p = new Path(dir, f"v$v%06d.json")
    val in = f.open(p)
    val body =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    body match {
      case ManifestBody(g, k) => (v, Snapshot(g.toLong, k.toLong))
      case other => throw new java.io.IOException(
        s"unreadable delta-store manifest $p: '$other'")
    }
  }

  /** Atomically publish `next` as the store's current snapshot: write to
    * a temp name in the manifest dir, then one rename — readers see the
    * old manifest or the new one, never a partial file. */
  def publish(spark: SparkSession, root: String, next: Snapshot): Unit = {
    val f = fs(spark, root)
    val dir = manifestDir(root)
    f.mkdirs(dir)
    val v = currentVersioned(spark, root)._1 + 1
    val tmp = new Path(dir, f".v$v%06d.json.tmp")
    val dst = new Path(dir, f"v$v%06d.json")
    val out = f.create(tmp, true)
    try out.write(
      s"""{"gen": ${next.gen}, "foldedBelow": ${next.foldedBelow}}"""
        .getBytes("UTF-8"))
    finally out.close()
    if (!f.rename(tmp, dst))
      throw new java.io.IOException(s"could not publish manifest $dst")
  }

  /** The base generation directory for `snap`: generation 0 is the
    * store's original `base` path; compactions write siblings named
    * `<base>_g<gen>`. */
  def baseDir(base: String, snap: Snapshot): String =
    if (snap.gen == 0L) base else s"${base}_g${snap.gen}"

  /** True iff `dir` holds at least one COMMITTED data file (committer
    * `_temporary` staging and dot/underscore files excluded) — the
    * serving-snapshot membership rule S24 pins. */
  def hasCommittedFiles(f: FileSystem, dir: Path): Boolean =
    f.listStatus(dir).exists { st =>
      val n = st.getPath.getName
      if (st.isDirectory) n != "_temporary" && hasCommittedFiles(f, st.getPath)
      else !n.startsWith("_") && !n.startsWith(".")
    }

  /** Ids of `delta=<id>` children of `deltaRoot` holding committed data,
    * restricted to id >= minId (folded or replay-garbage directories
    * below the watermark are NOT part of the snapshot). Sorted.
    *
    * The id is parsed and filtered BEFORE any directory is inspected: the
    * folded directories below `minId` are exactly what a concurrent
    * [[gcSuperseded]] deletes, and listing one mid-delete would throw. A
    * directory that still vanishes between the listing and its inspection
    * holds no committed snapshot data and is left out. */
  def committedDeltaIds(spark: SparkSession, deltaRoot: String,
      minId: Long): Seq[Long] = {
    val f = fs(spark, deltaRoot)
    val root = new Path(deltaRoot)
    if (!f.exists(root)) return Seq.empty
    f.listStatus(root).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("delta="))
        scala.util.Try(n.stripPrefix("delta=").toLong).toOption
          .filter(id => id >= minId && (
            try hasCommittedFiles(f, st.getPath)
            catch { case _: java.io.FileNotFoundException => false }))
      else None
    }.sorted
  }

  /** Delete the artifacts a PREVIOUS compaction superseded — the grace
    * step that runs at the START of the next compaction: every base
    * generation below `keep.gen` and every delta directory below
    * `keep.foldedBelow` (which also sweeps replay-garbage deltas a
    * restarted stream rewrote after their content was folded). */
  def gcSuperseded(spark: SparkSession, base: String, deltaRoot: String,
      keep: Snapshot): Unit = {
    val f = fs(spark, base)
    (0L until keep.gen).foreach { g =>
      val p = new Path(baseDir(base, Snapshot(g, 0L)))
      if (f.exists(p)) f.delete(p, true)
    }
    val dr = new Path(deltaRoot)
    if (f.exists(dr)) f.listStatus(dr).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("delta=") &&
          scala.util.Try(n.stripPrefix("delta=").toLong).toOption
            .exists(_ < keep.foldedBelow))
        f.delete(st.getPath, true)
    }
  }

  // ---- pure-delta stores (S15 signature store, S26 contamination ids) --

  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.{col, lit}

  /** Committed snapshot of a PURE-DELTA store (`<root>/delta=<id>` with no
    * generation-0 base — the S15/S26/S33 shape): folded base rows (which
    * keep their original delta id as a `delta` column) plus live delta
    * directories, both restricted to delta < `uptoExclusive` — the
    * replay-isolation contract S15 reads with (a replayed batch must see
    * exactly the store state it saw the first time, compacted or not).
    * None when the store holds nothing below the bound.
    *
    * Two reads whatever the number of live deltas: the folded base, and
    * ONE scan over every live delta directory with `basePath` = `root`, so
    * partition discovery supplies `delta` (cast to bigint, the type the
    * folded base stores). A per-delta read would pay one schema-inference
    * job per delta, making every probe's cost grow with the delta count. */
  def snapshotPureDelta(spark: SparkSession, root: String,
      uptoExclusive: Long = Long.MaxValue): Option[DataFrame] =
    readPureDelta(spark, root, current(spark, root), uptoExclusive)._2

  /** The live delta ids of `snap` below `uptoExclusive`, and the rows of
    * base + those deltas (see [[snapshotPureDelta]]). */
  private def readPureDelta(spark: SparkSession, root: String,
      snap: Snapshot, uptoExclusive: Long): (Seq[Long], Option[DataFrame]) = {
    val baseP = baseDir(s"$root/folded", snap)
    val base =
      if (snap.gen > 0L && fs(spark, root).exists(new Path(baseP)))
        Some(spark.read.parquet(baseP)
          .filter(col("delta") < lit(uptoExclusive)))
      else None
    val ids = committedDeltaIds(spark, root, snap.foldedBelow)
      .filter(_ < uptoExclusive)
    val deltas =
      if (ids.isEmpty) None
      else Some(spark.read.option("basePath", root)
        .parquet(ids.map(i => s"$root/delta=$i"): _*)
        .withColumn("delta", col("delta").cast("bigint")))
    (ids, (base.toSeq ++ deltas)
      .reduceOption(_.unionByName(_, allowMissingColumns = false)))
  }

  /** Fold the committed deltas of a pure-delta store below `uptoExclusive`
    * into the next base generation, then atomically publish the new
    * snapshot. Readers are never torn (see the object scaladoc); the
    * superseded generation and folded delta dirs survive until the NEXT
    * compaction's grace GC. `uptoExclusive` must not exceed the stream's
    * last COMMITTED batch id — folding a batch the checkpoint may replay
    * would let the replay see its own signatures (the caller owns that
    * watermark; pass e.g. the current batch id). `midCompactionHook` is a
    * test seam running after the fold write, before the manifest
    * publish. The fold reads through [[snapshotPureDelta]]'s own read, so
    * what a compaction folds is by construction what a reader sees.
    *
    * `foldTransform` reshapes the folded rows before they land as the
    * new base — identity for stores whose rows are facts (signatures,
    * flagged ids), a key-merge for stores of MERGEABLE PARTIALS (the S33
    * materialized view folds per-batch partial aggregates into one row
    * per key). The transform must preserve a `delta` column. */
  def compactPureDelta(spark: SparkSession, root: String,
      uptoExclusive: Long = Long.MaxValue,
      midCompactionHook: () => Unit = () => (),
      foldTransform: DataFrame => DataFrame = identity): Unit = {
    val snap0 = current(spark, root)
    gcSuperseded(spark, s"$root/folded", root, snap0)
    // base rows all sit below snap0.foldedBelow <= ids.min < uptoExclusive,
    // so the read's base filter keeps every one of them
    val (ids, rows) = readPureDelta(spark, root, snap0, uptoExclusive)
    if (ids.isEmpty) return
    val next = Snapshot(snap0.gen + 1L, ids.max + 1L)
    val reshaped = foldTransform(rows.get)
    require(reshaped.columns.contains("delta"),
      "foldTransform must preserve the delta column")
    reshaped.write.mode("overwrite")
      .parquet(baseDir(s"$root/folded", next))
    midCompactionHook()
    publish(spark, root, next)
  }
}
