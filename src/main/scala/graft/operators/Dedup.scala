package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Deduplication operators for document corpora (SURVEY.md §2 B-10).
  *
  * Scale posture (100 TB):
  * - `exact`: one hash-partitioned shuffle on the content digest; identical
  *   to the dedup a production pretraining pipeline runs. No skew risk (the
  *   digest is uniform by construction).
  * - `ngramJaccardPairs`: exact pairwise Jaccard via a shared-shingle
  *   self-join — candidate generation is bounded by shingle document
  *   frequency, so extremely common shingles explode the join; `maxShingleDf`
  *   drops them (they carry no discriminative signal). This is the exact
  *   verifier; `nearMinhashLsh` is the sub-quadratic candidate generator.
  * - `nearMinhashLsh`: banded MinHash built from codegen'd built-ins —
  *   AND-amplification inside each band (all `rowsPerBand` minhashes must
  *   match), OR across `numBands` bands. Candidate pairs come from an
  *   equi-join on the band key, then exact shingle-set Jaccard verifies
  *   them. An OR-only banding (any single minhash collides) degenerates to
  *   near-all-pairs on a shared-vocabulary corpus — measured 505 s vs ~3 s
  *   at sf0.1 for exactly this query.
  * - `simhashPairs`: 64-bit SimHash + Hamming ≤ k verification. Signature
  *   build is one codegen pass; candidates come from equal bit-bands, with
  *   the band count derived from `maxHamming` so recall is guaranteed by
  *   pigeonhole (a pair within Hamming k differs in at most k bands, so
  *   with k+1 bands at least one band matches exactly).
  */
object Dedup {

  /** Exact dedup by content digest, keeping the lowest id per group. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val h = sha2(col(textCol), 256)
    val w = Window.partitionBy(h).orderBy(col(idCol))
    df.withColumn("content_hash", h)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Exact dedup with a SOURCE-PRIORITY keep rule: among content
    * duplicates the copy from the earliest source in `priority` wins
    * (unlisted sources rank last), id as the final tiebreak — the
    * production dedup policy when the same document arrives from feeds of
    * unequal quality ("keep the curated mirror, drop the crawl"). Same
    * digest-window shape as [[exact]] (uniform sha256 keys, no skew);
    * returns every row with its group size and the keep decision, so
    * consumers can audit what a plain survivor filter would silently
    * drop. */
  def exactByPriority(df: DataFrame, textCol: String, idCol: String,
      srcCol: String, priority: Seq[String]): DataFrame = {
    val rank = priority.zipWithIndex.foldLeft(
      lit(priority.size)) { case (acc, (s, i)) =>
      when(col(srcCol) === s, i).otherwise(acc)
    }
    val h = sha2(col(textCol), 256)
    val w = Window.partitionBy(h).orderBy(col("_prio"), col(idCol))
    df.withColumn("content_hash", h)
      .withColumn("_prio", rank)
      .withColumn("grp_size",
        count(lit(1)).over(Window.partitionBy(col("content_hash"))))
      .withColumn("is_kept", row_number().over(w) === 1)
      .drop("_prio")
  }

  /** The distinct content-digest column of a document store — the ONE
    * definition of "already seen" shared by the batch and streaming
    * incremental dedups (if the digest recipe ever changes, both twins
    * change together or the streaming path stops recognizing the batch
    * store's digests). */
  def digests(store: DataFrame, textCol: String): DataFrame =
    store.select(sha2(col(textCol), 256).as("content_hash")).distinct()

  /** Incremental (batch-vs-store) exact dedup — the nightly-ingest shape:
    * the new `batch` first dedups within itself (lowest id per digest wins),
    * then drops everything whose content digest already exists in `store`.
    * Only genuinely novel content survives. Both the window and the
    * anti-join key on the uniform sha256 digest (no skew by construction),
    * and the store side is pruned to its digest column before the join — at
    * 100 TB the anti-join moves digests, not documents. */
  def incremental(batch: DataFrame, store: DataFrame, textCol: String,
      idCol: String): DataFrame =
    exact(batch, textCol, idCol)
      .join(digests(store, textCol), Seq("content_hash"), "left_anti")

  /** Exact word-n-gram Jaccard similarity for all pairs above `threshold`.
    * Shingles with document frequency above the guard are dropped from
    * candidate generation AND from the per-document shingle counts (stop-
    * shingle guard — at corpus scale a shingle present in 1% of documents
    * would otherwise dominate the join). The guard is either the absolute
    * `maxShingleDf`, or — when `maxShingleDfFraction` is set — the relative
    * max(5, ⌈fraction × corpus row count⌉) CAPPED at an absolute 10 000,
    * computed INSIDE the plan (a broadcast one-row aggregate, no driver-side
    * action). The absolute cap is the scale-safety valve: pair blowup per
    * surviving shingle is O(df²), so a purely relative cap grows linearly
    * with corpus size — at 10¹⁰ docs a shingle in 10⁸ of them would survive
    * a 1% guard and the self-join would emit ~10¹⁶ pairs from that one key.
    * Capping df at 10⁴ bounds any shingle's pair contribution at ~5×10⁷
    * regardless of corpus size; at test scale (≤10⁵ docs) the cap never
    * binds, so results are unchanged. Corpora where the cap bites should use
    * banded MinHash (`minhashPairs`) as the candidate generator instead —
    * its cost is corpus-linear by construction. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double,
      maxShingleDf: Long = Long.MaxValue,
      maxShingleDfFraction: Option[Double] = None): DataFrame =
    shinglePairCounts(df, textCol, idCol, n, maxShingleDf,
      maxShingleDfFraction)
      .withColumn("jaccard",
        col("i").cast("double") / (col("ca") + col("cb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")

  /** Exact shingle CONTAINMENT pairs: `C = |A∩B| / min(|A|, |B|)` — the
    * inclusion metric Jaccard structurally misses: a 50-shingle quote
    * embedded verbatim in a 5000-shingle page has Jaccard ≈ 0.01 (union-
    * normalized) but containment 1.0. For training corpora this is the
    * boilerplate-inclusion / quotation / near-superset detector that
    * union-normalized dedup leaves behind (the containment form of
    * Broder's resemblance work — public method). Same guarded
    * sub-quadratic machinery as [[ngramJaccardPairs]]: stop-shingle df
    * guard, singleton prune, hashed 8-byte join keys. */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double,
      maxShingleDf: Long = Long.MaxValue,
      maxShingleDfFraction: Option[Double] = None): DataFrame =
    shinglePairCounts(df, textCol, idCol, n, maxShingleDf,
      maxShingleDfFraction)
      .withColumn("containment",
        col("i").cast("double") / least(col("ca"), col("cb")))
      .filter(col("containment") >= threshold)
      .select("a_id", "b_id", "containment")

  /** The shared guarded pair-generation tail of the exact shingle-overlap
    * family: `(a_id, b_id, i, ca, cb)` — intersection size plus both
    * distinct-shingle counts — for every co-shingled pair. All the scale
    * machinery lives here once: df guard, singleton prune, xxhash64 keys,
    * exchange-reusing self-join. */
  private def shinglePairCounts(df: DataFrame, textCol: String, idCol: String,
      n: Int,
      maxShingleDf: Long = Long.MaxValue,
      maxShingleDfFraction: Option[Double] = None): DataFrame = {
    // Every consumer below uses the shingle only through EQUALITY, so hash
    // it once to a 64-bit key at explode time: the df-group, hot anti-join
    // and pair self-join then all shuffle 8-byte longs instead of n-gram
    // strings (measured ~25% off the whole query at sf0.1; the win grows
    // with shingle width). Exactness: results differ from string keys only
    // on an xxhash64 collision within one corpus's shingle set — ~2⁻⁴⁵ odds
    // at 10⁹ distinct shingles — the standard shingle-hashing posture every
    // at-scale near-dup system takes.
    val sh0 = df
      .select(col(idCol).as("doc"),
        explode(array_distinct(TextFunctions.wordShingles(col(textCol), n)))
          .as("gs"))
      .select(col("doc"), xxhash64(col("gs")).as("g"))
    // the guard broadcasts the DROPPED heavy-hitter set and anti-joins: at
    // most totalShingles/cap shingles can exceed the cap, so that set is
    // provably tiny, while the kept set is the whole corpus vocabulary —
    // broadcasting the complement would invert the size relationship the
    // broadcast depends on
    def guarded(hotOf: DataFrame => DataFrame): DataFrame = {
      val hot = hotOf(sh0.groupBy("g").agg(count(lit(1)).as("df")))
        .select("g")
      sh0.join(broadcast(hot), Seq("g"), "left_anti")
    }
    val filtered0 = maxShingleDfFraction match {
      case Some(frac) =>
        val total = df.agg(count(lit(1)).as("_n"))
        guarded(_.crossJoin(broadcast(total))
          .filter(col("df") >
            least(greatest(lit(5L), ceil(col("_n") * frac).cast("long")),
              lit(10000L))))
      case None if maxShingleDf == Long.MaxValue => sh0
      case None => guarded(_.filter(col("df") > maxShingleDf))
    }
    // The (doc, shingle) table feeds four consumers (doc frequencies,
    // per-doc counts, both sides of the pair join); Spark has no plan-level
    // CSE, so materialize it once (lazily, on first action). localCheckpoint
    // trades fault tolerance for speed (blocks die with their executor) —
    // the right local/test choice; a long-running production job would use
    // reliable checkpoint() or replicated persist here.
    val filtered = filtered0.localCheckpoint(eager = false)
    val counts = filtered.groupBy("doc").agg(count(lit(1)).as("c"))
    // A shingle in exactly ONE document can never produce a pair, so prune
    // df==1 keys from the self-join input. On a real web corpus the
    // singleton tail is the BULK of the shingle vocabulary (Zipf), so this
    // is a large cut in join traffic; it costs no extra exchange — the
    // df-annotating window shuffles on g, exactly the partitioning (and
    // sort) the sort-merge self-join needs, so the exchange is reused.
    // Denominator counts above are computed BEFORE the prune: Jaccard
    // values are bit-identical with or without it.
    val paired = filtered
      .withColumn("kdf", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")))
      .filter(col("kdf") >= 2)
      .select("doc", "g")
    val inter = paired.select(col("doc").as("a_id"), col("g"))
      .join(paired.select(col("doc").as("b_id"), col("g")), "g")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("i"))
    inter
      .join(counts.select(col("doc").as("a_id"), col("c").as("ca")), "a_id")
      .join(counts.select(col("doc").as("b_id"), col("c").as("cb")), "b_id")
  }

  /** Near-duplicate pairs via banded MinHash LSH, composed from codegen'd
    * built-ins (no mllib): word `shingleN`-gram shingles → a
    * (`numBands` × `rowsPerBand`) MinHash signature in the md5 hash family
    * (deterministic, engine-independent) → one key per band
    * (AND-amplification: all `rowsPerBand` minhashes concatenated) →
    * candidate pairs from an equi-join on (band, key) → exact shingle-set
    * Jaccard verification. Returns (a_id, b_id, dist) with
    * dist = 1 − jaccard ≤ `maxDistance`; false candidates are eliminated by
    * the verify step, so banding only affects recall:
    * P(candidate | similarity s) = 1 − (1 − s^r)^b (≈ 0.9 at the s = 0.5
    * boundary with the 8×2 default, → 1 for true near-dups).
    *
    * Scale shape: one explode + one hash-partitioned min-aggregate builds
    * the signatures (map-side partial min, tiny shuffle), the band join
    * touches b rows per document, and the verify join is proportional to
    * the candidate count — sub-quadratic unless the corpus genuinely is
    * mostly duplicates. */
  def nearMinhashLsh(df: DataFrame, textCol: String, idCol: String,
      maxDistance: Double, numBands: Int = 8, rowsPerBand: Int = 2,
      shingleN: Int = 3): DataFrame = {
    val docs = df.select(col(idCol).as("doc"),
      array_distinct(TextFunctions.wordShingles(col(textCol), shingleN))
        .as("shingles"))
    val sh = docs.select(col("doc"), explode(col("shingles")).as("g"))
    val nHashes = numBands * rowsPerBand
    // signature: per doc, min over shingles of xxhash64(h, shingle) for each
    // hash id h — all nHashes minima in ONE aggregate pass. xxhash64 is
    // codegen'd and the 8-byte values keep the signature shuffle narrow;
    // this operator carries no oracle, so the engine-local hash family is
    // fine (the md5 family stays in the oracle-checked fingerprint path).
    val minExprs = (0 until nHashes).map(h =>
      min(xxhash64(lit(h), col("g"))).as(s"mh$h"))
    val sigs = sh.groupBy("doc").agg(minExprs.head, minExprs.tail: _*)
    val bands = sigs.select(col("doc"),
      explode(array((0 until numBands).map(b =>
        struct(lit(b).as("band"),
          xxhash64((0 until rowsPerBand)
            .map(r => col(s"mh${b * rowsPerBand + r}")): _*).as("key"))): _*))
        .as("bk"))
    val cands = pairableBands(bands)
      .select(col("doc").as("a_id"), col("bk"))
      .join(pairableBands(bands).select(col("doc").as("b_id"), col("bk")), "bk")
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    cands
      .join(docs.select(col("doc").as("a_id"), col("shingles").as("a_sh")),
        "a_id")
      .join(docs.select(col("doc").as("b_id"), col("shingles").as("b_sh")),
        "b_id")
      .withColumn("dist",
        lit(1.0) - size(array_intersect(col("a_sh"), col("b_sh")))
          .cast("double") / size(array_union(col("a_sh"), col("b_sh"))))
      .filter(col("dist") <= maxDistance)
      .select("a_id", "b_id", "dist")
  }

  /** Banded MinHash near-dup pairs in the md5 hash family — the
    * ORACLE-CHECKABLE twin of [[nearMinhashLsh]]: every signature byte is
    * algorithm-defined (md5 of `"<hashId>|<shingle>"`, minimum over the
    * document's distinct word `shingleN`-gram shingles), so an independent
    * engine reproduces the exact candidate set AND the exact verified pairs —
    * LSH recall included. Banding is AND-within (the band key concatenates
    * `rowsPerBand` minhashes), OR-across (`numBands` band columns);
    * candidates from the band-key equi-join are verified by exact
    * shingle-set Jaccard, dist = 1 − J ≤ `maxDistance` (6-dp-rounded before
    * the threshold so float last-ulp drift cannot flip it cross-engine).
    *
    * Scale shape matches [[nearMinhashLsh]]: signature build is one narrow
    * projection (no explode-aggregate — the minima fold over the in-row
    * shingle array), the band join touches `numBands` rows per document, and
    * the verify join is proportional to the candidate count. md5-vs-xxhash64
    * is the only cost delta — the price of cross-engine verifiability.
    * Documents with zero shingles (< `shingleN` tokens) are excluded: they
    * have no signature and an empty-set Jaccard is undefined. */
  def nearMinhashMd5(df: DataFrame, textCol: String, idCol: String,
      maxDistance: Double, numBands: Int = 4, rowsPerBand: Int = 2,
      shingleN: Int = 3): DataFrame = {
    val docs = md5ShingleDocs(df, textCol, idCol, shingleN)
    val bands = md5Bands(docs, numBands, rowsPerBand)
    val cands = pairableBands(bands)
      .select(col("doc").as("a_id"), col("bk"))
      .join(pairableBands(bands).select(col("doc").as("b_id"), col("bk")), "bk")
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    cands
      .join(docs.select(col("doc").as("a_id"), col("shingles").as("a_sh")),
        "a_id")
      .join(docs.select(col("doc").as("b_id"), col("shingles").as("b_sh")),
        "b_id")
      .withColumn("dist", round(lit(1.0) -
        size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh"))), 6))
      .filter(col("dist") <= maxDistance)
      .select("a_id", "b_id", "dist")
  }

  /** In-engine MinHash band-gate recall, bucketed by distance — the dedup
    * twin of `Similarity.annRadiusRecall`: [[nearMinhashMd5]]'s output is
    * exact-Jaccard-verified, so found ⊆ true and per-bucket recall is a
    * pure COUNT ratio against the exact pair set from
    * [[ngramJaccardPairs]]. Bucketing by `round(dist·10⁶) div 10⁵`
    * (deciles of distance) is the useful shape: banded-LSH recall FALLS
    * with distance by construction — P(band collision) = (1−d)^(r·b)-ish —
    * and a single corpus-wide number hides exactly the tail you tuned
    * (numBands, rowsPerBand) for. Integer counts + floor division ⇒
    * full-oracle.
    *
    * Scale posture: the exact truth side is the estimator's price — run
    * both sides on the SAME sampled slice at 100 TB (recall is a per-pair
    * property, unbiased under document sampling only insofar as pairs
    * survive the sample; sample by doc-id hash RANGE so co-sampled pairs
    * stay together) and tune the band layout from the measured curve
    * before the full run. */
  def minhashRecall(df: DataFrame, textCol: String, idCol: String,
      maxDistance: Double = 0.5, numBands: Int = 4, rowsPerBand: Int = 2,
      shingleN: Int = 3): DataFrame = {
    def bucketed(pairs: DataFrame): DataFrame = pairs
      .withColumn("dist_m6", round(col("dist") * 1000000).cast("long"))
      .withColumn("bucket", expr("dist_m6 div 100000"))
    // over-generate slightly below the threshold, then apply the SAME
    // 6-dp-rounded criterion nearMinhashMd5 filters with — a raw
    // `jaccard >= 1 - maxDistance` cut and the rounded cut disagree on
    // boundary pairs, which would let found ⊄ true
    val truth = bucketed(
        ngramJaccardPairs(df, textCol, idCol, shingleN,
            threshold = 1.0 - maxDistance - 1e-4)
          .withColumn("dist", round(lit(1.0) - col("jaccard"), 6))
          .filter(col("dist") <= maxDistance))
      .groupBy("bucket").agg(count(lit(1)).as("n_true"))
    val found = bucketed(
        nearMinhashMd5(df, textCol, idCol, maxDistance,
          numBands, rowsPerBand, shingleN))
      .groupBy("bucket").agg(count(lit(1)).as("n_found"))
    truth.join(found, Seq("bucket"), "left")
      .withColumn("n_found", coalesce(col("n_found"), lit(0L)))
      .withColumn("recall_permille", expr("n_found * 1000 DIV n_true"))
  }

  /** Band rows whose key occurs in ≥ 2 documents: a singleton band bucket
    * cannot produce a candidate pair, and on a healthy LSH layout MOST
    * buckets are singletons (that sparsity is exactly what makes LSH
    * sub-quadratic), so the prune removes the bulk of the self-join
    * input. Bucket sizes come from a BOUNDED groupBy aggregate (map-side
    * partials, ≤ one row per distinct band key) semi-joined back on the
    * band key — not a count-over-window, which buffers each band bucket
    * in one task and goes corpus-sized on low-entropy keys (the 9-bit
    * aHash bands have ≤ 32 distinct keys per band; md5 bands are safe by
    * construction, but the shared core must survive both). The semi-join
    * shuffles on bk — the same partitioning the downstream self-join
    * needs — and candidate sets are identical by construction. The banded
    * input is materialized once (localCheckpoint): the aggregate branch
    * and the main branch would otherwise EACH recompute the signature
    * subtree — measured 1.75× on q_dedup_simhash before the checkpoint. */
  private def pairableBands(bands0: DataFrame): DataFrame = {
    val bands = bands0.localCheckpoint(eager = false)
    bands.join(
      bands.groupBy("bk").agg(count(lit(1)).as("kdf"))
        .filter(col("kdf") >= 2).select("bk"),
      Seq("bk"), "left_semi")
  }

  /** (doc, distinct-shingle-array) pairs for the md5-family LSH operators —
    * documents with zero shingles (< `shingleN` tokens) are excluded; the
    * result feeds both the banding and the verify sides, so it is
    * materialized once. */
  private def md5ShingleDocs(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int): DataFrame =
    df.select(col(idCol).as("doc"),
        array_distinct(TextFunctions.wordShingles(col(textCol), shingleN))
          .as("shingles"))
      .filter(size(col("shingles")) > 0)
      .localCheckpoint(eager = false)

  /** One (doc, band-key) row per band: the key concatenates `rowsPerBand`
    * md5 minhashes (AND-amplification within the band). The FULL
    * numBands × rowsPerBand signature is one kernel column evaluated once
    * per document ([[graft.functions.TextFunctions.minhashSignature]]);
    * band keys are plain array slices of it. */
  private def md5Bands(docs: DataFrame, numBands: Int,
      rowsPerBand: Int): DataFrame = {
    val sigd = docs.select(col("doc"),
      TextFunctions.minhashSignature(col("shingles"), 0,
        numBands * rowsPerBand).as("sig"))
    sigd.select(col("doc"),
      explode(bandKeys(col("sig"), numBands, rowsPerBand)).as("bk"))
  }

  /** The (band, key) structs of a full numBands × rowsPerBand signature:
    * band b's key concatenates its `rowsPerBand` minhashes. */
  private def bandKeys(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    array((0 until numBands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("|", (0 until rowsPerBand).map(r =>
          element_at(sig, b * rowsPerBand + r + 1)): _*).as("key"))
    }: _*)

  /** The at-rest signature store for [[incrementalNear]]: per store
    * document, its distinct shingle set and one band-key row per band —
    * everything the nightly near-dup join needs from the store side.
    * At 100 TB this is computed ONCE when a document enters the store and
    * persisted (parquet partitioned however the store is); every nightly
    * batch then reads signatures instead of re-minhashing the entire
    * corpus — the md5 signature pass over the store is the single most
    * expensive part of the from-scratch formulation, and it is pure
    * function of content, so recomputing it nightly is pure waste.
    * Schema: (doc, shingles, bk), one row per (doc, band).
    *
    * One projection per document: shingle, one [[graft.functions
    * .TextFunctions.minhashSignature]] kernel call, then explode the band
    * structs beside the shingles — no join back to a second copy of the
    * documents. A document with no shingles (< `shingleN` tokens) has a
    * null signature and gets no rows. */
  def signatureStore(store: DataFrame, textCol: String, idCol: String,
      numBands: Int = 4, rowsPerBand: Int = 2, shingleN: Int = 3): DataFrame =
    store.select(col(idCol).as("doc"),
        array_distinct(TextFunctions.wordShingles(col(textCol), shingleN))
          .as("shingles"))
      .select(col("doc"), col("shingles"),
        TextFunctions.minhashSignature(col("shingles"), 0,
          numBands * rowsPerBand).as("sig"))
      .select(col("doc"), col("shingles"),
        explode(when(col("sig").isNotNull,
          bandKeys(col("sig"), numBands, rowsPerBand))).as("bk"))

  /** MinHash-estimator quality audit — the measurement the banded-dedup
    * thresholds rest on: for every md5-banded candidate pair, the
    * Jaccard ESTIMATE from `kEst` minhashes (matching components / k —
    * Broder 1997's unbiased estimator) against the EXACT shingle-set
    * Jaccard, with the absolute error. The estimator hashes start AFTER
    * the banding hashes (h = numBands·rowsPerBand …), so the estimate is
    * INDEPENDENT of the collisions that selected the candidates — reusing
    * the banding hashes would bias every estimate upward exactly on the
    * pairs being audited. All integer permilles (match counts, exact
    * |∩|·1000 div |∪|); the only strings are md5 hex. Scale shape: the
    * candidate set is the banded join's (∝ true near-dup density, never
    * all pairs); signatures are one kernel column per doc. */
  def minhashEstimatorAudit(df: DataFrame, textCol: String, idCol: String,
      kEst: Int = 16, numBands: Int = 4, rowsPerBand: Int = 2,
      shingleN: Int = 3): DataFrame = {
    require(kEst >= 1 && numBands >= 1 && rowsPerBand >= 1 && shingleN >= 1,
      s"need kEst/numBands/rowsPerBand/shingleN >= 1, " +
        s"got $kEst/$numBands/$rowsPerBand/$shingleN")
    val docs = md5ShingleDocs(df, textCol, idCol, shingleN)
    val bands = pairableBands(md5Bands(docs, numBands, rowsPerBand))
    val cand = bands.select(col("doc").as("a"), col("bk"))
      .join(bands.select(col("doc").as("b"), col("bk")), "bk")
      .filter(col("a") < col("b")).select("a", "b").distinct()
    val sigs = docs.select(col("doc"),
      TextFunctions.minhashSignature(col("shingles"),
        numBands * rowsPerBand, kEst).as("sig"),
      col("shingles"))
    cand
      .join(sigs.select(col("doc").as("a"), col("sig").as("sig_a"),
        col("shingles").as("sh_a")), "a")
      .join(sigs.select(col("doc").as("b"), col("sig").as("sig_b"),
        col("shingles").as("sh_b")), "b")
      .select(col("a").as("a_id"), col("b").as("b_id"),
        // static kEst-term codegen sum, not zip_with/filter lambdas:
        // HOF lambdas evaluate interpreted (CodegenFallback — the
        // repo's measured 3-4× lesson), and kEst is a compile-time
        // constant, so the match count unrolls into one flat
        // whole-stage-codegen expression on the candidate-pair path
        (0 until kEst).map(i =>
            when(element_at(col("sig_a"), i + 1) ===
              element_at(col("sig_b"), i + 1), 1L).otherwise(0L))
          .reduce(_ + _).as("n_match"),
        expr("size(array_intersect(sh_a, sh_b))").cast("long")
          .as("n_inter"),
        expr("size(array_union(sh_a, sh_b))").cast("long").as("n_union"))
      .withColumn("est_permille", expr(s"(n_match * 1000) div $kEst"))
      .withColumn("jaccard_permille", expr("(n_inter * 1000) div n_union"))
      .withColumn("err_permille",
        abs(col("est_permille") - col("jaccard_permille")))
      .orderBy("a_id", "b_id")
  }

  /** Fold the committed batch deltas of an S15 signature store (written
    * by `Streams.nearDedupSinkBatch` as `<storeDir>/delta=<batchId>`)
    * below `uptoBatch` into one base generation — the store-maintenance
    * twin of [[graft.operators.Similarity.compactIvfPqLayout]]: with
    * continuous ingest the per-batch listing grows without bound, and
    * every future batch's store read pays it. Folded rows KEEP their
    * batch id as a `delta` column, so the replay contract survives
    * compaction: a replayed batch still reads exactly `delta < batchId`
    * out of the folded base. `uptoBatch` must not exceed the stream's
    * last committed batch id — never fold a batch the checkpoint may
    * replay (the replay would rewrite a folded-and-ignored directory,
    * which is harmless, but its own signatures would already sit in the
    * base the exclusion filter then has to hide — keep the invariant
    * simple instead). Readers racing the compaction resolve one atomic
    * manifest — pre- or post-fold, identical content, never torn
    * ([[DeltaStore]]). */
  def compactSignatureStore(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, uptoBatch: Long,
      midCompactionHook: () => Unit = () => ()): Unit =
    DeltaStore.compactPureDelta(spark, storeDir, uptoBatch,
      midCompactionHook)

  /** Generated Spark SQL reproducing [[incrementalNearAgainst]] over a
    * signature-store VIEW (registered by `Tables.registerSignatureStoreView`)
    * and a batch view with (doc_id, text) — the SQL door to the at-rest
    * near-dedup read path: a SQL-only consumer shingles tonight's batch,
    * minhashes it in the same md5 family (`md5('<h>|' || shingle)` — the
    * exact formulation the DuckDB oracles already pin), band-joins against
    * the store's at-rest `bk` keys and exact-Jaccard-verifies against the
    * shingles each store row carries (the operator's one-join shape), with
    * the identical closest-store-id tie rule (lexicographic struct min).
    * Same generated-SQL discipline as [[graft.operators.DetQuantizer
    * .fitSqlCtes]]; SqlSurfaceSpec proves row-identity with the Scala
    * operator over the same store. Pure built-ins — no extension
    * functions needed. */
  def nearDupProbeSql(batchView: String, storeView: String,
      maxDistance: Double, numBands: Int = 4, rowsPerBand: Int = 2,
      shingleN: Int = 3): String = {
    // spliced into SQL text — identifiers only (see SqlIdent)
    Seq(batchView, storeView).foreach(SqlIdent.require)
    require(numBands >= 1 && rowsPerBand >= 1 && shingleN >= 1,
      s"numBands, rowsPerBand, shingleN must be >= 1; " +
        s"got ($numBands, $rowsPerBand, $shingleN)")
    require(maxDistance >= 0.0 && maxDistance <= 1.0,
      s"maxDistance must be in [0, 1], got $maxDistance")
    val shingle = (1 to shingleN)
      .map(o => s"element_at(ws, i + ${o - 1})").mkString("concat_ws(' ', ", ", ", ")")
    val bandStructs = (0 until numBands).map { b =>
      val mins = (0 until rowsPerBand).map { r =>
        val h = b * rowsPerBand + r
        s"array_min(transform(shingles, g -> md5(concat('$h', '|', g))))"
      }.mkString("concat_ws('|', ", ", ", ")")
      s"named_struct('band', $b, 'key', $mins)"
    }.mkString("array(", ",\n       |      ", ")")
    s"""WITH bdocs AS (
       |  SELECT doc, shingles FROM (
       |    SELECT doc_id AS doc,
       |      array_distinct(CASE WHEN size(ws) >= $shingleN
       |        THEN transform(sequence(1, size(ws) - ${shingleN - 1}),
       |          i -> $shingle)
       |        ELSE CAST(array() AS ARRAY<STRING>) END) AS shingles
       |    FROM (SELECT doc_id, split(text, ' ') AS ws FROM $batchView))
       |  WHERE size(shingles) > 0),
       |bbands AS (
       |  SELECT doc, shingles, explode($bandStructs) AS bk
       |  FROM bdocs),
       |best AS (
       |  SELECT b_doc, min(named_struct('dist', dist, 's_doc', s_doc)) AS m
       |  FROM (
       |    SELECT b.doc AS b_doc, s.doc AS s_doc,
       |      round(1.0 - CAST(size(array_intersect(b.shingles, s.shingles)) AS DOUBLE)
       |        / size(array_union(b.shingles, s.shingles)), 6) AS dist
       |    FROM bbands b JOIN $storeView s ON b.bk = s.bk)
       |  WHERE dist <= $maxDistance
       |  GROUP BY b_doc)
       |SELECT t.doc_id, b.m.s_doc AS near_store_id, b.m.dist AS dist,
       |  b.m.s_doc IS NULL AS is_novel
       |FROM (SELECT doc_id FROM $batchView) t
       |LEFT JOIN best b ON b.b_doc = t.doc_id""".stripMargin
  }

  /** Incremental (batch-vs-store) NEAR-dup — the nightly-ingest twin of
    * [[incremental]] for near-duplicates: each batch document is flagged
    * with its closest store near-duplicate (exact Jaccard dist ≤
    * `maxDistance`, 6-dp-rounded) or marked novel. Candidates come from the
    * same md5-family banded MinHash as [[nearMinhashMd5]], but the band join
    * is strictly batch×store — batch-internal and store-internal pairs are
    * never generated, so a nightly batch never re-verifies the store against
    * itself. Ties on distance break to the lowest store id (lexicographic
    * struct min), making the "closest" choice deterministic cross-engine.
    *
    * Batch documents with < `shingleN` tokens have no signature and are
    * reported novel (kept): with no shingles there is no evidence of
    * duplication, and dropping unverifiable content silently would bias the
    * corpus.
    *
    * Scale shape: one band join of batch rows against store rows, each
    * side carrying its document's shingles, so candidates are verified
    * where they meet — no candidate `distinct()` and no re-join to fetch
    * shingle sets. A pair hit in several bands is verified once per hit;
    * the per-batch-doc struct min gives the same answer over duplicates.
    * Candidates ∝ true near-dup density, and the final left join returns
    * one row per batch document. */
  def incrementalNear(batch: DataFrame, store: DataFrame, textCol: String,
      idCol: String, maxDistance: Double, numBands: Int = 4,
      rowsPerBand: Int = 2, shingleN: Int = 3): DataFrame =
    incrementalNearAgainst(batch,
      signatureStore(store, textCol, idCol, numBands, rowsPerBand, shingleN),
      textCol, idCol, maxDistance, numBands, rowsPerBand, shingleN)

  /** [[incrementalNear]] against a PRECOMPUTED [[signatureStore]] — the
    * nightly-pipeline form: only the (small) batch is shingled and
    * minhashed tonight; the store contributes its at-rest signatures.
    * A thin wrapper: sign the batch, then one [[nearProbe]]. */
  def incrementalNearAgainst(batch: DataFrame, storeSigs: DataFrame,
      textCol: String, idCol: String, maxDistance: Double,
      numBands: Int = 4, rowsPerBand: Int = 2, shingleN: Int = 3): DataFrame =
    nearProbe(batch.select(col(idCol).as("doc_id")),
      signatureStore(batch, textCol, idCol, numBands, rowsPerBand, shingleN),
      storeSigs, maxDistance)

  /** The batch×store near-dup probe over SIGNED rows: `batchSigs` and
    * `storeSigs` are both in the [[signatureStore]] format, `batchIds`
    * holds one `doc_id` per batch document. One band join of the two
    * row sets, each row carrying its document's shingles, verifies every
    * hit by exact Jaccard and keeps `min(struct(dist, s_doc))` per batch
    * doc; duplicate hits of one pair across bands leave that min
    * unchanged, so the join needs no `distinct()` and no re-join.
    * `broadcastBatch` makes the batch side the broadcast side of both
    * joins — the batch's band rows, then its per-doc best matches: right
    * when the batch is bounded (a streaming trigger), so the store is only
    * scanned, never shuffled. Output: (doc_id, near_store_id, dist,
    * is_novel), one row per `batchIds` row. */
  private[graft] def nearProbe(batchIds: DataFrame, batchSigs: DataFrame,
      storeSigs: DataFrame, maxDistance: Double,
      broadcastBatch: Boolean = false): DataFrame = {
    val b = batchSigs.select(col("doc").as("b_doc"),
      col("shingles").as("b_sh"), col("bk"))
    val best = (if (broadcastBatch) broadcast(b) else b)
      .join(storeSigs.select(col("doc").as("s_doc"),
        col("shingles").as("s_sh"), col("bk")), "bk")
      .withColumn("dist", round(lit(1.0) -
        size(array_intersect(col("b_sh"), col("s_sh"))).cast("double") /
          size(array_union(col("b_sh"), col("s_sh"))), 6))
      .filter(col("dist") <= maxDistance)
      .groupBy("b_doc")
      .agg(min(struct(col("dist"), col("s_doc"))).as("best"))
      .select(col("b_doc").as("doc_id"), col("best.s_doc").as("near_store_id"),
        col("best.dist").as("dist"))
    batchIds
      .join(if (broadcastBatch) broadcast(best) else best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("near_store_id"), col("dist"),
        col("near_store_id").isNull.as("is_novel"))
  }

  /** Near-identical pairs over ANY `bits`-wide integer signature column by
    * banded Hamming join — the generalized core behind [[simhashPairs]]
    * (64-bit text SimHash) and the perceptual-image near-dup path (gw·gh-bit
    * aHash). The signature's `bits` low bits split into `maxHamming + 1`
    * contiguous bands, widths as even as possible; candidates come from a
    * band-key equi-join (singleton buckets pruned first) and exact
    * Hamming ≤ `maxHamming` verifies. Pigeonhole: a pair differing in ≤ k
    * bits differs in at most k bands, so at least one of k+1 bands matches
    * exactly — recall is GUARANTEED, not probabilistic; the verify step
    * removes band-collision false positives. Banding over the TRUE
    * signature width matters: banding a 9-bit hash as if 64-bit would put
    * every row in one bucket for the all-zero high bands and degenerate to
    * the all-pairs product. Returns (a_id, b_id, hamming). */
  def hammingPairs(sigs: DataFrame, idCol: String, sigCol: String,
      bits: Int, maxHamming: Int): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1, 64], got $bits")
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming must be in [0, ${bits - 1}], got $maxHamming")
    val numBands = maxHamming + 1
    // e.g. bits=64, maxHamming=6 → 7 bands of widths 10,9,9,9,9,9,9
    val widths = Array.tabulate(numBands)(b =>
      bits / numBands + (if (b < bits % numBands) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _).init
    // Mask to the declared width: stray bits ABOVE `bits` would count in
    // the Hamming verify but live in no band — silently voiding the
    // pigeonhole recall guarantee. Masking makes the contract
    // self-enforcing instead of caller-trusted.
    val sigMasked =
      if (bits == 64) col(sigCol)
      else col(sigCol).bitwiseAND(lit((1L << bits) - 1L))
    val s = sigs.select(col(idCol).as("doc"), sigMasked.as("sig"))
    val banded = s.select(col("doc"), col("sig"),
      explode(array((0 until numBands).map { b =>
        val mask = if (widths(b) == 64) -1L else (1L << widths(b)) - 1L
        struct(lit(b).as("band"),
          shiftright(col("sig"), offsets(b)).bitwiseAND(mask).as("key"))
      }: _*)).as("bk"))
    val pb = pairableBands(banded) // singleton band buckets form no pair
    val cands = pb.select(col("doc").as("a_id"), col("sig").as("a_sig"), col("bk"))
      .join(pb.select(col("doc").as("b_id"), col("sig").as("b_sig"), col("bk")), "bk")
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "a_sig", "b_sig").distinct()
    cands
      .withColumn("hamming", bit_count(col("a_sig").bitwiseXOR(col("b_sig"))))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }

  /** SimHash near-dup pairs: 64-bit text signatures through
    * [[hammingPairs]]'s banded Hamming join. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int): DataFrame =
    hammingPairs(
      df.select(col(idCol).as("doc"),
        TextFunctions.simhash64(col(textCol)).as("sig")),
      "doc", "sig", bits = 64, maxHamming = maxHamming)

  /** Repeated-substring statistics — the distributed analog of exact
    * substring deduplication (single-node pipelines build a corpus suffix
    * array; the shuffle-friendly equivalent hashes every `k`-token rolling
    * window and counts occurrences). A window is DUPLICATED if its hash
    * occurs ≥ 2 times anywhere in the corpus — cross-document boilerplate
    * and within-document repetition both count, exactly the spans a
    * substring-dedup pass would strip before training. Adjacent duplicated
    * windows merge into maximal spans by the islands trick (pos − row_number
    * is constant on a run of consecutive positions).
    *
    * Per input document (with ≥ k tokens): total window count, duplicated
    * window count and ratio, number of maximal duplicated spans, and the
    * longest span in tokens (run + k − 1).
    *
    * Scale shape: the occurrence count is a groupBy on the window hash —
    * map-side partial aggregation absorbs heavy-hitter boilerplate windows
    * (a hot hash is a hot COUNTER, not a join explosion); the mark-back is
    * one semi-join on the hash; spans are one doc-keyed window. Everything
    * is linear in corpus token count — the 100 TB plan is the same plan. */
  def substrDupStats(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8): DataFrame = {
    val wins = df.select(col(idCol).as("doc"),
        posexplode(TextFunctions.wordShingles(col(textCol), k))
          .as(Seq("pos", "win")))
      .select(col("doc"), col("pos").cast("long").as("pos"),
        md5(col("win")).as("h"))
    val dup = wins.groupBy("h").agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2).select("h")
    val marked = wins.join(dup, Seq("h"), "left_semi")
    val islands = marked
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy("doc").orderBy("pos")))
      .groupBy("doc", "grp").agg(count(lit(1)).as("run"))
      .groupBy("doc").agg(count(lit(1)).as("n_spans"),
        (max("run") + (k - 1)).as("max_span_tokens"))
    val dupCounts = marked.groupBy("doc").agg(count(lit(1)).as("n_dup"))
    wins.groupBy("doc").agg(count(lit(1)).as("n_windows"))
      .join(dupCounts, Seq("doc"), "left")
      .join(islands, Seq("doc"), "left")
      .select(col("doc").as("doc_id"), col("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_windows"),
        round(coalesce(col("n_dup"), lit(0L)).cast("double") /
          col("n_windows"), 6).as("dup_ratio"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("max_span_tokens"), lit(0L)).as("max_span_tokens"))
  }
}
