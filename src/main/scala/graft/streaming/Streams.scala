package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  ListState, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}
import graft.operators.{Dedup, EnvelopeSink}
import graft.sources.{HttpSnapshotScan, SnapshotTarget}

/** Metric tick record — the streaming shape of the reference's envelope
  * source (one record per reporting interval per slave,
  * /root/reference/syscol/metrics_reporter.go:75-105). */
case class Tick(slaveId: String, ts: java.sql.Timestamp, value: Double,
  props: String)

/** Task lifecycle event for the keyed-state operator (S6). */
case class TaskEvent(slaveId: String, taskId: String, status: String,
  seq: Long)

/** Document-ingest record for the continuous dedup operator (S9). */
case class DocIngest(doc_id: Long, ts: java.sql.Timestamp, text: String)

/** Source-attributed document-ingest record for the quality monitor (S10). */
case class DocSourced(doc_id: Long, ts: java.sql.Timestamp, text: String,
  source: String)

/** New-vector ingest record for the continuous ANN index sink (S22). */
case class VecIngest(vec_id: Long, embedding: Seq[Float])

/** S25 input: one positive metric value per group key. */
case class ValSeen(grp: String, ts: java.sql.Timestamp, v: Long)

/** S36 input: one integer-valued observation (cents/ms/bytes) per group. */
case class ValObs(grp: String, ts: java.sql.Timestamp, cents: Long)

/** S37 input: a typed user event (the q_gap_quantiles row shape). */
case class TypedEvent(user_id: Long, event_id: Long,
  ts: java.sql.Timestamp, event_type: String)

/** S36 output: per (group, percentile, batch) the type-1 position and the
  * straddling bucket's inclusive value bounds at the monitor's
  * resolution. */
case class QuantileRow(grp: String, n: Long, p: Long, pos: Long,
  q_lo_cents: Long, q_hi_cents: Long)

/** S28 input: a language-tagged document sighting per source. */
case class DocLang(doc_id: Long, ts: java.sql.Timestamp, lang: String,
  source: String)

/** S28 output: the live per-source language-mix snapshot — counts as a
  * canonical "lang:count" sorted join (scalar contract), entropy milli. */
case class MixSnapshot(source: String, n_langs: Long, total: Long,
  mix: String, entropy_milli: Long)

/** S38 output: per (source, batch) the word-n-gram novelty snapshot —
  * batch occurrences/types, types never seen before this batch, the
  * type-level novelty permille, and the running seen-type count. */
case class NoveltyRow(source: String, batch_grams: Long, batch_types: Long,
  novel_types: Long, novelty_permille: Long, seen_types: Long)

/** S39 input: one row of a UNION stream keyed by dimension key — either a
  * dimension UPDATE (`isDim = true`, `attr` carries the new attribute) or
  * a FACT to enrich (`isDim = false`, `value` carries the measure). */
case class DimOrFact(key: String, ts: java.sql.Timestamp, isDim: Boolean,
  attr: String, value: Double)

/** S39 output: the fact enriched with the dimension attribute current at
  * its position in the (ts, isDim)-ordered stream, plus the dimension
  * VERSION that served it (0 = no dimension row seen yet). */
case class EnrichedFact(key: String, ts: java.sql.Timestamp, value: Double,
  attr: String, dim_version: Long)

/** S23 input: one id sighting per group key. */
case class UserSeen(event_type: String, ts: java.sql.Timestamp,
  user_id: Long)

/** S23 output: per (key, batch) cardinality estimate — `n_est` null until
  * k distinct hashes have been seen. */
case class KmvEstimate(event_type: String, n_hashes: Long,
  n_est: Option[Long])

/** S23's per-key state: the k smallest distinct hashes, sorted ascending
  * and duplicate-free — canonical for any arrival order. */
case class KmvState(mins: Seq[Long])

/** S31's per-key session accumulator: count, value sum, max event-time
  * millis seen (the timer anchor — re-arming deletes `lastMs + gap`). */
case class SessAgg(n: Long, sum: Double, lastMs: Long)

/** S31 output: one closed session per (key, quiet gap), emitted when the
  * WATERMARK passes lastEvent + gap — never before. */
case class SessionClosed(slaveId: String, n_ticks: Long, sum_value: Double,
  last_ts: java.sql.Timestamp)

/** Emitted state transition from the keyed lifecycle operator. */
case class TaskTransition(slaveId: String, taskId: String, action: String)

/** S13 input: a digest-keyed document sighting. */
case class SeenDoc(doc_id: Long, digest: String)

/** S13 output: pass/drop decision per sighting. */
case class DedupDecision(digest: String, doc_id: Long, action: String)

/** S19 input: one pre-aggregated slot count per key (an S1-style windowed
  * count feeds this). */
case class SlotCount(key: String, slotMs: Long, n: Long)

/** S19 output: the CUSUM statistic after each slot. */
case class CusumAlert(key: String, slotMs: Long, n: Long, cusum: Long,
  drift: Boolean)

/** S20 input: one metric observation per key (micro-unit value). */
case class MetricPoint(key: String, tsMs: Long, valueMicro: Long)

/** S20 output: the dyadic-EWMA level after each observation. */
case class LevelUpdate(key: String, tsMs: Long, valueMicro: Long,
  ewmaMicro: Long)

/** S21 input: a raw attribution event (touch or conversion). */
case class TouchEvent(userId: Long, tsMs: Long, eventType: String,
  valueMicro: Long)

/** S21 output: one credited conversion. */
case class CreditedConversion(userId: Long, tsMs: Long, channel: String,
  valueMicro: Long)

/** S18 input: a user's funnel event. */
case class FunnelEvent(userId: Long, stage: String, tsMs: Long)

/** S18 output: one emitted row per stage completion. */
case class StageReached(userId: Long, stage: Int, stageName: String,
  tsMs: Long, sinceStartMs: Long)

/** S16 output: a document's place in its source's shard sequence. */
case class ShardAssign(source: String, doc_id: Long, n_tokens: Long,
  shard_seq: Long, start_tok: Long)

/** B-9 Structured Streaming operators (SURVEY.md §2 S1–S7). Every function
  * is a pure stream→stream transform usable on both streaming and batch
  * DataFrames, verified with MemoryStream in StreamingSpec.
  *
  * Scale posture (100 TB/day ingest): windowed aggregations shuffle once on
  * (window, key) with watermark-bounded state; dedup and lifecycle state are
  * keyed by slaveId (high-cardinality — even state distribution); the
  * envelope sink is a narrow projection inside foreachBatch with
  * per-batch-id idempotent commit (exactly-once per micro-batch).
  */
object Streams {

  /** S1 — tumbling-window rollup of the tick stream (per-interval per-slave
    * aggregate; root A1+A12). */
  def tumbling(ticks: DataFrame, window_ : String = "10 seconds",
      watermark: String = "30 seconds"): DataFrame =
    ticks.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("slaveId"))
      .agg(count(lit(1)).as("n_ticks"), sum("value").as("sum_value"),
        avg("value").as("avg_value"))
      .select(col("window.start").as("w_start"), col("slaveId"),
        col("n_ticks"), col("sum_value"), col("avg_value"))

  /** S2 — sliding window (30 s span, 10 s slide). */
  def sliding(ticks: DataFrame, span: String = "30 seconds",
      slide: String = "10 seconds", watermark: String = "1 minute"): DataFrame =
    ticks.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), span, slide), col("slaveId"))
      .agg(count(lit(1)).as("n_ticks"), sum("value").as("sum_value"))
      .select(col("window.start").as("w_start"), col("slaveId"),
        col("n_ticks"), col("sum_value"))

  /** S3 — session window per slave (gap-based). */
  def session(ticks: DataFrame, gap: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    ticks.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("slaveId"))
      .agg(count(lit(1)).as("n_ticks"), sum("value").as("sum_value"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("slaveId"),
        col("n_ticks"), col("sum_value"))

  /** S30 — session window with a PER-ROW dynamic gap: the gap duration is
    * an expression of the event (here: sources whose id carries a prefix
    * get a longer inactivity allowance), so one query sessionizes a mixed
    * population that a static gap would split or over-merge — the "VIP
    * keep-alive" shape (paid tiers, long-poll agents, batch uploaders).
    * Same state machinery as S3 (the gap changes how a row EXTENDS its
    * session, not what is buffered): watermark-bounded per-key session
    * state, merged on overlap, emitted once closed. The dynamic-gap
    * overload of `session_window` is the Spark 4 surface this scenario
    * exists to exercise; everything else is deliberately identical to S3
    * so the spec isolates the gap semantics. */
  def sessionDynamicGap(ticks: DataFrame, longPrefix: String = "vip",
      longGap: String = "30 seconds", shortGap: String = "10 seconds",
      watermark: String = "10 minutes"): DataFrame =
    ticks.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"),
          // string gaps: session_window casts them to CalendarInterval
          // (an ANSI INTERVAL literal is DayTimeIntervalType — rejected)
          when(col("slaveId").startsWith(longPrefix), lit(longGap))
            .otherwise(lit(shortGap))),
        col("slaveId"))
      .agg(count(lit(1)).as("n_ticks"), sum("value").as("sum_value"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("slaveId"),
        col("n_ticks"), col("sum_value"))

  /** S4 — watermarked aggregate where late data (older than the watermark)
    * is dropped; the tumbling rollup IS the watermark consumer, this thin
    * wrapper just makes the late-drop interval explicit for the spec. */
  def watermarked(ticks: DataFrame, lateness: String): DataFrame =
    tumbling(ticks, watermark = lateness)

  /** S5 — streaming dedup on (slaveId, ts) with watermark-bounded state
    * (root A15: at-most-one record per key; state expires with the
    * watermark instead of growing forever). */
  def dedup(ticks: DataFrame, watermark: String = "30 seconds"): DataFrame =
    ticks.withWatermark("ts", watermark)
      .dropDuplicates("slaveId", "ts")

  /** S6 — keyed lifecycle state: at most one live task per slave; a launch
    * on an occupied key is rejected (the reference Cluster panics on
    * duplicate insert, /root/reference/syscol/cluster.go:43-53 — an engine
    * must not crash, so the gate emits a rejection like scheduler.acceptOffer's
    * skip, /root/reference/syscol/scheduler.go:183-193); terminal statuses
    * remove the key (/root/reference/syscol/scheduler.go:150-160), making
    * the slave schedulable again. */
  val terminalStatuses: Set[String] =
    Set("finished", "failed", "killed", "lost", "error")

  def keyedLifecycle(events: Dataset[TaskEvent]): Dataset[TaskTransition] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.slaveId)
      .flatMapGroupsWithState[Option[TaskState], TaskTransition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (slaveId, evs, state: GroupState[Option[TaskState]]) =>
          // Micro-batch iterators carry no order guarantee — replay in
          // sequence order so lifecycle semantics are deterministic.
          val out = evs.toSeq.sortBy(_.seq).flatMap { e =>
            val current = state.getOption.flatten
            e.status match {
              case "launch" =>
                if (current.isDefined)
                  Seq(TaskTransition(slaveId, e.taskId, "rejected_duplicate"))
                else {
                  state.update(Some(TaskState(slaveId, e.taskId)))
                  Seq(TaskTransition(slaveId, e.taskId, "launched"))
                }
              case s if terminalStatuses(s) =>
                current match {
                  case Some(t) if t.taskId == e.taskId =>
                    state.update(None)
                    Seq(TaskTransition(slaveId, e.taskId, "removed"))
                  case _ =>
                    Seq(TaskTransition(slaveId, e.taskId, "ignored_unknown"))
                }
              case _ => // running etc: state unchanged
                Seq.empty
            }
          }
          out.iterator
      }
  }

  /** S6 (modern form) — the same keyed lifecycle on Spark 4's
    * `transformWithState` arbitrary-state API: one `ValueState[TaskState]`
    * per slave key, identical transition semantics to `keyedLifecycle`.
    * This is the forward path for custom streaming state (explicit state
    * variables, TTL, timers, RocksDB changelog checkpointing); requires the
    * RocksDB state store provider — StreamingSpec runs both formulations
    * through the same scenario and asserts identical transitions. */
  def keyedLifecycleTws(events: Dataset[TaskEvent]): Dataset[TaskTransition] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.slaveId)
      .transformWithState(new LifecycleProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** S13 — continuous-ingest dedup with a TTL'd seen-set: the production
    * posture when the seen-store must not grow without bound. First sight
    * of a digest passes; repeats within `ttlMs` of processing time drop;
    * the state store EVICTS the mark after the TTL, so a repeat after
    * expiry passes again. That eviction is the at-scale memory contract —
    * state size is O(unique keys per TTL window), not O(all history) —
    * and it is the store's job (transformWithState `TTLConfig` on the
    * RocksDB provider), not a hand-rolled timer per key. Complements S9,
    * whose at-rest store is meant to remember forever. */
  def dedupTtl(docs: Dataset[SeenDoc], ttlMs: Long): Dataset[DedupDecision] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.digest)
      .transformWithState(new TtlDedupProcessor(ttlMs),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** S16 — streaming token-budget shard assignment: the streaming twin of
    * `Packing.shardManifest`. Each arriving document takes its place in
    * its SOURCE's shard sequence — fluid fill at `budget` tokens, the
    * running total carried in one `ValueState[Long]` per source — so
    * training files keep filling across micro-batches and restarts
    * (the fill state checkpoints with the store). Keying by source is the
    * scale decision: ONE global sequence would funnel every document
    * through a single state key (a one-task bottleneck and a single hot
    * RocksDB instance); per-source sequences shard the state naturally
    * and downstream loaders interleave sources anyway. Rows inside a
    * batch assign in doc_id order so replays are deterministic. */
  def shardAssign(docs: Dataset[DocSourced],
      budget: Long): Dataset[ShardAssign] = {
    import docs.sparkSession.implicits._
    require(budget >= 1, s"budget must be >= 1, got $budget")
    docs.groupByKey(_.source)
      .transformWithState(new ShardAssignProcessor(budget),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** S23 — streaming KMV cardinality monitor: the streaming twin of
    * `q_kmv_distinct`. Each group key carries the k smallest distinct
    * 48-bit md5 hashes of the ids it has seen — a FIXED-SIZE state record
    * (k longs + a counter) per key no matter how many ids flow through,
    * which is the whole point: continuous distinct-user monitoring with
    * O(keys·k) state where exact distinct state grows without bound. The
    * hash family is the SAME md5 prefix the batch query uses (first 12
    * hex digits of md5(id as string)), so a streaming estimate equals the
    * batch estimate over the same ids — spec-asserted via a Spark-SQL md5
    * recompute, not a copy of this code. Emits one estimate row per
    * (key, batch): null until k distinct hashes exist, then
    * (k−1)·2⁴⁸ div h_k (the batch query's pure-integer estimator). */
  def kmvDistinct(rows: Dataset[UserSeen], k: Int): Dataset[KmvEstimate] = {
    import rows.sparkSession.implicits._
    require(k >= 2, s"k must be >= 2, got $k")
    rows.groupByKey(_.event_type)
      .transformWithState(new KmvProcessor(k),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** S27 — continuous per-source exemplar sample: the streaming twin of
    * `q_sample_stratified` (exact-quota content-hash sampling). Each
    * source key maintains the k documents with the SMALLEST md5(text) in
    * a `ListState` — the deterministic "reservoir": membership is a pure
    * content function (the k-min set over everything seen), so the live
    * sample equals the batch stratified sample over the same prefix,
    * replays cannot change it, and a later document with a smaller hash
    * evicts the current maximum. State is exactly ≤ k small records per
    * source — the always-fresh inspection sample a curation dashboard
    * reads without scanning the corpus. Emits the full current sample per
    * (source, batch) so the sink always holds a complete snapshot. */
  def exemplarSample(docs: Dataset[DocSourced], k: Int): Dataset[ExemplarRow] = {
    import docs.sparkSession.implicits._
    require(k >= 1, s"k must be >= 1, got $k")
    docs.groupByKey(_.source)
      .transformWithState(new ExemplarProcessor(k),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** S28 — running source-mix monitor: per source key a
    * `MapState[lang → count]` accumulates the language mix over the WHOLE
    * stream (the unwindowed RUNNING distribution, where S25's PSI scores
    * per-window snapshots), emitting after each batch the live mix size,
    * total, per-lang counts and the Shannon entropy of the mix in
    * milli-nats — the "is this source's language composition drifting"
    * number a mixture plan re-check reads. MapState is the right store
    * primitive: per-lang counters update point-wise (one key read + one
    * write per arriving lang) instead of rewriting a whole record, and
    * state is bounded by the language cardinality per source. Entropy is
    * one deterministic double expression over exact integer counts,
    * milli-rounded — replays reproduce it exactly because the counts
    * do. */
  def sourceMixMonitor(docs: Dataset[DocLang]): Dataset[MixSnapshot] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .transformWithState(new MixProcessor(),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** S39 — streaming dimension enrichment: facts joined against a MUTABLE
    * dimension held in keyed state — the streaming half of `q_scd2` and
    * the third join shape beside the watermark-bounded stream-stream
    * matrix (S8/S17/S29) and the static-broadcast gate (S26): here the
    * "right side" is a dimension whose rows KEEP CHANGING while facts
    * flow, so neither a broadcast (stale) nor a stream-stream join
    * (facts must not pair with FUTURE dimension versions) expresses it.
    * One union stream of dimension updates and facts, keyed by the
    * dimension key; per key a single `ValueState[(attr, version)]`.
    * Within a batch rows apply in (ts, facts-before-dims-on-ties) order;
    * each fact emits with the attribute and version current AT ITS
    * POSITION — an arrival-order (processing-time) enrichment, the
    * production cache-lookup pattern. Facts on a key with no dimension
    * yet emit `attr = "__unknown__", version = 0` and are NOT
    * retro-corrected when the dimension arrives (emitted rows are
    * immutable; the bi-temporal repair is the batch `q_scd2`'s as-of
    * join). State is ONE small record per dimension key — bounded by
    * dimension cardinality, never by fact volume. */
  def dimensionEnrich(rows: Dataset[DimOrFact]): Dataset[EnrichedFact] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.key)
      .transformWithState(new DimEnrichProcessor(),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** S38 — streaming corpus-novelty monitor: per source key, the share of
    * this batch's word n-gram TYPES never seen in the stream before — the
    * continuous twin of `q_novelty`/`q_distinct_ngrams`' diversity
    * readout, and the first-line crawl-health alarm: a source whose
    * novelty collapses toward zero is re-crawling itself (a loop or a
    * mirror), one pinned near 1000 permille forever is likely noise.
    * `MapState[shingle → 1]` is the seen-set (string keys — exact, no
    * collision caveat); a `ValueState` counter carries the running
    * seen-type count so emitting NEVER iterates the store (unlike the
    * bounded-cardinality MixProcessor walk, the shingle vocabulary is
    * Heaps-bounded but large — the same store-scale class as the S9/S15
    * digest stores, which is the monitor's documented cost). Novelty is
    * SET-level (types, not occurrences), so the emitted row is a pure
    * order-independent function of the observed prefix — replays and
    * restarts reproduce it exactly. */
  def noveltyMonitor(docs: Dataset[DocSourced], n: Int = 3)
      : Dataset[NoveltyRow] = {
    import docs.sparkSession.implicits._
    require(n >= 1, s"shingle width must be >= 1, got $n")
    docs.groupByKey(_.source)
      .transformWithState(new NoveltyProcessor(n),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** S36 — streaming bucket-histogram quantile monitor: the continuous
    * twin of `q_quantile_grid`, built from the same insight that makes
    * the batch two-phase rank scale ([[graft.operators.Ranks]]): a
    * MONOTONE value bucketing turns order statistics into bounded-state
    * prefix counting. Per group one `MapState[bucket → count]`
    * (bucket = floorDiv(value, width) — well-defined for negatives);
    * after every micro-batch the monitor emits, for each requested
    * percentile, the type-1 position ⌈p·n/100⌉ and the inclusive value
    * bounds of the bucket straddling it — the exact quantile bracketed
    * to the monitor's resolution. State is O(value domain / width) per
    * group REGARDLESS of stream length — the deterministic,
    * replay-stable alternative to approximate quantile sketches when
    * the value domain is bounded (prices, latencies, sizes): counts are
    * order-independent, so the emitted rows are a pure function of the
    * observed prefix. The batch twin goes one step further and picks
    * the exact value inside the straddling bucket with one bounded
    * window; on a NON-NEGATIVE value domain the two agree on the bucket
    * by construction (same counts, same positions — the spec pins it).
    * Negative observations are well-defined HERE via floorDiv (bounds
    * stay width-aligned), but a batch twin bucketing with Spark's
    * truncating `div` widens its zero-straddling bucket — match the
    * bucketing function before comparing the two on signed domains. */
  def quantileMonitor(obs: Dataset[ValObs], bucketWidth: Long,
      ps: Seq[Int]): Dataset[QuantileRow] = {
    import obs.sparkSession.implicits._
    require(bucketWidth >= 1, s"need bucketWidth >= 1, got $bucketWidth")
    require(ps.nonEmpty && ps.forall(p => p >= 1 && p <= 100),
      s"percentiles must be in [1,100], got $ps")
    obs.groupByKey(_.grp)
      .transformWithState(new QuantileProcessor(bucketWidth, ps),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** S37 — streaming inter-event gap quantiles: the continuous twin of
    * `q_gap_quantiles`, composed from TWO CHAINED keyed stateful
    * operators (Spark 4 multiple-stateful-operators, both
    * `transformWithState`): a USER-keyed gap extractor — one
    * `ValueState[Long]` holding the user's last event micros; each
    * arrival emits its wait attributed to ITS event type and advances
    * the state — feeding the S36 bucket-histogram quantile monitor
    * re-keyed by EVENT TYPE. The re-key between the two states is the
    * point: the "previous event" is per user (any type), the quantile
    * population is per type (across users) — no single keying serves
    * both, so the composition is the operator. Rows inside a batch
    * process (ts, event_id)-sorted per user, so replays are
    * deterministic; state is one long per active user plus the S36
    * bounded bucket map per type. */
  def gapQuantileMonitor(events: Dataset[TypedEvent], bucketWidth: Long,
      ps: Seq[Int]): Dataset[QuantileRow] = {
    import events.sparkSession.implicits._
    val gaps = events.groupByKey(_.user_id)
      .transformWithState(new GapProcessor(),
        TimeMode.ProcessingTime(), OutputMode.Append())
    quantileMonitor(gaps, bucketWidth, ps)
  }

  /** S18 — streaming funnel progression: the streaming twin of
    * `graft.operators.Funnel.funnelStages`. Each user key carries its
    * funnel position (stage index, last stage time, journey start) in ONE
    * `ValueState`; an arriving event advances the funnel iff it is the
    * NEXT expected stage strictly AFTER the previous one — the same
    * strict-after contract as the batch operator — and each advance emits
    * a `StageReached` row immediately (conversion dashboards read stage
    * counts live instead of waiting for the nightly batch). Equivalent to
    * the batch funnel when events arrive in event-time order; within a
    * micro-batch rows process ts-sorted so replays are deterministic.
    * State is one fixed-size record per user — O(active users),
    * corpus-independent. */
  def funnelProgress(events: Dataset[FunnelEvent],
      stages: Seq[String]): Dataset[StageReached] = {
    import events.sparkSession.implicits._
    require(stages.size >= 2 && stages.distinct.size == stages.size,
      s"need >= 2 distinct stages, got $stages")
    events.groupByKey(_.userId)
      .transformWithState(new FunnelProcessor(stages),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** S19 — streaming CUSUM rate monitor: the streaming twin of
    * `graft.operators.Profile.cusumDrift`, continuous form. Where the
    * batch operator subtracts the realized mean (known after the fact),
    * the monitor tracks deviation from a DECLARED reference rate —
    * production CUSUM's standard form (Page 1954): per key one
    * `ValueState[Long]` carries S, each slot count updates
    * `S := max(0, S + (n − expected))`, and `drift` fires while
    * S > threshold. A sustained small excess accumulates across
    * micro-batches where any per-slot threshold stays silent; a return
    * to rate drains S back toward zero. Upstream is an S1-style windowed
    * count; state is one long per key. Slots inside a batch process in
    * slot order so replays are deterministic. */
  def cusumMonitor(counts: Dataset[SlotCount], expectedPerSlot: Long,
      threshold: Long): Dataset[CusumAlert] = {
    import counts.sparkSession.implicits._
    require(expectedPerSlot >= 0 && threshold > 0,
      s"need expected >= 0, threshold > 0; got $expectedPerSlot, $threshold")
    counts.groupByKey(_.key)
      .transformWithState(new CusumProcessor(expectedPerSlot, threshold),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** S20 — streaming dyadic-EWMA level tracker: the streaming twin of
    * `graft.operators.Temporal.dyadicEwma`, in its natural recursive
    * form — `e := floorDiv(e + v, 2)` per observation (α=½), one
    * `ValueState[Long]` per key. Where the batch operator re-derives the
    * level from the last `depth` points every run, streaming state IS
    * the recursion, so each point costs O(1) and the level is available
    * after every micro-batch — the live smoothed read of the reference's
    * counter stream (metrics_reporter's per-tick values). floorDiv keeps
    * negative levels exact and replay-deterministic; points inside a
    * batch apply in (ts, value) order for the same reason. */
  def levelTracker(points: Dataset[MetricPoint]): Dataset[LevelUpdate] = {
    import points.sparkSession.implicits._
    points.groupByKey(_.key)
      .transformWithState(new LevelProcessor(),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** S21 — streaming last-touch attribution: the continuous twin of
    * `graft.operators.Temporal.lastTouchAttribution`. One
    * `ValueState[LastTouch]` per user holds the newest touch; a
    * conversion reads it and emits its credited channel immediately
    * ('direct' when absent or older than `windowMs`) — the batch
    * operator's at-or-before contract (a touch at the conversion's exact
    * timestamp is credited; in-batch rows apply touches-first at equal
    * ts). State is one small record per user, corpus-independent. */
  def touchAttribution(events: Dataset[TouchEvent], touchTypes: Set[String],
      conversionType: String, windowMs: Long): Dataset[CreditedConversion] = {
    import events.sparkSession.implicits._
    require(touchTypes.nonEmpty && !touchTypes.contains(conversionType),
      s"touch types must be non-empty and exclude '$conversionType'")
    require(windowMs > 0, s"windowMs must be > 0, got $windowMs")
    events.groupByKey(_.userId)
      .transformWithState(
        new AttributionProcessor(touchTypes, conversionType, windowMs),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** S14 — launch-timeout watchdog: a launched task that reaches no
    * terminal status within `timeoutMs` of processing time emits
    * `timed_out` via a STATE-STORE TIMER (`handleExpiredTimer`) — the
    * absence-of-event detection a purely event-driven operator cannot
    * express (no later event ever arrives to react to). This is the
    * streaming analog of the reference scheduler's reconciliation concern
    * (tasks that vanish without a status update,
    * /root/reference/syscol/scheduler.go:150-176): the reference leans on
    * Mesos to deliver terminal statuses; a collector on raw streams needs
    * the watchdog. Timers live in the state store (RocksDB), so they
    * survive restarts like the value state does. */
  def launchWatchdog(events: Dataset[TaskEvent],
      timeoutMs: Long): Dataset[TaskTransition] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.slaveId)
      .transformWithState(new TimeoutWatchdog(timeoutMs),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** S31 — event-time-timer session finalization: the explicit-timer twin
    * of S3's `session_window`, closing a key's session only when the
    * WATERMARK passes lastEvent + gap (see [[EventTimeSessionizer]]).
    * Completes the timer matrix: S14 proves absence-detection on
    * PROCESSING time (wall-clock stalls), this proves it on EVENT time
    * (stream-time quiet gaps — replayable, backfill-safe: rerunning
    * yesterday's stream closes the same sessions at the same instants,
    * where a processing-time gap detector would close everything
    * immediately). */
  def sessionizeEventTime(ticks: Dataset[Tick], gapMs: Long,
      watermark: String = "10 seconds"): Dataset[SessionClosed] = {
    import ticks.sparkSession.implicits._
    require(gapMs > 0, s"gapMs must be > 0, got $gapMs")
    ticks.withWatermark("ts", watermark)
      .groupByKey(_.slaveId)
      .transformWithState(new EventTimeSessionizer(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** S32 — bounded backfill over a file-source directory: the
    * "catch up on yesterday's files, then STOP" shape
    * (`Trigger.AvailableNow` drives it in the spec). The stream is a
    * stateless projection over a parquet directory source, so the
    * interesting semantics live entirely in the trigger + checkpoint
    * contract: one invocation drains everything present at start —
    * honoring `maxFilesPerTrigger` across MULTIPLE micro-batches, the
    * difference from the deprecated Trigger.Once — then terminates; a
    * later invocation on the same checkpoint consumes ONLY files that
    * arrived since, exactly once. At 100 TB this is the nightly
    * ingest-catchup: rate-limited (bounded per-batch memory), resumable,
    * and idempotent under the per-batchId sink discipline (S7). */
  def backfillTicks(spark: SparkSession, srcDir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    require(maxFilesPerTrigger > 0,
      s"maxFilesPerTrigger must be > 0, got $maxFilesPerTrigger")
    spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Tick].schema)
      // a SOURCE option: rate limiting belongs to the reader, a sink
      // option of the same name is silently ignored
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(srcDir)
      .select(col("slaveId"), col("ts"), col("value"))
  }

  /** A1 — fixed-interval tick source: the streaming analog of the
    * reference's 1 s reporting loop
    * (/root/reference/syscol/metrics_reporter.go:75-105). Each rate-source
    * row becomes one enveloped tick for a synthetic slave; in production
    * the same shape reads a replayed snapshot capture or a Kafka topic. */
  def rateTicks(spark: SparkSession, rowsPerSecond: Int = 1,
      nSlaves: Int = 4): DataFrame = {
    val raw = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
    rateToTicks(raw, nSlaves)
  }

  /** The rate→tick projection, separated so its schema contract is testable
    * on a batch DataFrame (the rate source itself is wall-clock-driven). */
  def rateToTicks(raw: DataFrame, nSlaves: Int): DataFrame =
    raw.select(
      concat(lit("slave-"), pmod(col("value"), lit(nSlaves))).as("slaveId"),
      col("timestamp").as("ts"),
      (col("value") % 100).cast("double").as("value"),
      concat(lit("{\"seq\": "), col("value"), lit("}")).as("props"))

  /** A1 (replay) — stream pre-captured snapshots from a parquet directory:
    * the offline twin of the live poll loop. Spark's file source tails the
    * directory (new files become micro-batches), so a capture can be
    * replayed through exactly the envelope/sink pipeline the live stream
    * uses. `maxFilesPerTrigger=1` paces the replay file-by-file. */
  def replayEvents(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
      .select(
        concat(lit("slave-"), col("user_id")).as("slaveId"),
        col("ts"), col("value"), col("props"))

  /** S8 — watermark-bounded stream-stream join: each tick joined to task
    * lifecycle events for the same slave within a ±30 s event-time band.
    * Both sides carry watermarks so the join state is bounded — the
    * unbounded-state stream join is exactly what breaks at 100 TB/day. */
  def streamStreamJoin(ticks: DataFrame, events: DataFrame): DataFrame = {
    val tw = ticks.withWatermark("ts", "30 seconds")
      .select(col("slaveId"), col("ts").as("tick_ts"), col("value"))
    val ew = events.withWatermark("ev_ts", "30 seconds")
      .select(col("slaveId").as("ev_slaveId"), col("ev_ts"), col("status"))
    tw.join(ew,
      col("slaveId") === col("ev_slaveId") &&
        col("tick_ts") >= col("ev_ts") - expr("INTERVAL 30 SECONDS") &&
        col("tick_ts") <= col("ev_ts") + expr("INTERVAL 30 SECONDS"))
      .select(col("slaveId"), col("tick_ts"), col("value"), col("ev_ts"),
        col("status"))
  }

  /** S17 — watermark-bounded LEFT OUTER stream-stream join: each
    * impression joined to a conversion for the same slave inside the
    * [impression, impression + 30 s] attribution window; an impression
    * with NO conversion still emits (null-padded) — but only once the
    * watermark proves no match can still arrive, which is the semantic
    * difference from S8's inner join: the unmatched row is an
    * absence-of-event FACT, and it is only a fact after event time has
    * provably moved past the window. The "sent but never acknowledged"
    * / "shown but never clicked" detector. Both watermarks bound the
    * buffered state exactly as in S8; the one-sided time band keeps the
    * right-side buffer to 30 s + lateness of data per key. */
  def streamStreamLeftJoin(impressions: DataFrame, convs: DataFrame): DataFrame = {
    val iw = impressions.withWatermark("ts", "30 seconds")
      .select(col("slaveId"), col("ts").as("imp_ts"), col("value"))
    val cw = convs.withWatermark("cv_ts", "30 seconds")
      .select(col("slaveId").as("cv_slaveId"), col("cv_ts"), col("status"))
    iw.join(cw,
      col("slaveId") === col("cv_slaveId") &&
        col("cv_ts") >= col("imp_ts") &&
        col("cv_ts") <= col("imp_ts") + expr("INTERVAL 30 SECONDS"),
      "left_outer")
      .select(col("slaveId"), col("imp_ts"), col("value"), col("cv_ts"),
        col("status"))
  }

  /** S29 — watermark-bounded FULL OUTER stream-stream join: two-feed
    * reconciliation (sent-message ticks vs acknowledgement events). A pair
    * inside the ±30 s band emits joined; a send with no ack AND an ack
    * with no send each emit null-padded — but, as in S17, only once the
    * watermark proves no partner can still arrive: BOTH unmatched
    * emission modes are absence-of-event facts, and full outer is the one
    * join mode where absence on EITHER side is the signal (lost message
    * vs phantom ack — operationally different pages). Completes the
    * stream-stream join-mode matrix: S8 inner, S17 left-outer, S29 full.
    * The symmetric time band plus both watermarks bound both state
    * buffers to band + lateness per key, exactly as in S8 — the join
    * mode changes what's EMITTED at eviction, not what's buffered. */
  def streamStreamFullJoin(sends: DataFrame, acks: DataFrame): DataFrame = {
    val sw = sends.withWatermark("ts", "30 seconds")
      .select(col("slaveId"), col("ts").as("snd_ts"), col("value"))
    val aw = acks.withWatermark("ack_ts", "30 seconds")
      .select(col("slaveId").as("ack_slaveId"), col("ack_ts"), col("status"))
    sw.join(aw,
      col("slaveId") === col("ack_slaveId") &&
        col("ack_ts") >= col("snd_ts") - expr("INTERVAL 30 SECONDS") &&
        col("ack_ts") <= col("snd_ts") + expr("INTERVAL 30 SECONDS"),
      "full_outer")
      // one reconciliation key regardless of which side is null-padded
      .select(coalesce(col("slaveId"), col("ack_slaveId")).as("key"),
        col("snd_ts"), col("value"), col("ack_ts"), col("status"))
  }

  /** S9 — continuous-ingest dedup: the streaming twin of
    * `graft.operators.Dedup.incremental`. New documents stream in;
    * within-stream repeats are dropped by event-time-bounded digest state
    * (`dropDuplicatesWithinWatermark` — state expires with the watermark
    * instead of accumulating every digest ever seen), and anything whose
    * content digest already exists in the STATIC store (yesterday's corpus)
    * is removed by a stream-static anti-join — stateless on the stream
    * side; the store is pruned to its digest column before the join. At
    * 100 TB/day this is the ingest-frontier dedup: bounded state for the
    * hot window, the at-rest store handled by the batch operator. */
  def incrementalDedup(docs: DataFrame, store: DataFrame,
      textCol: String = "text", tsCol: String = "ts",
      watermark: String = "30 seconds"): DataFrame =
    docs.withColumn("content_hash", sha2(col(textCol), 256))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")
      // ONE digest definition shared with the batch twin — see
      // Dedup.digests
      .join(graft.operators.Dedup.digests(store, textCol),
        Seq("content_hash"), "left_anti")

  /** S10 — windowed quality-drift monitor: the streaming twin of the batch
    * quality gate. Arriving documents are scored by the SAME composite
    * quality formula as q_quality_score (one definition — if the recipe
    * changes, batch and stream change together), aggregated per (tumbling
    * window, source), and each closed window carries an alert flag when its
    * mean score sinks below `alertBelow` — the "source went bad mid-crawl"
    * pager signal. Watermark-bounded state, one shuffle on (window,
    * source); the scoring projection is stateless and codegen'd. */
  def qualityMonitor(docs: DataFrame, window_ : String = "10 seconds",
      watermark: String = "30 seconds",
      alertBelow: Double = 0.45): DataFrame =
    docs
      .withColumn("q", graft.functions.TextFunctions.qualityScore(col("text")))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("source"))
      .agg(count(lit(1)).as("n_docs"), avg("q").as("mean_q"),
        min("q").as("min_q"))
      .select(col("window.start").as("w_start"), col("source"),
        col("n_docs"), col("mean_q"), col("min_q"),
        (col("mean_q") < alertBelow).as("alert"))

  /** S26 build step — materialize the decontamination gate ONCE: the eval
    * benchmark's distinct word n-gram shingles land as an at-rest parquet
    * store (the exact-verify side) and the ~1.2-byte/item Bloom sketch
    * over them comes back as a VALUE to ride every future micro-batch as
    * a literal (the production shape: the sketch is built at benchmark
    * registration time, never per batch). */
  def buildDecontaminationGate(eval: DataFrame, textCol: String, n: Int,
      gateDir: String, expectedItems: Long = 1000000L,
      numBits: Long = 8000000L): Array[Byte] = {
    val shingles = eval.select(explode(array_distinct(
        graft.functions.TextFunctions.wordShingles(col(textCol), n))).as("g"))
      .distinct()
    shingles.write.mode("overwrite").parquet(s"$gateDir/shingles")
    eval.sparkSession.read.parquet(s"$gateDir/shingles")
      .agg(graft.functions.SketchFunctions
        .bloomFilterAgg(xxhash64(col("g")), expectedItems, numBits).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** S26 — streaming ingest decontamination, the continuous twin of
    * `q_decontaminate_bloom`: each micro-batch of incoming documents is
    * shingled, gated by the PRE-BUILT Bloom literal (no join, a codegen
    * filter — false positives only), survivors are verified EXACTLY
    * against the at-rest shingle store (left_semi — kills every false
    * positive, so the flag set is bit-identical to the batch operator's),
    * and the batch's contaminated ids land as a batch-id-keyed delta
    * (overwrite mode ⇒ a replayed batch rewrites its own delta, the
    * S15/S22 exactly-once pattern). Cost per batch ∝ batch shingles; the
    * store is read only by the gated survivors' semi-join. */
  def decontaminateSinkBatch(gateDir: String, bloom: Array[Byte], n: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    val flagged = batch
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.TextFunctions.wordShingles(col("text"), n))).as("g"))
      .filter(graft.functions.SketchFunctions
        .mightContain(lit(bloom), xxhash64(col("g"))))
      .join(batch.sparkSession.read.parquet(s"$gateDir/shingles"),
        Seq("g"), "left_semi")
      .select("doc_id").distinct()
    // Write unconditionally: an `isEmpty` pre-check would execute the full
    // gating plan (shingle explode + Bloom filter + semi-join) TWICE per
    // batch with flagged rows, and an empty delta is harmless — the probe
    // side unions deltas by name and replay-overwrite stays symmetric.
    flagged.write.mode("overwrite")
      .parquet(s"$gateDir/contaminated/delta=$batchId")
  }

  /** S25 — streaming PSI drift monitor, the continuous twin of `q_psi`
    * (`Profile.psiByGroup`): per closed tumbling window and group key, the
    * Population Stability Index of that window's power-of-two bucket
    * distribution against a STATIC reference distribution (yesterday's
    * batch profile — the production posture: the reference comes from the
    * at-rest table, the stream is today), Laplace-smoothed exactly like
    * the batch twin, alert when PSI exceeds the threshold (industry rule
    * of thumb: 0.1 watch, 0.2 act — default alerts at 0.2). Buckets
    * missing from the window still contribute their smoothed term through
    * the reference-driven fold — that asymmetry IS the drift signal.
    *
    * Shape: TWO chained event-time aggregations in append mode (Spark 4
    * multiple-stateful-operator support) — (window, grp, bucket) counts,
    * then (window, grp) folding the ≤ k observed buckets into a map; the
    * PSI itself is a stateless projection folding over the BROADCAST
    * reference bucket list (k ≈ dozens — literal-array sized). State per
    * open window is O(groups × k), corpus-independent. The reference is
    * collected driver-side once at plan build: it is the bounded output
    * of a batch profile (bucket count ≈ 64 at int64 width), never corpus
    * rows. */
  def psiMonitor(values: Dataset[ValSeen], reference: DataFrame,
      window_ : String = "10 seconds", watermark: String = "30 seconds",
      alertAboveMicro: Long = 200000L): DataFrame = {
    val refRows = reference
      .select(col("bucket_hi").cast("long"), col("r").cast("long"))
      .orderBy("bucket_hi").collect()
    require(refRows.nonEmpty, "reference distribution is empty")
    // The reference feeds a map() literal whose build fails at RUNTIME
    // with DUPLICATE_MAP_KEY (default mapKeyDedupPolicy=EXCEPTION) — far
    // from the cause. Validate here with a named error instead: a profile
    // emitting duplicate bucket rows is a caller bug, not a monitor bug.
    val dupBuckets = refRows.groupBy(_.getLong(0))
      .collect { case (b, rs) if rs.length > 1 => b }
    require(dupBuckets.isEmpty,
      s"reference distribution has duplicate bucket_hi rows: " +
        s"${dupBuckets.toSeq.sorted.mkString(", ")} — aggregate the " +
        "reference to one row per bucket before passing it to psiMonitor")
    val k = refRows.length
    val nAll = refRows.map(_.getLong(1)).sum
    val refEntries = map(refRows.flatMap(r =>
      Seq(lit(r.getLong(0)), lit(r.getLong(1)))): _*)
    val refBuckets = array(refRows.map(r => lit(r.getLong(0))): _*)
    val wb = values.toDF()
      .filter(col("v") > 0)
      .withColumn("bucket_hi", greatest(lit(16L),
        expr("shiftleft(CAST(1 AS BIGINT), length(bin(v - 1)))")))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("grp"), col("bucket_hi"))
      .agg(count(lit(1)).as("c"))
    wb.groupBy(window(window_time(col("window")), window_), col("grp"))
      .agg(sum("c").as("n_g"),
        map_from_entries(collect_list(struct(col("bucket_hi"), col("c"))))
          .as("obs"))
      .withColumn("term_sum_pico", aggregate(refBuckets, lit(0L),
        (acc, b) => {
          val cObs = coalesce(element_at(col("obs"), b), lit(0L))
          val p = (cObs.cast("double") + 1.0) /
            (col("n_g").cast("double") + k)
          val q = (element_at(refEntries, b).cast("double") + 1.0) /
            (lit(nAll.toDouble) + k)
          acc + round((p - q) * log(p / q) * lit(1e12), 0).cast("long")
        }))
      // a window can land values in buckets the reference never saw (a new
      // extreme — the strongest drift evidence there is): fold those in
      // with the r = 0 smoothed reference mass instead of dropping them
      .withColumn("term_sum_pico", col("term_sum_pico") +
        aggregate(
          filter(map_keys(col("obs")),
            b => element_at(refEntries, b).isNull),
          lit(0L),
          (acc, b) => {
            val p = (element_at(col("obs"), b).cast("double") + 1.0) /
              (col("n_g").cast("double") + k)
            val q = lit(1.0) / (lit(nAll.toDouble) + k)
            acc + round((p - q) * log(p / q) * lit(1e12), 0).cast("long")
          }))
      .select(col("window.start").as("w_start"), col("grp"),
        col("n_g"),
        expr("CAST(round(CAST(term_sum_pico AS DOUBLE) / 1000000.0) AS BIGINT)")
          .as("psi_micro"))
      .withColumn("alert", col("psi_micro") > alertAboveMicro)
  }

  /** S11 — windowed trending tokens: the Misra–Gries heavy-hitter sketch
    * (the engine's custom merge-safe `TypedImperativeAggregate`) running
    * INSIDE a watermarked tumbling window — per closed window, the ≤
    * `capacity` candidate tokens guaranteed to include everything above
    * the 1/(capacity+1) frequency bound. Fixed sketch memory per open
    * window regardless of token cardinality — the "what is trending this
    * minute" monitor a 100 TB/day ingest can actually afford (an exact
    * per-window wordcount would hold the window's whole vocabulary in
    * state). */
  def trendingTokens(docs: DataFrame, window_ : String = "10 seconds",
      watermark: String = "30 seconds", capacity: Int = 5): DataFrame =
    docs
      .select(col("ts"), explode(
        graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_))
      .agg(count(lit(1)).as("n_tokens"),
        graft.functions.SketchFunctions
          .misraGriesCandidates(col("tok"), capacity).as("candidates"))
      .select(col("window.start").as("w_start"), col("n_tokens"),
        col("candidates"))

  /** S7 — foreachBatch envelope sink: serialize the micro-batch through the
    * envelope path and commit it as one parquet batch directory (idempotent
    * per batchId — re-delivered batches overwrite their own directory,
    * giving exactly-once output per micro-batch; root A10). */
  def envelopeSinkBatch(outDir: String, transform: String = "none")(
      batch: DataFrame, batchId: Long): Unit = {
    val env = batch.select(
      col("slaveId").as("SlaveID"),
      concat(lit("host-"), col("slaveId")).as("Hostname"),
      lit(5051).as("Port"),
      lit("prod").as("Namespace"),
      (unix_micros(col("ts")) * 1000).as("Timestamp"),
      col("props"))
    val value = transform match {
      case "none" => EnvelopeSink.toJsonValue.cast("binary")
      case "avro" => EnvelopeSink.toAvroValue
      case other =>
        throw new IllegalArgumentException(s"unknown transform: $other")
    }
    env.select(col("SlaveID").cast("binary").as("key"), value.as("value"))
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
  }

  /** S12 — the reference's WHOLE core loop, live: each micro-batch of due
    * ticks fans out one EXECUTOR-side HTTP fetch per distinct slave (the
    * A1 poll cadence driving the A2 snapshot scan), the fetched JSON body
    * rides the A4 envelope stamped with the tick's event time, serializes
    * through the A5/A6 transform dispatch, and commits keyed bytes
    * idempotently per batchId (A9/A10) — syscol's poll → envelope →
    * produce loop (/root/reference/syscol/metrics_reporter.go:75-105)
    * rebuilt on micro-batches. A failed fetch still ships its tick with
    * the empty `{}` payload (the scan's error posture), so a dead slave
    * never stalls the stream. `toTarget` maps a slaveId to its snapshot
    * endpoint; `fetch` defaults to the real bounded-timeout HTTP GET, so
    * the default pipeline touches real sockets. */
  def pollEnvelopeSinkBatch(outDir: String,
      toTarget: String => SnapshotTarget, transform: String = "none",
      fetch: String => String = HttpSnapshotScan.httpGet())(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val ticks = batch.select(col("slaveId"), col("ts"))
    val targets = ticks.select("slaveId").distinct().as[String].map(toTarget)
    val fetched = HttpSnapshotScan.scan(targets, fetch)
      .select(col("slaveId"), col("hostname"), col("port"), col("body"))
    val env = ticks.join(fetched, "slaveId").select(
      col("slaveId").as("SlaveID"),
      col("hostname").as("Hostname"),
      col("port").as("Port"),
      lit("prod").as("Namespace"),
      (unix_micros(col("ts")) * 1000).as("Timestamp"),
      col("body").as("props"))
    val value = transform match {
      case "none" => EnvelopeSink.toJsonValue.cast("binary")
      case "avro" => EnvelopeSink.toAvroValue
      case other =>
        throw new IllegalArgumentException(s"unknown transform: $other")
    }
    env.select(col("SlaveID").cast("binary").as("key"), value.as("value"))
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
  }

  /** S15 — streaming NEAR-dedup against a GROWING at-rest MinHash
    * signature store: each micro-batch of documents is checked against
    * every PRIOR batch's signatures (band join + exact shingle-Jaccard
    * verify — the same contract as the batch twin
    * `Dedup.incrementalNearAgainst`), then appends its OWN signatures as
    * a new store delta, so later batches see earlier ones. The index
    * maintenance a production near-dedup ingest actually runs: the batch
    * is signed (shingled and minhashed) once and materialised once — as
    * its own store delta, written first — and the probe reads its batch
    * side back from that delta; the store contributes its at-rest
    * signatures in one scan that is never shuffled — the batch's band
    * rows, which the trigger bounds, are the broadcast side of the band
    * join.
    *
    * Exactly-once discipline (the `pollEnvelopeSinkBatch` pattern): both
    * the decision output and the store delta are KEYED BY BATCH ID and
    * written with overwrite, and the store read EXCLUDES deltas ≥ the
    * current batch id — so writing the delta before the probe never lets
    * a batch match itself, and a replayed batch rewrites its own delta and
    * re-reads exactly the store state it saw the first time, instead of
    * matching against its own signatures or duplicating them. State is
    * at rest, not in the state store: restart needs no
    * changelog replay, and the store doubles as the batch pipeline's
    * signature store (one format, both twins). */
  def nearDedupSinkBatch(storeDir: String, outDir: String,
      maxDistance: Double)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val delta = s"$storeDir/delta=$batchId"
    val signed = Dedup.signatureStore(batch, "text", "doc_id")
    signed.write.mode("overwrite").parquet(delta)
    // the schema is known: reading the delta back needs no inference job
    val own = spark.read.schema(signed.schema).parquet(delta)
    // committed-snapshot read through the manifest-aware store reader:
    // folded base + live deltas, both restricted to delta < batchId — a
    // replayed batch sees exactly the store state it saw the first time
    // WHETHER OR NOT a compaction ran in between (the folded base keeps
    // per-row delta ids precisely so this exclusion survives folding)
    val existing = graft.operators.DeltaStore
      .snapshotPureDelta(spark, storeDir, uptoExclusive = batchId)
      .map(_.select("doc", "shingles", "bk"))
      .getOrElse(own.limit(0)) // first delta: an empty store, same format
    Dedup.nearProbe(batch.select("doc_id"), own, existing, maxDistance,
        broadcastBatch = true)
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
  }

  /** S22 — continuous ANN index maintenance: each micro-batch of new
    * vectors is assigned and residual-encoded with the IVF-PQ layout's
    * STORED quantizers (no re-fit — the [[graft.operators.Similarity
    * .appendIvfPqLayout]] contract) and lands as a batch-id-keyed delta
    * under `$layoutDir/codes_deltas/delta=<batchId>`, overwrite-mode, so
    * a replayed batch rewrites its own delta instead of duplicating codes
    * (the S15 exactly-once pattern; the base `codes` files are never
    * touched). `Similarity.probeIvfPqLayoutAll` serves base + deltas;
    * folding deltas into the cell-partitioned base is the rarer
    * compaction decision, exactly like S15's signature-store deltas. */
  def annIngestSinkBatch(layoutDir: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val nv = batch.select("vec_id", "embedding")
    // an empty replay/heartbeat batch writes no delta (encode would choke
    // on head() of the dimension probe) — absence is idempotent too
    if (!nv.isEmpty)
      graft.operators.Similarity.encodeForIvfPqLayout(nv, layoutDir)
        .write.mode("overwrite").partitionBy("cell_id")
        .parquet(s"$layoutDir/codes_deltas/delta=$batchId")
  }

  /** S33 — streaming incremental-MV maintenance, the continuous twin of
    * `q_agg_merge` (`Layout.partialAgg` + `Layout.mergePartialAggs`):
    * each micro-batch folds to per-key PARTIAL aggregates (cnt, total —
    * the mergeable algebra, ONE definition shared with the batch twin so
    * the two sides can never double-count) and lands as a batch-id-keyed
    * delta under `$viewDir/delta=<batchId>`, overwrite-mode, so a
    * replayed batch rewrites its own partials instead of adding them
    * twice — the S15/S22/S26 exactly-once pattern. Refresh cost per
    * batch is O(batch keys), never O(view): the at-rest view is only
    * ever APPENDED partials; [[mvViewSnapshot]] merges at read, and
    * [[compactMvView]] pre-merges the fold so the base converges to one
    * row per key. */
  def mvMergeSinkBatch(viewDir: String, keyCols: Seq[String],
      valueCol: String)(batch: DataFrame, batchId: Long): Unit =
    graft.operators.Layout.partialAgg(batch, keyCols, valueCol)
      .write.mode("overwrite").parquet(s"$viewDir/delta=$batchId")

  /** The MERGED view an S33 store serves: per-key (cnt, total, avg) over
    * the folded base plus every committed live delta — bit-identical to
    * a from-scratch aggregate over all ingested rows, because the merge
    * algebra is exact (long count, decimal/long-exact total; the derived
    * avg is ONE double division at the end — `Layout.mergePartialAggs`'s
    * contract). Empty store → empty view with the right schema: a
    * never-ingested view runs the SAME merge pipeline over a zero-row
    * partial frame, so `.select(keyCols)` / unions against the snapshot
    * work before the first delta lands and the two cases can never drift.
    * `keyTypes` pins that empty schema per key column (default StringType,
    * the original S33 contract) — the r13 verdict flagged that a
    * hard-coded StringType would make a non-string-keyed view's empty
    * snapshot diverge from its post-ingest schema ONLY in the empty case,
    * the worst kind of drift; a mismatched count fails loudly instead. */
  def mvViewSnapshot(spark: org.apache.spark.sql.SparkSession,
      viewDir: String, keyCols: Seq[String],
      keyTypes: Seq[org.apache.spark.sql.types.DataType] = Seq.empty)
      : DataFrame = {
    require(keyTypes.isEmpty || keyTypes.length == keyCols.length,
      s"keyTypes has ${keyTypes.length} entries for ${keyCols.length} " +
        "key columns — pass one DataType per key column (or none for the " +
        "all-string S33 default)")
    def merged(df: DataFrame): DataFrame =
      df.groupBy(keyCols.map(col): _*)
        .agg(sum("cnt").as("cnt"), sum("total").as("total"))
        .withColumn("avg_value",
          col("total").cast("double") / col("cnt"))
    graft.operators.DeltaStore.snapshotPureDelta(spark, viewDir) match {
      case Some(df) => merged(df)
      case None =>
        import org.apache.spark.sql.types._
        val kt: Seq[DataType] =
          if (keyTypes.nonEmpty) keyTypes else keyCols.map(_ => StringType)
        val partialSchema = StructType(
          keyCols.zip(kt).map { case (k, t) => StructField(k, t) } ++
            Seq(StructField("cnt", LongType), StructField("total", LongType)))
        merged(spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), partialSchema))
    }
  }

  /** Fold an S33 view's committed partial-aggregate deltas below
    * `uptoBatch` into a PRE-MERGED base generation (one row per key —
    * the fold transform re-aggregates, which the mergeable algebra makes
    * exact), with the full delta-store concurrency contract: atomic
    * manifest publish, snapshot-isolated concurrent readers, grace GC
    * one cycle later (see [[graft.operators.Dedup.compactSignatureStore]]).
    * Keep `uptoBatch` at or below the stream's last committed batch id. */
  def compactMvView(spark: org.apache.spark.sql.SparkSession,
      viewDir: String, keyCols: Seq[String], uptoBatch: Long,
      midCompactionHook: () => Unit = () => ()): Unit =
    graft.operators.DeltaStore.compactPureDelta(spark, viewDir, uptoBatch,
      midCompactionHook,
      foldTransform = df => df.groupBy(keyCols.map(col): _*)
        .agg(sum("cnt").as("cnt"), sum("total").as("total"),
          max("delta").as("delta")))
}

/** Live task state held per slave key (S6). */
case class TaskState(slaveId: String, taskId: String)

/** The S6 lifecycle as a Spark 4 `StatefulProcessor`: at most one live task
  * per slave key in a `ValueState`, duplicate launches rejected, terminal
  * statuses clear the key (same contract as `Streams.keyedLifecycle`,
  * roots /root/reference/syscol/cluster.go:35-78 and scheduler.go:150-193). */
/** S23's KMV processor (see `Streams.kmvDistinct`): one fixed-size
  * `ValueState[KmvState]` per key holding the k smallest distinct 48-bit
  * md5-prefix hashes. Rows inside a batch process user_id-sorted so
  * replays are deterministic; the insert keeps the list sorted and
  * duplicate-free, so the state record is canonical regardless of
  * arrival order — the same ids always produce the same state, which is
  * what makes the streaming estimate equal the batch one. */
/** S28's processor (see `Streams.sourceMixMonitor`): per-lang counters in
  * a `MapState` — point-wise key updates (one read + one write per
  * arriving lang) instead of rewriting a whole record; state bounded by
  * per-source language cardinality. Batch rows aggregate locally first so
  * each lang touches the store once per batch regardless of row count. */
class MixProcessor
  extends StatefulProcessor[String, DocLang, MixSnapshot] {

  @transient private var st: MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getMapState[String, Long]("mix",
      Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[DocLang],
      timers: TimerValues): Iterator[MixSnapshot] = {
    // fold the iterator — never materialize the batch: per-key memory is
    // O(langs), not O(rows), no matter how large a micro-batch gets
    val batchCounts = scala.collection.mutable.TreeMap.empty[String, Long]
    rows.foreach(r =>
      batchCounts.update(r.lang, batchCounts.getOrElse(r.lang, 0L) + 1L))
    batchCounts.foreach { case (lang, c) =>
      val prev = if (st.containsKey(lang)) st.getValue(lang) else 0L
      st.updateValue(lang, prev + c)
    }
    val mix = {
      val it = st.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      while (it.hasNext) { val kv = it.next(); buf += (kv._1 -> kv._2) }
      buf.sortBy(_._1).toVector
    }
    val total = mix.map(_._2).sum
    // Shannon entropy of the mix, milli-nats: one deterministic double
    // expression over exact integer counts (the ln-with-rounding idiom)
    val entropy = math.round(mix.map { case (_, c) =>
      val p = c.toDouble / total
      -p * math.log(p)
    }.sum * 1000.0)
    Iterator.single(MixSnapshot(key, mix.size.toLong, total,
      mix.map { case (l, c) => s"$l:$c" }.mkString(","), entropy))
  }
}

/** S39's processor (see `Streams.dimensionEnrich`): one
  * `ValueState[(attr, version)]` per dimension key. The batch slice
  * sorts by (ts, isDim) — a fact tied with a dimension update at the
  * same timestamp enriches against the PRE-update value (false < true),
  * the deterministic tie-break the spec pins; like the GapProcessor this
  * buffers one key's slice of one micro-batch to establish that order
  * (per-key-per-batch memory bound, same scaladoc contract). */
class DimEnrichProcessor
  extends StatefulProcessor[String, DimOrFact, EnrichedFact] {

  @transient private var dim: ValueState[(String, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    dim = getHandle.getValueState[(String, Long)]("dim",
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong), TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[DimOrFact],
      timers: TimerValues): Iterator[EnrichedFact] = {
    val sorted = rows.toArray.sortBy(r => (r.ts.getTime, r.isDim))
    val out = scala.collection.mutable.ArrayBuffer.empty[EnrichedFact]
    sorted.foreach { r =>
      if (r.isDim) {
        val v = if (dim.exists()) dim.get()._2 else 0L
        dim.update((r.attr, v + 1L))
      } else {
        val (attr, v) =
          if (dim.exists()) dim.get() else ("__unknown__", 0L)
        out += EnrichedFact(key, r.ts, r.value, attr, v)
      }
    }
    out.iterator
  }
}

/** S38's processor (see `Streams.noveltyMonitor`): the seen-shingle set
  * as `MapState[shingle → 1]` plus a `ValueState[Long]` running type
  * count, so the per-batch emit costs O(batch shingles) — the store is
  * only ever probed point-wise (containsKey) and appended, never walked.
  * Shingles use the engine-wide whitespace tokenization (split -1 keeps
  * empties, matching Spark `split`); a document shorter than `n` tokens
  * contributes nothing, the wordShingles contract. Within a batch the
  * novelty fold is over the batch's TYPE SET (TreeMap — deterministic
  * order), so duplicate shingles inside one batch count once and the
  * result is independent of row order. */
class NoveltyProcessor(n: Int)
  extends StatefulProcessor[String, DocSourced, NoveltyRow] {

  @transient private var seen: MapState[String, Long] = _
  @transient private var nSeen: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    seen = getHandle.getMapState[String, Long]("seen",
      Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    nSeen = getHandle.getValueState[Long]("n_seen",
      Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: String, rows: Iterator[DocSourced],
      timers: TimerValues): Iterator[NoveltyRow] = {
    val batch = scala.collection.mutable.TreeMap.empty[String, Long]
    var grams = 0L
    rows.foreach { r =>
      val ws = r.text.split(" ", -1)
      if (ws.length >= n) ws.sliding(n).foreach { w =>
        val g = w.mkString(" ")
        grams += 1L
        batch.update(g, batch.getOrElse(g, 0L) + 1L)
      }
    }
    var novel = 0L
    batch.keysIterator.foreach { g =>
      if (!seen.containsKey(g)) {
        seen.updateValue(g, 1L)
        novel += 1L
      }
    }
    val total = (if (nSeen.exists()) nSeen.get() else 0L) + novel
    nSeen.update(total)
    val permille =
      if (batch.isEmpty) 0L else novel * 1000L / batch.size.toLong
    Iterator.single(NoveltyRow(key, grams, batch.size.toLong, novel,
      permille, total))
  }
}

/** S36's processor (see `Streams.quantileMonitor`): per-group bucket
  * counts in a `MapState` — point-wise key updates (batch rows pre-fold
  * per bucket so each bucket touches the store once per batch, the
  * MixProcessor discipline), state bounded by the value domain over the
  * bucket width. The per-batch emit walks the bucket table in ascending
  * bucket order accumulating counts — the same exclusive-prefix pass
  * `Ranks.bucketOffsets` runs as a window, here over an in-memory table
  * that is small BY THE SAME argument (bounded bucket cardinality). */
/** S37's user-keyed half (see `Streams.gapQuantileMonitor`): one
  * `ValueState[Long]` per user holding the last event's epoch micros.
  * Each arrival (ts, event_id)-sorted within the batch emits the exact
  * integer gap to the previous same-user event as a `ValObs` keyed by
  * the ARRIVING event's type — the q_gap_quantiles lag, continuous.
  *
  * Late-data contract (the S18 funnel posture): equivalent to the batch
  * lag when a user's events arrive in event-time order across batches.
  * An event that arrives BEHIND the user's anchor (a cross-batch
  * straggler) is DROPPED from the gap population and never rewinds the
  * anchor — a negative gap is unrepresentable in the batch twin, and a
  * rewound anchor would mis-measure every later gap; the monotone
  * max() update keeps one straggler from poisoning the histogram
  * forever.
  *
  * Memory bound (ADVICE r13): `handleInputRows` materializes ONE USER'S
  * slice of ONE MICRO-BATCH (`rows.toArray`) to establish the
  * deterministic (ts, event_id) processing order the gap semantics
  * require — an incremental fold (the QuantileProcessor shape) can't
  * sort. The bound is per-key-per-batch, not per-key state: a key whose
  * single-batch event volume outgrows executor memory needs a smaller
  * trigger interval / maxOffsetsPerTrigger, the standard Spark lever. */
class GapProcessor
  extends StatefulProcessor[Long, TypedEvent, ValObs] {

  @transient private var last: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    last = getHandle.getValueState[Long]("last_us",
      Encoders.scalaLong, TTLConfig.NONE)

  // exact epoch micros: getTime is millis; the sub-milli part lives in
  // getNanos (floorDiv keeps pre-1970 instants exact)
  private def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
      timers: TimerValues): Iterator[ValObs] = {
    val sorted = rows.toArray.sortBy(e => (micros(e.ts), e.event_id))
    val out = scala.collection.mutable.ArrayBuffer.empty[ValObs]
    sorted.foreach { e =>
      val us = micros(e.ts)
      if (!last.exists()) last.update(us)
      else if (us >= last.get()) {
        out += ValObs(e.event_type, e.ts, us - last.get())
        last.update(us)
      } // else: cross-batch straggler — dropped, anchor not rewound
    }
    out.iterator
  }
}

class QuantileProcessor(bucketWidth: Long, ps: Seq[Int])
  extends StatefulProcessor[String, ValObs, QuantileRow] {

  @transient private var st: MapState[Long, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getMapState[Long, Long]("buckets",
      Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[ValObs],
      timers: TimerValues): Iterator[QuantileRow] = {
    val batch = scala.collection.mutable.TreeMap.empty[Long, Long]
    rows.foreach { r =>
      val b = Math.floorDiv(r.cents, bucketWidth)
      batch.update(b, batch.getOrElse(b, 0L) + 1L)
    }
    batch.foreach { case (b, c) =>
      val prev = if (st.containsKey(b)) st.getValue(b) else 0L
      st.updateValue(b, prev + c)
    }
    val buckets = {
      val it = st.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      while (it.hasNext) { val kv = it.next(); buf += (kv._1 -> kv._2) }
      buf.sortBy(_._1).toVector
    }
    val n = buckets.map(_._2).sum
    if (n == 0L) Iterator.empty
    else {
      val out = ps.sorted.map { p =>
        val pos = math.max(1L, (p.toLong * n + 99L) / 100L) // ceil(p·n/100)
        var cum = 0L
        val straddle = buckets.find { case (_, c) =>
          cum += c; cum >= pos
        }.get._1 // pos ≤ n, so a straddling bucket always exists
        QuantileRow(key, n, p.toLong, pos,
          straddle * bucketWidth, straddle * bucketWidth + bucketWidth - 1L)
      }
      out.iterator
    }
  }
}

/** S27's per-source exemplar record: content hash (full md5 hex — the
  * same `md5(text)` ordering key the batch stratified sample uses) plus
  * the document id that carries it. */
case class Exemplar(h: String, doc_id: Long)

/** S27 output: one row per retained exemplar per (source, batch). */
case class ExemplarRow(source: String, doc_id: Long, h: String,
  sample_size: Long)

/** S27's processor (see `Streams.exemplarSample`): the k smallest
  * (md5(text), doc_id) records per source in a ListState — the state
  * primitive fits the payload (a small LIST of records, not one scalar):
  * the store serializes each element independently, so an update rewrites
  * k small rows instead of one ever-larger blob. The retained set is
  * canonical (sorted, deduped by id) regardless of arrival order — the
  * same-ids ⇒ same-state argument every replayable processor here makes. */
class ExemplarProcessor(k: Int)
  extends StatefulProcessor[String, DocSourced, ExemplarRow] {

  @transient private var st: ListState[Exemplar] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getListState[Exemplar]("exemplars",
      Encoders.product[Exemplar], TTLConfig.NONE)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  override def handleInputRows(key: String, rows: Iterator[DocSourced],
      timers: TimerValues): Iterator[ExemplarRow] = {
    val current = {
      val it = st.get()
      val buf = scala.collection.mutable.ArrayBuffer.empty[Exemplar]
      while (it.hasNext) buf += it.next()
      buf.toVector
    }
    // bounded insert (the KmvProcessor pattern): fold the batch iterator
    // into a <= k sorted buffer — per-key memory is O(k), never O(batch)
    // (membership checks scan `kept` directly: O(k) per row with small k,
    // and no side set that could grow with insert-then-evict churn)
    var kept = current.sortBy(e => (e.h, e.doc_id))
    rows.foreach { r =>
      if (!kept.exists(_.doc_id == r.doc_id)) {
        val e = Exemplar(md5hex(r.text), r.doc_id)
        val at = kept.indexWhere(x =>
          x.h > e.h || (x.h == e.h && x.doc_id > e.doc_id))
        val pos = if (at < 0) kept.length else at
        if (pos < k) kept = ((kept.take(pos) :+ e) ++ kept.drop(pos)).take(k)
      }
    }
    st.clear()
    kept.foreach(st.appendValue)
    kept.iterator.map(e =>
      ExemplarRow(key, e.doc_id, e.h, kept.size.toLong))
  }
}

class KmvProcessor(k: Int)
  extends StatefulProcessor[String, UserSeen, KmvEstimate] {

  @transient private var st: ValueState[KmvState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[KmvState]("kmv",
      Encoders.product[KmvState], TTLConfig.NONE)

  /** First 48 bits of md5(user_id as decimal string) — byte-identical to
    * the engine/oracle family `conv(substring(md5(CAST(id AS STRING)),
    * 1, 12), 16, 10)`. */
  private def hash48(userId: Long): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(userId.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // first 6 bytes = first 12 hex digits
    (0 until 6).foldLeft(0L)((acc, i) => (acc << 8) | (d(i) & 0xffL))
  }

  override def handleInputRows(key: String, rows: Iterator[UserSeen],
      timers: TimerValues): Iterator[KmvEstimate] = {
    var mins = if (st.exists()) st.get().mins.toVector else Vector.empty[Long]
    // fold the iterator directly — no materialized/sorted batch: the k-min
    // set is CANONICAL for any arrival order (sorted, duplicate-free
    // insert), so replay determinism needs no sort and per-key memory is
    // O(k), never O(batch)
    rows.foreach { r =>
      val h = hash48(r.user_id)
      val idx = mins.search(h)(Ordering.Long)
      idx match {
        case scala.collection.Searching.Found(_) => // already retained
        case scala.collection.Searching.InsertionPoint(p) =>
          if (p < k) {
            mins = (mins.take(p) :+ h) ++ mins.drop(p)
            if (mins.length > k) mins = mins.take(k)
          }
      }
    }
    st.update(KmvState(mins))
    val est =
      if (mins.length == k) Some((k - 1).toLong * (1L << 48) / mins.last)
      else None
    Iterator.single(KmvEstimate(key, mins.length.toLong, est))
  }
}

/** S13's TTL'd seen-mark (see `Streams.dedupTtl`): one `ValueState[Long]`
  * per digest holding the first-seen doc_id, with store-level TTL
  * eviction. Rows inside a batch replay in doc_id order so the
  * first/dup split is deterministic. */
class TtlDedupProcessor(ttlMs: Long)
  extends StatefulProcessor[String, SeenDoc, DedupDecision] {

  @transient private var seen: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seen = getHandle.getValueState[Long]("seen", Encoders.scalaLong,
      TTLConfig(java.time.Duration.ofMillis(ttlMs)))

  override def handleInputRows(key: String, rows: Iterator[SeenDoc],
      timers: TimerValues): Iterator[DedupDecision] =
    rows.toSeq.sortBy(_.doc_id).map { d =>
      if (seen.exists()) DedupDecision(key, d.doc_id, "dup")
      else {
        seen.update(d.doc_id)
        DedupDecision(key, d.doc_id, "first")
      }
    }.iterator
}

/** S19's per-key CUSUM accumulator (see `Streams.cusumMonitor`): the
  * max(0, S + y) recursion runs directly here — streaming state IS the
  * sequential form the batch operator had to window-translate. No TTL:
  * the accumulated deviation is the signal. */
class CusumProcessor(expected: Long, threshold: Long)
  extends StatefulProcessor[String, SlotCount, CusumAlert] {

  @transient private var s: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    s = getHandle.getValueState[Long]("s", Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[SlotCount],
      timers: TimerValues): Iterator[CusumAlert] =
    rows.toSeq.sortBy(_.slotMs).map { c =>
      val prev = if (s.exists()) s.get() else 0L
      val next = math.max(0L, prev + (c.n - expected))
      s.update(next)
      CusumAlert(key, c.slotMs, c.n, next, next > threshold)
    }.iterator
}

/** S20's per-key level state (see `Streams.levelTracker`): the α=½ EWMA
  * recursion `e := floorDiv(e + v, 2)`, seeded by the first observation.
  * No TTL: the current level is live state (a deployment bounding key
  * cardinality would add one, the S13 pattern). */
class LevelProcessor
  extends StatefulProcessor[String, MetricPoint, LevelUpdate] {

  @transient private var level: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    level = getHandle.getValueState[Long]("level", Encoders.scalaLong,
      TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[MetricPoint],
      timers: TimerValues): Iterator[LevelUpdate] =
    rows.toSeq.sortBy(p => (p.tsMs, p.valueMicro)).map { p =>
      val next =
        if (!level.exists()) p.valueMicro
        else Math.floorDiv(level.get() + p.valueMicro, 2L)
      level.update(next)
      LevelUpdate(key, p.tsMs, p.valueMicro, next)
    }.iterator
}

/** S21's per-user newest touch (see `Streams.touchAttribution`). */
case class LastTouch(tsMs: Long, channel: String)

/** S21's processor: touches overwrite the one `LastTouch` record;
  * conversions read it and emit immediately. Same-timestamp ordering is
  * pinned (touch before conversion) so replays credit identically to the
  * batch twin. No TTL: stale touches age out by the window check at
  * conversion time (a deployment bounding user cardinality would add
  * one, the S13 pattern). */
class AttributionProcessor(touchTypes: Set[String], conversionType: String,
    windowMs: Long)
  extends StatefulProcessor[Long, TouchEvent, CreditedConversion] {

  @transient private var lastTouch: ValueState[LastTouch] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    lastTouch = getHandle.getValueState[LastTouch]("lastTouch",
      Encoders.product[LastTouch], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[TouchEvent],
      timers: TimerValues): Iterator[CreditedConversion] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[CreditedConversion]
    rows.toSeq
      .sortBy(e => (e.tsMs, if (touchTypes.contains(e.eventType)) 0 else 1,
        e.eventType))
      .foreach { e =>
        if (touchTypes.contains(e.eventType)) {
          val keep = !lastTouch.exists() || lastTouch.get().tsMs <= e.tsMs
          if (keep) lastTouch.update(LastTouch(e.tsMs, e.eventType))
        } else if (e.eventType == conversionType) {
          // at-or-before AND in-window: a touch that arrived in an earlier
          // micro-batch with a LATER event-time must not take credit (the
          // batch twin's contract; the window check alone passes negative
          // deltas).
          val credited =
            if (lastTouch.exists() && lastTouch.get().tsMs <= e.tsMs &&
              e.tsMs - lastTouch.get().tsMs <= windowMs)
              lastTouch.get().channel
            else "direct"
          out += CreditedConversion(key, e.tsMs, credited, e.valueMicro)
        }
      }
    out.iterator
  }
}

/** S18's per-user funnel position (see `Streams.funnelProgress`). */
case class FunnelProgress(idx: Int, lastTsMs: Long, startTsMs: Long)

/** S18's processor: one fixed-size `FunnelProgress` per user. An event
  * advances the funnel iff it names the NEXT expected stage with a
  * timestamp strictly greater than the previous stage's (the batch
  * operator's exact contract); everything else — repeats, skips, stale
  * timestamps — is ignored without touching state. No TTL: an open funnel
  * is live business state (a production deployment with an attribution
  * horizon would add one, the S13 pattern). */
class FunnelProcessor(stages: Seq[String])
  extends StatefulProcessor[Long, FunnelEvent, StageReached] {

  @transient private var pos: ValueState[FunnelProgress] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    pos = getHandle.getValueState[FunnelProgress]("pos",
      Encoders.product[FunnelProgress], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[FunnelEvent],
      timers: TimerValues): Iterator[StageReached] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[StageReached]
    rows.toSeq.sortBy(e => (e.tsMs, e.stage)).foreach { e =>
      val p = if (pos.exists()) pos.get() else FunnelProgress(0, Long.MinValue, 0L)
      if (p.idx < stages.size && e.stage == stages(p.idx) &&
          (p.idx == 0 || e.tsMs > p.lastTsMs)) {
        val start = if (p.idx == 0) e.tsMs else p.startTsMs
        pos.update(FunnelProgress(p.idx + 1, e.tsMs, start))
        out += StageReached(key, p.idx + 1, e.stage, e.tsMs, e.tsMs - start)
      }
    }
    out.iterator
  }
}

/** S16's per-source fill counter (see `Streams.shardAssign`): one
  * `ValueState[Long]` per source holding the cumulative token total; a
  * document's shard is `fill div budget` at its own start offset — the
  * identical fluid-fill rule as the batch planner, so a loader can mix
  * batch-planned and stream-assigned shards. No TTL: the fill total is
  * the contract and must survive as long as the source does. */
class ShardAssignProcessor(budget: Long)
  extends StatefulProcessor[String, DocSourced, ShardAssign] {

  @transient private var fill: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    fill = getHandle.getValueState[Long]("fill", Encoders.scalaLong,
      TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[DocSourced],
      timers: TimerValues): Iterator[ShardAssign] =
    rows.toSeq.sortBy(_.doc_id).map { d =>
      val cur = if (fill.exists()) fill.get() else 0L
      // whitespace token count, matching TextFunctions.tokenCount
      // (split keeps empty fields, like Spark's split / DuckDB's
      // string_split)
      val n = d.text.split(" ", -1).length.toLong
      fill.update(cur + n)
      ShardAssign(key, d.doc_id, n, cur / budget, cur)
    }.iterator
}

/** S14's watchdog (see `Streams.launchWatchdog`): per slave key one live
  * task + its armed timer timestamp. `launch` arms a processing-time
  * timer; a matching terminal status DELETES it (the armed timestamp is
  * value state — deleteTimer needs the exact timestamp back); expiry with
  * the task still live emits `timed_out` and clears. */
class TimeoutWatchdog(timeoutMs: Long)
  extends StatefulProcessor[String, TaskEvent, TaskTransition] {

  @transient private var live: ValueState[TaskState] = _
  @transient private var armedAt: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    live = getHandle.getValueState[TaskState]("live",
      Encoders.product[TaskState], TTLConfig.NONE)
    armedAt = getHandle.getValueState[Long]("armedAt",
      Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: String, rows: Iterator[TaskEvent],
      timers: TimerValues): Iterator[TaskTransition] =
    rows.toSeq.sortBy(_.seq).flatMap { e =>
      e.status match {
        case "launch" if !live.exists() =>
          live.update(TaskState(key, e.taskId))
          val expiry = timers.getCurrentProcessingTimeInMs() + timeoutMs
          armedAt.update(expiry)
          getHandle.registerTimer(expiry)
          Seq(TaskTransition(key, e.taskId, "watchdog_armed"))
        case s if Streams.terminalStatuses(s) &&
          live.exists() && live.get().taskId == e.taskId =>
          if (armedAt.exists()) getHandle.deleteTimer(armedAt.get())
          armedAt.clear()
          live.clear()
          Seq(TaskTransition(key, e.taskId, "completed_in_time"))
        case _ => Seq.empty
      }
    }.iterator

  override def handleExpiredTimer(key: String, timers: TimerValues,
      expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
    : Iterator[TaskTransition] =
    if (live.exists()) {
      val t = live.get()
      live.clear()
      armedAt.clear()
      Iterator(TaskTransition(key, t.taskId, "timed_out"))
    } else Iterator.empty
}

/** S31's sessionizer (see `Streams.sessionizeEventTime`): explicit
  * EVENT-TIME timer session finalization — every input batch folds into
  * the per-key accumulator and re-arms ONE timer at maxEventTs + gap
  * (delete-then-register, the S14 re-arm idiom); the session emits only
  * when the WATERMARK passes that instant, i.e. when event time itself
  * proves the quiet gap — processing-time stalls neither close nor extend
  * a session. This is the hand-rolled twin of `session_window` (S3), kept
  * deliberately minimal: the scenario exists to exercise
  * `TimeMode.EventTime()` timers, the one state-primitive cell S14's
  * processing-time watchdog leaves uncovered. One deliberate divergence
  * from `session_window`: an event arriving BEFORE the watermark passes
  * lastTs + gap merges into the open session even if its own timestamp
  * is far beyond the gap — within-watermark data may still be late and
  * reordered, so stream time has not yet proven any quiet gap; only the
  * timer closes. */
class EventTimeSessionizer(gapMs: Long)
  extends StatefulProcessor[String, Tick, SessionClosed] {

  @transient private var agg: ValueState[SessAgg] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    agg = getHandle.getValueState[SessAgg]("agg",
      Encoders.product[SessAgg], TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[Tick],
      timers: TimerValues): Iterator[SessionClosed] = {
    val cur = if (agg.exists()) agg.get() else SessAgg(0L, 0.0, Long.MinValue)
    var (n, sum, last) = (cur.n, cur.sum, cur.lastMs)
    rows.foreach { t =>
      n += 1; sum += t.value
      if (t.ts.getTime > last) last = t.ts.getTime
    }
    // re-arm: the armed instant is derivable from state (lastMs + gap),
    // so no second ValueState is needed to delete the stale timer
    if (cur.n > 0L) getHandle.deleteTimer(cur.lastMs + gapMs)
    agg.update(SessAgg(n, sum, last))
    getHandle.registerTimer(last + gapMs)
    Iterator.empty
  }

  override def handleExpiredTimer(key: String, timers: TimerValues,
      expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
    : Iterator[SessionClosed] =
    if (agg.exists()) {
      val a = agg.get()
      agg.clear()
      Iterator(SessionClosed(key, a.n, a.sum,
        new java.sql.Timestamp(a.lastMs)))
    } else Iterator.empty
}

class LifecycleProcessor
  extends StatefulProcessor[String, TaskEvent, TaskTransition] {

  @transient private var live: ValueState[TaskState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    live = getHandle.getValueState[TaskState]("live",
      Encoders.product[TaskState], TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[TaskEvent],
      timers: TimerValues): Iterator[TaskTransition] =
    rows.toSeq.sortBy(_.seq).flatMap { e =>
      e.status match {
        case "launch" =>
          if (live.exists())
            Seq(TaskTransition(key, e.taskId, "rejected_duplicate"))
          else {
            live.update(TaskState(key, e.taskId))
            Seq(TaskTransition(key, e.taskId, "launched"))
          }
        case s if Streams.terminalStatuses(s) =>
          if (live.exists() && live.get().taskId == e.taskId) {
            live.clear()
            Seq(TaskTransition(key, e.taskId, "removed"))
          } else Seq(TaskTransition(key, e.taskId, "ignored_unknown"))
        case _ => Seq.empty // running etc: state unchanged
      }
    }.iterator
}
