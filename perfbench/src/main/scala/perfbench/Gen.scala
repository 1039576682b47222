package perfbench

import java.sql.Timestamp

/** SplitMix64: a tiny, fully specified PRNG, so every generated input is a
  * pure function of the workload seed and the record's coordinates. */
final class Rng(private var state: Long) {
  def nextLong(): Long = {
    state += 0x9E3779B97F4A7C15L
    Rng.mix(state)
  }
  def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
  def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
  def nextGaussian(): Double = {
    val u1 = math.max(nextDouble(), 1e-300)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * nextDouble())
  }
}

object Rng {
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** An independent stream for (seed, coordinates...). */
  def at(seed: Long, coords: Long*): Rng =
    new Rng(coords.foldLeft(mix(seed))((h, c) => mix(h ^ mix(c + 0x632BE59BD9B4E019L))))
}

/** Mesos-agent `/metrics/snapshot` bodies: ~150 keys, counters written as
  * integers and gauges written as decimals (`0.4512`, `4.0`), the way an
  * agent reports them. Every snapshot carries fractional gauges. */
object Snapshots {
  private val counterBase = Seq(
    "slave/executors_registering", "slave/executors_running",
    "slave/executors_terminated", "slave/executors_terminating",
    "slave/frameworks_active", "slave/invalid_framework_messages",
    "slave/invalid_status_updates", "slave/recovery_errors",
    "slave/registered", "slave/tasks_failed", "slave/tasks_finished",
    "slave/tasks_killed", "slave/tasks_lost", "slave/tasks_running",
    "slave/tasks_staging", "slave/tasks_starting",
    "slave/valid_framework_messages", "slave/valid_status_updates",
    "containerizer/mesos/container_destroy_errors",
    "containerizer/mesos/provisioner/remove_container_errors")
  private val gaugeBase = Seq(
    "slave/cpus_percent", "slave/cpus_total", "slave/cpus_used",
    "slave/disk_percent", "slave/disk_total", "slave/disk_used",
    "slave/mem_percent", "slave/mem_total", "slave/mem_used",
    "slave/gpus_percent", "slave/uptime_secs", "system/cpus_total",
    "system/load_15min", "system/load_1min", "system/load_5min",
    "system/mem_free_bytes", "system/mem_total_bytes")
  private val states = Seq("failed", "finished", "killed", "lost", "running",
    "staging")

  /** (key, isGauge) for every snapshot key, in body order. */
  val keys: IndexedSeq[(String, Boolean)] = {
    val fw = for (f <- 0 until 16; s <- states)
      yield (s"slave/frameworks/fw$f/tasks_$s", false)
    val res = for (r <- Seq("cpus", "mem", "disk", "ports", "gpus");
                   st <- Seq("allocated", "revocable", "usage"))
      yield (s"slave/resources/$r/$st", true)
    (counterBase.map(_ -> false) ++ gaugeBase.map(_ -> true) ++ fw ++ res)
      .toIndexedSeq
  }

  private val wholeGauge: IndexedSeq[Boolean] =
    keys.map { case (k, _) => k.endsWith("_total") || k.endsWith("_bytes") }
  private val quoted: IndexedSeq[String] = keys.map { case (k, _) => "\"" + k + "\":" }

  /** The body a slave serves in a round, as text; `values` gives the same
    * numbers as exact decimals for the output check. Built by hand, not
    * with format strings, so serving stays well under the fetch time. */
  def body(seed: Long, slave: Int, round: Long): String = {
    val sb = new java.lang.StringBuilder(6000)
    sb.append('{')
    foreach(seed, slave, round) { (i, v) =>
      if (i > 0) sb.append(',')
      sb.append(quoted(i)).append(v)
    }
    sb.append('}').toString
  }

  def values(seed: Long, slave: Int, round: Long): IndexedSeq[(String, String)] = {
    val out = new Array[(String, String)](keys.size)
    foreach(seed, slave, round)((i, v) => out(i) = keys(i)._1 -> v)
    out.toIndexedSeq
  }

  /** Counters grow by a per-key rate each round; whole gauges are written
    * with a `.0`; other gauges have four decimals. */
  private def foreach(seed: Long, slave: Int, round: Long)(f: (Int, String) => Unit): Unit = {
    val base = Rng.at(seed, 1L, slave.toLong)
    val now = Rng.at(seed, 2L, slave.toLong, round)
    var i = 0
    while (i < keys.size) {
      val rate = base.nextInt(50)
      val v =
        if (!keys(i)._2) (base.nextInt(100000).toLong + rate * round).toString
        else if (wholeGauge(i)) s"${base.nextInt(64) + 1}.0"
        else {
          val x = now.nextInt(1000000)
          val frac = (x % 10000).toString
          s"${x / 10000}.${"0" * (4 - frac.length)}$frac"
        }
      f(i, v)
      i += 1
    }
  }
}

/** Ticks: one per slave per reporting round. */
object Ticks {
  val epochMs: Long = 1700000000000L
  def slaveId(i: Int): String = f"slave-$i%05d"
  def slaveIndex(id: String): Int = id.stripPrefix("slave-").toInt
  /** Each slave answers on its own loopback address, so thousands of slaves
    * share one listening socket and still have distinct endpoints. */
  def hostOf(i: Int): String =
    s"127.${1 + i / 62500}.${(i / 250) % 250 + 1}.${i % 250 + 1}"
  def indexOfHost(a: Array[Byte]): Int =
    ((a(1) & 0xff) - 1) * 62500 + ((a(2) & 0xff) - 1) * 250 + (a(3) & 0xff) - 1
  def round(seed: Long, nSlaves: Int, r: Long): Seq[graft.streaming.Tick] =
    (0 until nSlaves).map { i =>
      graft.streaming.Tick(slaveId(i), new Timestamp(epochMs + r * 1000L),
        Rng.at(seed, 3L, i.toLong, r).nextDouble(), "")
    }
}

/** Document stream with planted exact and token-mutated near duplicates of
  * documents from earlier batches. `planted` maps a planted doc id to the
  * earlier doc it copies. */
final case class DocBatch(docs: Seq[(Long, String)], planted: Map[Long, Long])

object Docs {
  val vocab: IndexedSeq[String] = {
    val syll = Seq("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "zu", "pe",
      "qa", "di", "fo", "gu", "he", "ji")
    for (a <- syll; b <- syll; c <- Seq("", "n", "r", "s", "x", "l", "m", "t"))
      yield a + b + c
  }.toIndexedSeq

  def fresh(r: Rng): String = {
    val n = 40 + r.nextInt(41)
    Seq.fill(n)(vocab(r.nextInt(vocab.size))).mkString(" ")
  }

  /** Replace about one token in 40: 3-shingle Jaccard distance stays well
    * under the 0.3 dedup threshold. */
  def mutate(r: Rng, text: String): String = {
    val ws = text.split(' ')
    val k = math.max(1, ws.length / 40)
    for (_ <- 0 until k) ws(r.nextInt(ws.length)) = vocab(r.nextInt(vocab.size))
    ws.mkString(" ")
  }

  /** The first `nBatches` batches of `size` docs; ids are b*size + i. From
    * batch 1 on, a fifth of each batch copies (exactly or mutated) a doc of
    * an earlier batch. */
  def stream(seed: Long, nBatches: Int, size: Int): IndexedSeq[DocBatch] = {
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until nBatches).map { b =>
      val r = Rng.at(seed, 4L, b.toLong)
      val prior = texts.length
      val planted = scala.collection.mutable.Map.empty[Long, Long]
      val docs = (0 until size).map { i =>
        val id = b.toLong * size + i
        val text =
          if (b > 0 && r.nextInt(5) == 0) {
            val src = r.nextInt(prior)
            planted(id) = src.toLong
            if (r.nextInt(3) == 0) texts(src) else mutate(r, texts(src))
          } else fresh(Rng.at(seed, 5L, id))
        id -> text
      }
      texts ++= docs.map(_._2)
      DocBatch(docs, planted.toMap)
    }
  }
}

/** Rows in the schema of the repo's `documents` and `embeddings` tables,
  * for the batch curation queries: document attributes, and labelled
  * clustered embeddings. */
object Corpus {
  private val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
  final case class Emb(vec_id: Long, embedding: Seq[Float], label: Int)

  def langOf(seed: Long, id: Long): String = langs(Rng.at(seed, 10L, id).nextInt(langs.size))

  def embeddings(seed: Long, n: Int): Seq[Emb] = (0 until n).map { i =>
    val r = Rng.at(seed, 9L, i.toLong)
    val label = r.nextInt(10)
    val c = Vectors.centre(seed, label)
    val v = Array.tabulate(Vectors.dim)(j => c(j) + 0.6f * r.nextGaussian().toFloat)
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    Emb(i.toLong, v.map(_ / norm).toSeq, label)
  }
}

/** Clustered unit-ish 64-d vectors: `clusters` gaussian centres plus noise. */
object Vectors {
  val dim = 64
  def centre(seed: Long, c: Int): Array[Float] = {
    val r = Rng.at(seed, 6L, c.toLong)
    Array.fill(dim)(r.nextGaussian().toFloat)
  }
  def vector(seed: Long, id: Long, clusters: Int): Array[Float] = {
    val r = Rng.at(seed, 7L, id)
    val c = centre(seed, r.nextInt(clusters))
    Array.tabulate(dim)(i => c(i) + 0.35f * r.nextGaussian().toFloat)
  }
  /** Spark-side unit scaling of an array<float> column. */
  def normalize(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val n = sqrt(aggregate(c, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    transform(c, x => (x / n).cast("float"))
  }
}
