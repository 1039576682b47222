package perfbench

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("the same seed gives the same inputs; another seed gives others") {
    assert(Snapshots.body(7, 3, 11) === Snapshots.body(7, 3, 11))
    assert(Snapshots.body(7, 3, 11) !== Snapshots.body(8, 3, 11))
    assert(Ticks.round(7, 16, 4) === Ticks.round(7, 16, 4))
    val a = Docs.stream(7, 6, 50)
    assert(a === Docs.stream(7, 6, 50))
    assert(a.map(_.docs) !== Docs.stream(8, 6, 50).map(_.docs))
    assert(Vectors.vector(7, 99, 16).toSeq === Vectors.vector(7, 99, 16).toSeq)
    assert(Corpus.embeddings(7, 50) === Corpus.embeddings(7, 50))
    assert(Corpus.embeddings(7, 50) !== Corpus.embeddings(8, 50))
    assert((0 until 50).map(Corpus.langOf(7, _)) === (0 until 50).map(Corpus.langOf(7, _)))
  }

  test("snapshots are agent-sized and always carry fractional gauges") {
    val vs = Snapshots.values(1, 0, 0)
    assert(vs.size >= 140 && vs.size <= 160)
    assert(vs.exists { case (_, v) => v.contains('.') && !v.endsWith(".0") })
    assert(vs.exists { case (_, v) => v.endsWith(".0") })
    assert(vs.exists { case (_, v) => !v.contains('.') })
  }

  test("planted documents copy an earlier batch and stay within the dedup threshold") {
    val s = Docs.stream(3, 8, 100)
    val text = s.flatMap(_.docs).toMap
    val planted = s.flatMap(_.planted)
    assert(planted.nonEmpty)
    for ((id, src) <- planted) {
      assert(src < (id / 100) * 100)
      assert(JaccardCheck.distance(text(id), text(src)) <= 0.3)
    }
  }

  test("loopback hosts map back to their slave") {
    for (i <- Seq(0, 1, 249, 250, 62499, 62500, 99999)) {
      val a = Ticks.hostOf(i).split('.').map(_.toInt.toByte)
      assert(Ticks.indexOfHost(a) === i)
    }
  }

  test("the tail is the highest-percentile sample with at least 10 samples beyond it") {
    assert(Stats.tail((1 to 11).map(_.toDouble)) === ((1.0, 1.0 / 11)))
    // too few samples for the rule: the largest stands in
    assert(Stats.tail((1 to 10).map(_.toDouble)) === ((10.0, 1.0)))
    assert(Stats.tail(Seq(2.5)) === ((2.5, 1.0)))
    val xs = scala.util.Random.shuffle((1 to 100).map(_.toDouble))
    val (v, p) = Stats.tail(xs)
    assert(v === 90.0 && p === 0.9)
    assert(xs.count(_ > v) === 10)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) === 2.5)
  }

  test("self time subtracts the union of children, clipped to the parent") {
    val p = Span(1, 0, "p", 0, 100)
    assert(Span.selfNs(p, Nil) === 100)
    assert(Span.selfNs(p, Seq(Span(2, 1, "a", 10, 30), Span(3, 1, "b", 50, 60))) === 70)
    // overlapping children count once
    assert(Span.selfNs(p, Seq(Span(2, 1, "a", 10, 40), Span(3, 1, "b", 30, 60))) === 50)
    // a child running past the parent's end counts only inside it
    assert(Span.selfNs(p, Seq(Span(2, 1, "a", 90, 150))) === 90)
    // nested-looking children (one inside another) count once
    assert(Span.selfNs(p, Seq(Span(2, 1, "a", 0, 100), Span(3, 1, "b", 20, 30))) === 0)
  }
}
