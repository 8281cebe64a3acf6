package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail is the 75th percentile by nearest rank") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(scala.util.Random.shuffle(xs))
    assert(t.value == 75.0 && t.percentile == 75.0 && t.samplesAbove == 25 && t.n == 100)
    assert(xs.count(_ > t.value) == 25)
    val twentyOne = Stats.tail((1 to 21).map(_.toDouble))
    assert(twentyOne.value == 16.0 && twentyOne.samplesAbove == 5)
    val one = Stats.tail(Seq(3.0))
    assert(one.value == 3.0 && one.samplesAbove == 0)
  }

  test("a timed phase runs enough operations for five samples above the tail") {
    val t = Stats.tail((1 to Stats.TailOps).map(_.toDouble))
    assert(t.value == 15.0 && t.samplesAbove == 5)
    val corpus = new CorpusCuration(1L, java.nio.file.Paths.get("unused")).fixedOps(1.0, Stats.TailOps)
    assert(corpus.exists(n => n >= Stats.TailOps && n % CorpusCuration.Queries.size == 0))
  }
}
