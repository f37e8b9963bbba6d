package graftbench

import org.scalatest.funsuite.AnyFunSuite

import Stats._

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
  }

  test("tail: the highest percentile with at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = tail(xs)
    assert(t.value === 90.0)
    assert(t.beyond === 10)
    assert(t.samples === 100)
    assert(math.abs(t.percentile - 100.0 * 89 / 99) < 1e-9)
    // one more sample would leave only 9 beyond
    assert(xs.count(_ > 91.0) === 9)
  }

  test("tail: twenty samples put the tail at the 10th largest") {
    val t = tail((1 to 20).map(_.toDouble).reverse)
    assert(t.value === 10.0)
    assert(t.beyond === 10)
  }

  test("tail: with 10 or fewer samples the minimum is reported with the shortfall") {
    val t = tail(Seq(5.0, 3.0, 9.0, 7.0))
    assert(t.value === 3.0)
    assert(t.percentile === 0.0)
    assert(t.beyond === 3)
    assert(tail(Seq(42.0)) === Tail(42.0, 0.0, 1, 0))
  }

  test("tail: ties with the tail value do not count as beyond it") {
    val t = tail(Seq.fill(15)(1.0) ++ Seq.fill(5)(2.0))
    assert(t.value === 1.0)
    assert(t.beyond === 5)
  }

  test("interval union merges overlaps, nests and touching intervals") {
    assert(unionLength(Nil) === 0L)
    assert(unionLength(Seq((0L, 10L), (5L, 15L))) === 15L)
    assert(unionLength(Seq((0L, 10L), (2L, 3L))) === 10L)
    assert(unionLength(Seq((0L, 5L), (5L, 8L))) === 8L)
    assert(unionLength(Seq((20L, 30L), (0L, 5L), (3L, 4L))) === 15L)
    assert(unionLength(Seq((4L, 4L), (9L, 2L))) === 0L)
  }

  test("driver gap: the part of a span no child covers, children clipped to it") {
    assert(uncovered((100L, 200L), Nil) === 100L)
    assert(uncovered((100L, 200L), Seq((110L, 150L), (140L, 160L))) === 50L)
    assert(uncovered((100L, 200L), Seq((50L, 120L), (190L, 300L))) === 70L)
    assert(uncovered((100L, 200L), Seq((0L, 500L))) === 0L)
    assert(uncovered((100L, 200L), Seq((300L, 400L))) === 100L)
  }

  test("jobs attribute to the trigger that committed their streaming.sql.batchId") {
    val ops = Seq(OpWindow(0, 1000L, 2000L, Some(7L)), OpWindow(1, 2000L, 3000L, Some(8L)))
    val jobs = Seq(
      JobSample(1, 1100L, 1200L, Some(7L)),
      // carries batch 8 although it started inside trigger 0's window
      JobSample(2, 1900L, 2100L, Some(8L)),
      JobSample(3, 2500L, 2600L, Some(8L)))
    val by = attributeJobs(jobs, ops)
    assert(by(0).map(_.id) === Seq(1))
    assert(by(1).map(_.id) === Seq(2, 3))
  }

  test("jobs without a batch id fall back to the window they started in") {
    val ops = Seq(OpWindow(0, 1000L, 2000L, Some(7L)), OpWindow(1, 2000L, 3000L, None))
    val jobs = Seq(
      JobSample(1, 1500L, 2500L, None),
      JobSample(2, 2000L, 2100L, None),
      JobSample(3, 3000L, 3100L, None))
    val by = attributeJobs(jobs, ops)
    assert(by(0).map(_.id) === Seq(1))
    assert(by(1).map(_.id) === Seq(2))
    assert(!by.values.flatten.exists(_.id == 3), "a job outside every window is dropped")
  }

  test("a job whose batch id no traced trigger committed is dropped, not guessed") {
    val ops = Seq(OpWindow(0, 1000L, 2000L, Some(7L)))
    assert(attributeJobs(Seq(JobSample(1, 1500L, 1600L, Some(6L))), ops).isEmpty)
  }

  test("a trigger that committed two micro-batches owns the jobs of both") {
    val ops = Seq(OpWindow(0, 1000L, 2000L, Some(7L)), OpWindow(0, 1000L, 2000L, Some(8L)))
    val by = attributeJobs(Seq(JobSample(1, 1100L, 1200L, Some(7L)),
      JobSample(2, 1300L, 1400L, Some(8L))), ops)
    assert(by(0).map(_.id) === Seq(1, 2))
  }
}
