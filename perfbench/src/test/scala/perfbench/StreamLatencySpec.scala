package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StreamLatencySpec extends AnyFunSuite {
  private def batch(id: Long, endMs: Long, end: Long, rows: Long = 1): BatchRec =
    BatchRec(id, endMs, Some(end), None, rows, Map("triggerExecution" -> 100L), 0, 0)

  test("an append is served by the first batch whose end offset covers its version") {
    val batches = Seq(batch(0, 1000, 1), batch(1, 1500, 3), batch(2, 2100, 4))
    val appends = Seq((2L, 900L), (3L, 1000L), (4L, 1600L), (5L, 1700L))
    assert(StreamLatency.latencies(appends, batches) ==
      Seq(Some(600L), Some(500L), Some(500L), None))
  }

  test("no-data batches repeat the end offset and never claim a version first") {
    val batches = Seq(batch(0, 1000, 2), batch(1, 1100, 2, rows = 0), batch(2, 1200, 2, rows = 0),
      batch(3, 1800, 5), batch(4, 1900, 5, rows = 0))
    assert(StreamLatency.latencies(Seq((2L, 0L), (3L, 1000L), (5L, 1000L)), batches) ==
      Seq(Some(1000L), Some(800L), Some(800L)))
  }

  test("order of progress reports does not matter and more than 100 are kept") {
    // 300 batches, each serving one version; the listener keeps them all
    // (StreamingQuery.recentProgress would hold only the last 100)
    val batches = (0 until 300).map(i => batch(i, 10000L + i * 100, i + 1L))
    val appends = (1 to 300).map(v => (v.toLong, 10000L + (v - 1) * 100 - 40))
    val got = StreamLatency.latencies(appends, scala.util.Random.shuffle(batches))
    assert(got.forall(_.contains(40L)))
    assert(got.size == 300)
  }

  test("backlog counts versions committed before a batch started that it did not serve") {
    def append(v: Long, endMs: Long) = StreamIngest.Append(v, endMs - 50, endMs - 40, endMs, 40.0)
    val appends = Seq(append(1, 900), append(2, 950), append(3, 1250), append(4, 1300))
    // batch 0 starts at 900 and serves v1; batch 1 starts at 1300 and
    // serves only v2 while v3 and v4 are committed; batch 2 catches up
    val batches = Seq(batch(0, 1000, 1), batch(1, 1400, 2), batch(2, 1600, 4))
    assert(StreamIngest.backlogMax(appends, batches) == 2)
    assert(StreamIngest.backlogMax(appends, Seq(batch(0, 1400, 4))) == 0)
  }
}
