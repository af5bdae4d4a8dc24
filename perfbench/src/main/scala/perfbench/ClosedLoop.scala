package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One client issuing ops back to back: the next op starts only after
  * the previous one returned. */
final class ClosedLoop(spark: SparkSession, nextRound: () => Seq[Op]) {
  private var nextId = 0

  /** Runs `op` with its id as the op local property; None on failure. */
  private def run(op: Op): OpRec = {
    op.prepare()
    val id = nextId; nextId += 1
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.OpKey, id.toString)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ok = try { op.call(); true } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] op ${op.kind} failed: $e")
        false
    } finally sc.setLocalProperty(Trace.OpKey, null)
    val latencyMs = (System.nanoTime() - t0) / 1e6
    val rec = OpRec(id, op.kind, startMs, System.currentTimeMillis(), latencyMs, ok)
    if (ok) op.settle()
    rec
  }

  private def round(): (Seq[OpRec], Double) = {
    val t0 = System.nanoTime()
    val recs = nextRound().map(run)
    (recs, (System.nanoTime() - t0) / 1e9)
  }

  /** Untimed rounds until a round is no longer 5% faster than the
    * fastest before it, at most `maxRounds`. A failed warm-up op fails
    * the run: the window would measure a broken state. */
  def warmup(maxRounds: Int): Unit = {
    var fastest = Double.MaxValue
    var n = 0
    var falling = true
    while (n < maxRounds && falling) {
      val (recs, wall) = round()
      if (recs.exists(!_.ok)) throw new GateFailure("an op failed during warm-up")
      falling = wall < fastest * 0.95
      fastest = math.min(fastest, wall)
      n += 1
      System.err.println(f"[perfbench] warm-up round $n: $wall%.3f s")
    }
  }

  /** `rounds` whole rounds, so every run does the same work and sees
    * the op kinds in the same proportion. */
  def window(rounds: Int): Seq[OpRec] = (1 to rounds).flatMap { _ =>
    val (recs, wall) = round()
    System.err.println(f"[perfbench] window round: $wall%.3f s " +
      recs.map(r => f"${r.kind}=${r.latencyMs}%.0f").mkString(" "))
    recs
  }
}

object ClosedLoop {
  /** Rounds that fill a window of about `seconds` when a round takes
    * about `roundS` seconds warm on a 4-core box; at least two, so each
    * op kind is sampled twice. */
  def roundsFor(seconds: Int, roundS: Double): Int =
    math.max(2, math.round(seconds / roundS).toInt)
}
