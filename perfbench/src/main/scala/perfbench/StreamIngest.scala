package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.ops.Manifest

/** `stream_ingest`: an open loop. The benchmark appends a fixed-size
  * batch of seeded `events` rows to a manifest table on a fixed
  * schedule; one streaming query reads the table through the
  * `graft-manifest` source, drops duplicate event ids within a
  * watermark and writes through the `graft-manifest` sink. An op is one
  * append; its latency runs from when it was due to the end of the first
  * micro-batch whose source end offset covers its version. */
final class StreamIngest(seed: Long) extends Workload {
  import StreamIngest._

  private val rng = new java.util.Random(seed)
  private var spark: SparkSession = _
  private var src: String = _
  private var sink: String = _
  private var query: StreamingQuery = _
  private val progress = new ConcurrentLinkedQueue[BatchRec]()
  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(batchOf(e.progress))
  }
  // model: every distinct event id appended; the ids of the previous
  // append (duplicates are drawn from it)
  private val generated = mutable.LongMap.empty[Unit]
  private var previous = IndexedSeq.empty[(Long, java.sql.Timestamp)]
  private var nextId = 0L
  private var appendNo = 0L
  // the appends of the last window
  private var appends = Seq.empty[Append]
  private var windowBatches = Seq.empty[BatchRec]

  def setup(s: SparkSession, dir: Path): Unit = {
    spark = s
    src = dir.resolve("source").toString
    sink = dir.resolve("sink").toString
    s.streams.addListener(listener)
    Manifest.commitAppend(s, src, Table, batchFrame())
    query = s.readStream.format("graft-manifest")
      .option("root", src).option("table", Table).load()
      .withWatermark("ts", Watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("graft-manifest")
      .option("root", sink).option("table", Table)
      .option("checkpointLocation", dir.resolve("checkpoint").toString)
      .outputMode("append").start()
  }

  /** The next append's rows: fresh ids, plus duplicates of ids from the
    * previous append with their original timestamps, which lie inside
    * the watermark and so must be dropped. */
  private def batchFrame() = {
    appendNo += 1
    val base = BaseTs + appendNo * StepMs
    val dups = if (previous.isEmpty) Nil
      else Seq.fill(Dups)(previous(rng.nextInt(previous.size)))
    val fresh = Seq.fill(BatchRows - dups.size) {
      val id = nextId; nextId += 1
      (id, new java.sql.Timestamp(base + rng.nextInt(StepMs.toInt)))
    }
    fresh.foreach { case (id, _) => generated(id) = () }
    previous = fresh.toIndexedSeq
    val rows = (fresh ++ dups).map { case (id, ts) =>
      Row(id, ts, rng.nextInt(2000).toLong,
        DmlTxn.EventTypes(rng.nextInt(DmlTxn.EventTypes.size)),
        rng.nextInt(20000) / 100.0, s"""{"k": ${rng.nextInt(100)}}""")
    }
    spark.createDataFrame(rows.asJava, DmlTxn.EventSchema)
  }

  /** Appends on schedule for `millis`; returns per-append records. */
  private def generate(millis: Long): Seq[Append] = {
    val out = mutable.ArrayBuffer.empty[Append]
    val t0 = System.currentTimeMillis() + PeriodMs
    var i = 0
    while (t0 + i * PeriodMs < t0 + millis) {
      val due = t0 + i * PeriodMs
      val df = batchFrame() // untimed: building the input is not the op
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val start = System.currentTimeMillis()
      val n0 = System.nanoTime()
      // the append's own jobs carry its op id; the streaming query's
      // run on the query's thread and stay unattributed
      spark.sparkContext.setLocalProperty(Trace.OpKey, i.toString)
      val v = try Manifest.commitAppend(spark, src, Table, df)
        finally spark.sparkContext.setLocalProperty(Trace.OpKey, null)
      out += Append(v, due, start, System.currentTimeMillis(), (System.nanoTime() - n0) / 1e6)
      i += 1
    }
    out.toSeq
  }

  /** Waits until the query has processed every committed version. */
  private def drain(): Unit = {
    query.processAllAvailable()
    org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
  }

  private def latencies(as: Seq[Append], bs: Seq[BatchRec]): Seq[Option[Long]] =
    StreamLatency.latencies(as.map(a => (a.version, a.dueMs)), bs)

  /** Bursts of appends until the median latency of a burst is no
    * longer 5% below the best burst before it, at most
    * `MaxWarmupBursts`. */
  def warmup(): Unit = {
    var best = Double.MaxValue
    var n = 0
    var falling = true
    while (n < MaxWarmupBursts && falling) {
      progress.clear()
      val as = generate(WarmupBurstMs)
      drain()
      val ls = latencies(as, progress.asScala.toSeq)
      if (ls.exists(_.isEmpty)) throw new GateFailure("an append was never served during warm-up")
      val med = Stats.median(ls.flatten.map(_.toDouble))
      falling = med < best * 0.95
      best = math.min(best, med)
      n += 1
      System.err.println(s"[perfbench] warm-up burst $n: median $med ms")
    }
  }

  def window(seconds: Int): Seq[OpRec] = {
    progress.clear()
    appends = generate(seconds * 1000L)
    drain()
    windowBatches = progress.asScala.toSeq
    latencies(appends, windowBatches).zip(appends).zipWithIndex.map {
      case ((lat, a), i) =>
        OpRec(i, "append", a.dueMs, a.dueMs + lat.getOrElse(0L),
          lat.map(_.toDouble).getOrElse(0.0), lat.isDefined)
    }
  }

  /** The generator's own work is the append call; the rest of an op's
    * latency is the streaming query's, on the query's thread. */
  override def attributed(ops: Seq[OpRec]): Seq[OpRec] =
    appends.zipWithIndex.map { case (a, i) => OpRec(i, "append", a.startMs, a.endMs, a.ms, ok = true) }

  /** After the drain: the sink holds each generated id exactly once, its
    * exactly-once ledger is at the query's last batch, and the source
    * has no backlog. */
  def gate(): Unit = {
    val ids = Manifest.readTable(spark, sink, Table).select("event_id").collect().map(_.getLong(0))
    if (ids.length != generated.size || ids.toSet != generated.keySet.toSet)
      throw new GateFailure(s"sink holds ${ids.length} rows (${ids.toSet.size} distinct), " +
        s"${generated.size} distinct ids were appended")
    val last = query.lastProgress
    val ledger = Manifest.lastCommittedTxn(sink, s"sink-$Table")
    if (!ledger.contains(last.batchId))
      throw new GateFailure(s"sink ledger at $ledger, last batch ${last.batchId}")
    val served = batchOf(last).endOffset
    val head = Manifest.snapshotVersion(src)
    if (!served.contains(head))
      throw new GateFailure(s"source backlog: served $served, table at v$head")
  }

  def spaceAmp(): Double = {
    val once = Files.createTempDirectory("pb-once")
    Seq(src, sink).zipWithIndex.foreach { case (r, i) =>
      Manifest.readTable(spark, r, Table).coalesce(1).write
        .option("compression", "snappy").parquet(once.resolve(s"t$i").toString)
    }
    val written = Main.parquetBytes(once)
    Main.deleteTree(once)
    Seq(src, sink).map(r => Main.treeBytes(Paths.get(r))).sum.toDouble / written
  }

  def layerMetrics(ops: Seq[OpRec]): Seq[(String, Double, String)] = {
    val bs = windowBatches
    def dur(ks: String*) = Stats.median(bs.map(b => ks.map(b.durations.getOrElse(_, 0L)).sum.toDouble))
    val data = bs.filter(_.numInputRows > 0)
    val spans = bs.flatMap(b => for (e <- b.endOffset; s <- b.startOffset) yield (e - s).toDouble)
    Seq(
      ("stream.trigger_ms", dur("triggerExecution"), "ms"),
      // a V1 source reports `getOffset`, a V2 one `latestOffset`
      ("stream.get_offset_ms", dur("getOffset", "latestOffset"), "ms"),
      ("stream.get_batch_ms", dur("getBatch"), "ms"),
      ("stream.query_planning_ms", dur("queryPlanning"), "ms"),
      ("stream.add_batch_ms", dur("addBatch"), "ms"),
      ("stream.wal_commit_ms", dur("walCommit"), "ms"),
      ("stream.commit_offsets_ms", dur("commitOffsets"), "ms"),
      ("stream.versions_per_batch",
        if (data.isEmpty) 0.0 else Stats.median(spans.filter(_ > 0)), "count"),
      ("stream.no_data_batch_share", 1.0 - data.size.toDouble / bs.size.max(1), "ratio"),
      ("stream.state_rows", bs.lastOption.map(_.stateRows.toDouble).getOrElse(0.0), "count"),
      ("stream.state_mem_bytes", bs.lastOption.map(_.stateMemBytes.toDouble).getOrElse(0.0), "bytes"),
      ("stream.backlog_versions_max", backlogMax(appends, bs).toDouble, "count"),
      ("gen.append_ms", Stats.median(appends.map(_.ms)), "ms"),
      ("gen.late_ms_max", appends.map(a => (a.startMs - a.dueMs).toDouble).max, "ms")) ++
      ManifestWalk.metrics(Paths.get(src))
  }

  override def close(): Unit = {
    if (query != null) { query.stop(); query = null }
    if (spark != null) spark.streams.removeListener(listener)
  }
}

object StreamIngest {
  /** Most versions that were already committed when a micro-batch
    * started but lay beyond the end offset that batch served. */
  def backlogMax(appends: Seq[Append], batches: Seq[BatchRec]): Long = {
    val commits = appends.map(a => (a.endMs, a.version)).sortBy(_._1)
    batches.flatMap { b =>
      val startMs = b.endMs - b.durations.getOrElse("triggerExecution", 0L)
      val head = commits.takeWhile(_._1 <= startMs).lastOption.map(_._2)
      for (h <- head; e <- b.endOffset) yield math.max(0L, h - e)
    }.maxOption.getOrElse(0L)
  }

  /** One append: the version it committed, when it was due, when the
    * call started and ended (wall ms), and its duration. */
  final case class Append(version: Long, dueMs: Long, startMs: Long, endMs: Long, ms: Double)

  val Table = "events"
  /** One append every `PeriodMs`, `BatchRows` rows each, `Dups` of them
    * repeating ids of the previous append. */
  val PeriodMs = 150L
  val BatchRows = 200
  val Dups = 20
  /** Event time advances `StepMs` per append; the watermark keeps about
    * ten appends' ids in the dedup state. */
  val StepMs = 60000L
  val Watermark = "10 minutes"
  val BaseTs = 1735689600000L // 2025-01-01 UTC
  val WarmupBurstMs = 1500L
  val MaxWarmupBursts = 3

  private def offsetOf(json: String): Option[Long] =
    Option(json).map(_.trim).filter(_.nonEmpty).filter(_ != "null").map(_.toLong)

  def batchOf(p: org.apache.spark.sql.streaming.StreamingQueryProgress): BatchRec = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val src = p.sources.headOption
    val state = p.stateOperators.headOption
    BatchRec(p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli + d.getOrElse("triggerExecution", 0L),
      src.flatMap(s => offsetOf(s.endOffset)), src.flatMap(s => offsetOf(s.startOffset)),
      p.numInputRows, d,
      state.map(_.numRowsTotal).getOrElse(0L), state.map(_.memoryUsedBytes).getOrElse(0L))
  }
}
