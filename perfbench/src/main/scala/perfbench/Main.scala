package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed public call of a closed-loop workload. `prepare` and
  * `settle` run untimed around it: `prepare` writes the op's inputs,
  * `settle` checks its result against the workload's model. */
final case class Op(kind: String, call: () => Unit,
                    prepare: () => Unit = () => (),
                    settle: () => Unit = () => ())

/** What every workload provides to the harness. */
trait Workload {
  /** Build fresh tables and state under `dir` on `spark`. */
  def setup(spark: SparkSession, dir: Path): Unit
  /** Untimed ops until latency stops falling; part of set-up. */
  def warmup(): Unit
  /** The timed window; returns every op attempted in it. */
  def window(seconds: Int): Seq[OpRec]
  /** Correctness gate, run after the window. Throws on a mismatch. */
  def gate(): Unit
  /** Bytes on disk ÷ bytes of the same live rows written once as one
    * snappy parquet file. */
  def spaceAmp(): Double
  /** The intervals in which each op's own thread does its work, which
    * the Spark, Catalyst and driver split covers: the ops themselves,
    * unless an op's latency runs on another thread. */
  def attributed(ops: Seq[OpRec]): Seq[OpRec] = ops
  /** Workload-specific per-layer metrics (traced run only). */
  def layerMetrics(ops: Seq[OpRec]): Seq[(String, Double, String)]
  /** Stop anything the workload started. */
  def close(): Unit = ()
}

/** A gate failure: the run fails, it is not recorded as a slow op. */
final class GateFailure(msg: String) extends RuntimeException(msg)

object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        inputs: Path, work: Path, out: Path, cores: Int)

  /** Set-ups timed for `setup_s` after the window, each in a warm JVM. */
  val WarmSetups = 3

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("inputs")), Paths.get(need("work")),
      Paths.get(need("out")), need("cores").toInt)
  }

  /** The session that owns the run's SparkContext; workloads run on
    * sessions derived from it. */
  def newContext(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workloadFor(a: Args): Workload = a.workload match {
    case "dml_txn" => new DmlTxn(a.seed, a.inputs)
    case "scan_mix" => new ScanMix(a.seed, a.inputs, a.work)
    case "stream_ingest" => new StreamIngest(a.seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** One set-up: a fresh session with the engine initialised on it,
    * the workload's tables and state under a fresh directory. */
  def setUp(ctx: SparkSession, a: Args, i: Int): (SparkSession, Workload, Path) = {
    val dir = Files.createDirectories(a.work.resolve(s"setup$i"))
    val s = ctx.newSession()
    graft.Graft.init(s)
    val w = workloadFor(a)
    w.setup(s, dir)
    (s, w, dir)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val metrics = mutable.ArrayBuffer.empty[(String, Double, String)]
    var ctx: SparkSession = null
    var w: Workload = null
    var exitCode = 0
    try {
      // The cold set-up, reported per layer as `setup.cold_s`: from JVM
      // start, through the first set-up and the warm-up, to the first
      // timed op. The window runs on this set-up's state.
      ctx = newContext(a.cores, a.work)
      val (spark, w1, _) = setUp(ctx, a, 1)
      w = w1
      val t1 = System.currentTimeMillis()
      w.warmup()
      val coldS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      System.err.println(s"[perfbench] cold set-up ${(t1 - jvmStartMs) / 1000.0} s, " +
        s"with warm-up $coldS s")

      val jobs = new JobListener
      val plans = new PlanListener(spark)
      if (a.trace) {
        ctx.sparkContext.addSparkListener(jobs)
        spark.listenerManager.register(plans)
      }
      System.gc() // the window starts without the set-up's garbage
      val gcBefore = gcMs()
      val ops = w.window(a.seconds)
      val gcAfter = gcMs()
      org.apache.spark.BenchAccess.drainListeners(ctx.sparkContext)
      if (a.trace) ctx.sparkContext.removeSparkListener(jobs)

      val tg = System.currentTimeMillis()
      w.gate()
      val attempted = ops.size
      val failed = ops.count(!_.ok)
      if (attempted == 0) throw new GateFailure("no op was attempted")
      val okLat = ops.filter(_.ok).map(_.latencyMs)
      val winMs = ops.map(_.endMs).max - ops.map(_.startMs).min
      // a failed op misses every latency bound: it counts as +inf
      val lat = okLat ++ Seq.fill(failed)(Double.PositiveInfinity)
      val ta = System.currentTimeMillis()
      val amp = w.spaceAmp()
      val th = System.currentTimeMillis()
      val heapMb = retainedHeapMb()
      System.err.println(s"[perfbench] gate ${(ta - tg) / 1000.0} s, space_amp ${(th - ta) / 1000.0} s, " +
        s"retained heap ${(System.currentTimeMillis() - th) / 1000.0} s")
      val layers = if (!a.trace) Nil else {
        val own = w.attributed(ops)
        sparkLayers(own, ops, jobs, plans, a.cores) ++
          Seq(("jvm.gc_ms_per_op", (gcAfter - gcBefore).toDouble / attempted, "ms"),
            ("setup.cold_s", coldS, "s")) ++
          w.layerMetrics(ops)
      }
      w.close()
      w = null

      // Set-up again, untraced, in the now warm JVM; setup_s is the
      // median. Each set-up is retired untimed, its garbage included.
      val setupS = (2 to WarmSetups + 1).map { i =>
        System.gc()
        val t0 = System.currentTimeMillis()
        val (_, wi, dir) = setUp(ctx, a, i)
        val sec = (System.currentTimeMillis() - t0) / 1000.0
        wi.close()
        deleteTree(dir)
        sec
      }
      System.err.println(s"[perfbench] warm set-ups ${setupS.mkString(", ")} s")

      val e2e = Seq(
        ("setup_s", Stats.median(setupS), "s"),
        ("ops_per_s", ops.count(_.ok) / (winMs / 1000.0), "1/s"),
        ("op_p50_ms", Stats.median(lat), "ms"),
        ("op_p90_ms", Stats.percentile(lat, 0.9), "ms"),
        ("space_amp", amp, "ratio"),
        ("heap_retained_mb", heapMb, "MB"))
      if (!a.trace) metrics ++= e2e
      else {
        val byName = layers.map(m => m._1 -> m).toMap
        // every per-layer metric is reported on every workload; a layer
        // the workload does not exercise reads 0
        metrics ++= Layers.all.map { case (n, u) => byName.getOrElse(n, (n, 0.0, u)) }
        val extra = byName.keySet -- Layers.all.map(_._1)
        require(extra.isEmpty, s"unlisted per-layer metrics: $extra")
      }
      val info = Seq(
        "samples" -> attempted.toString,
        "samples_beyond_p90" -> Stats.beyond(lat, 0.9).toString,
        "setup_cold_s" -> fmt(coldS),
        "setup_s_all" -> setupS.map(fmt).mkString("[", ",", "]"),
        "e2e" -> e2e.map { case (k, v, _) => s"${quote(k)}: ${fmt(v)}" }.mkString("{", ", ", "}"))
      writeResult(a.out, correct = true, attempted, failed, metrics.toSeq, info)
    } catch {
      case e: GateFailure =>
        System.err.println(s"[perfbench] correctness gate failed: ${e.getMessage}")
        writeResult(a.out, correct = false, 1, 1, Nil, Seq("error" -> quote(e.getMessage)))
        exitCode = 3
    } finally {
      if (w != null) w.close()
      if (ctx != null) ctx.stop()
    }
    if (exitCode != 0) sys.exit(exitCode)
  }

  /** The Spark, Catalyst and driver split of `own` (the intervals in
    * which each op's own thread works); jobs without an op property
    * are counted over the whole window `ops` spans. */
  private def sparkLayers(own: Seq[OpRec], ops: Seq[OpRec], jobs: JobListener,
                          plans: PlanListener, cores: Int): Seq[(String, Double, String)] = {
    val js = jobs.jobs.asScala.toSeq
    val per = Attribution.perOp(own, js, jobs.stages.asScala.toSeq,
      plans.plans.asScala.toSeq).values.toSeq
    def med(f: OpLayers => Double) = Stats.median(per.map(f))
    val stages = per.map(_.stages).sum
    val busy = per.map(_.busyMs).sum
    Seq(
      ("spark.jobs_per_op", med(_.jobs.toDouble), "count"),
      ("spark.stages_per_op", med(_.stages.toDouble), "count"),
      ("spark.tasks_per_op", med(_.tasks.toDouble), "count"),
      ("spark.single_task_stage_share",
        if (stages == 0) 0.0 else per.map(_.singleTaskStages).sum.toDouble / stages, "ratio"),
      ("spark.jobs_unattributed", Attribution.unattributed(js,
        ops.map(_.startMs).min, ops.map(_.endMs).max).toDouble, "count"),
      ("spark.job_busy_ms_per_op", med(_.busyMs.toDouble), "ms"),
      ("spark.task_run_ms_per_op", med(_.taskRunMs.toDouble), "ms"),
      ("spark.core_use",
        if (busy == 0) 0.0 else per.map(_.taskRunMs).sum.toDouble / (busy.toDouble * cores), "ratio"),
      ("spark.shuffle_write_bytes_per_op", med(_.shuffleWriteBytes.toDouble), "bytes"),
      ("spark.input_bytes_per_op", med(_.inputBytes.toDouble), "bytes"),
      ("spark.output_bytes_per_op", med(_.outputBytes.toDouble), "bytes"),
      ("catalyst.executions_per_op", med(_.executions.toDouble), "count"),
      ("catalyst.analysis_ms_per_op", med(_.analysisMs.toDouble), "ms"),
      ("catalyst.optimization_ms_per_op", med(_.optimizationMs.toDouble), "ms"),
      ("catalyst.planning_ms_per_op", med(_.planningMs.toDouble), "ms"),
      ("driver.residual_ms_per_op", med(_.residualMs), "ms"),
      ("op.wall_ms_p50", Stats.median(own.map(_.latencyMs)), "ms"))
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap in use after full collections, repeated until three in a row
    * free less than 1 MB: Spark frees shuffle and broadcast blocks from a
    * cleaner thread only after a collection has found their handles
    * unreachable, so one collection leaves them counted. */
  private def retainedHeapMb(): Double = {
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var last = used()
    var quiet = 0
    var n = 0
    while (quiet < 3 && n < 30) {
      Thread.sleep(100)
      val now = used()
      quiet = if (now < last - (1L << 20)) 0 else quiet + 1
      last = math.min(last, now)
      n += 1
    }
    last / (1024.0 * 1024.0)
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def quote(s: String): String =
    "\"" + Option(s).getOrElse("").flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  private def writeResult(out: Path, correct: Boolean, attempted: Int, failed: Int,
                          metrics: Seq[(String, Double, String)],
                          info: Seq[(String, String)]): Unit = {
    val ms = metrics.map { case (k, v, u) =>
      s"${quote(k)}: {\"value\": ${fmt(v)}, \"unit\": ${quote(u)}}" }.mkString(", ")
    val inf = info.map { case (k, v) => s"${quote(k)}: $v" }.mkString(", ")
    val js = s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$ms}, "info": {$inf}}"""
    Files.write(out, js.getBytes("UTF-8"))
  }

  def deleteTree(p: Path): Unit = graft.ops.Staging.deleteRecursively(p)

  /** Bytes of the parquet part files under `p`. */
  def parquetBytes(p: Path): Long = {
    val walk = Files.walk(p)
    try walk.iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum
    finally walk.close()
  }

  /** Total bytes of every regular file under `p`. */
  def treeBytes(p: Path): Long = {
    val walk = Files.walk(p)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally walk.close()
  }
}
