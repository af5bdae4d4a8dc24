package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** `scan_mix`: one client running read-only engine queries over the
  * seeded sf0.1-sized replica, every query once per round in a seeded
  * order. No query touches the manifest table format, so commit-path
  * changes should leave this workload unchanged. */
final class ScanMix(seed: Long, inputs: Path, work: Path) extends Workload {
  private val rng = new java.util.Random(seed)
  private var spark: SparkSession = _
  private var loop: ClosedLoop = _
  private val queries = Layers.scanQueries.map(q => q -> graft.SparkEntry.queries(q))
  // the last result of each query, and the digests of every result it gave
  private val last = mutable.HashMap.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
  private val digests = mutable.HashMap.empty[String, mutable.Set[String]]

  def setup(s: SparkSession, dir: Path): Unit = {
    spark = s
    graft.Tables.registerAll(s, inputs.toString)
    loop = new ClosedLoop(s, () => nextRound())
  }

  def warmup(): Unit = loop.warmup(maxRounds = 1)

  def window(seconds: Int): Seq[OpRec] = {
    last.clear(); digests.clear()
    loop.window(ClosedLoop.roundsFor(seconds, 7.0))
  }

  private def nextRound(): Seq[Op] = Shuffle(queries, rng).map { case (name, fn) =>
    var rows: Array[Row] = Array.empty
    var schema: org.apache.spark.sql.types.StructType = null
    Op(name,
      // no cached relation carries over from one op to the next
      prepare = () => spark.catalog.clearCache(),
      call = () => {
        val df = fn(spark, inputs.toString)
        rows = df.collect()
        schema = df.schema
      },
      settle = () => {
        last(name) = (rows, schema)
        digests.getOrElseUpdate(name, mutable.Set.empty) += ScanMix.digest(rows)
      })
  }

  /** Every query gave one result throughout the window; the last one
    * is written out for the DuckDB oracle, which the caller runs. */
  def gate(): Unit = {
    val out = Files.createDirectories(work.resolve("oracle"))
    val oracles = graft.SparkEntry.oracleSql
    digests.foreach { case (q, ds) =>
      if (ds.size != 1) throw new GateFailure(s"$q gave ${ds.size} different results in one run")
    }
    val js = last.toSeq.sortBy(_._1).map { case (q, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(out.resolve(q).toString)
      val sql = oracles.getOrElse(q, throw new GateFailure(s"$q has no oracle SQL"))
      s"${Main.quote(q)}: ${Main.quote(sql)}"
    }
    Files.write(out.resolve("oracle_sql.json"), js.mkString("{", ", ", "}").getBytes("UTF-8"))
  }

  /** The workload writes nothing: its tables are the replica, each
    * written once as one snappy parquet file. */
  def spaceAmp(): Double = 1.0

  def layerMetrics(ops: Seq[OpRec]): Seq[(String, Double, String)] =
    Layers.kindMedians(ops, Layers.scanQueries.map(q => q -> Layers.scanMetric(q)))
}

object ScanMix {
  /** Order-independent digest of a result. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

object Shuffle {
  /** Fisher-Yates shuffle driven by `rng`. */
  def apply[A](xs: Seq[A], rng: java.util.Random): Seq[A] = {
    val b = xs.toBuffer
    for (i <- b.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = b(i); b(i) = b(j); b(j) = t
    }
    b.toSeq
  }
}
