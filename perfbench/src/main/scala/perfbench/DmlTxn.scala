package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Manifest, Similarity}
import graft.sources.ManifestSql

/** `dml_txn`: one client, one manifest-table root holding `events` and
  * `embeddings`, a seeded statement mix that keeps the live row count
  * flat while the table history grows by one version per write. An
  * in-memory model of the same op sequence checks every time-travel
  * read in the window and the final table after it. */
final class DmlTxn(seed: Long, inputs: Path) extends Workload {
  import DmlTxn._

  private val rng = new java.util.Random(seed)
  private var spark: SparkSession = _
  private var root: String = _
  private var stage: Path = _
  private var loop: ClosedLoop = _

  // model: live events (event_id -> (user_id, event_type, cents)),
  // live embeddings, the vec_ids the ANN index covered at its last
  // maintenance, and the events digest at every version a write made
  private val events = mutable.LongMap.empty[(Long, String, Long)]
  private val eventIds = new IdBag
  private val vectors = mutable.LongMap.empty[Array[Float]]
  private val vecIds = new IdBag
  private var indexed = Set.empty[Long]
  private val digests = mutable.LinkedHashMap.empty[Long, Digest]
  private var nextEventId = 10000000L
  private var nextVecId = 1000000L
  private var seq = 0

  def setup(s: SparkSession, dir: Path): Unit = {
    spark = s
    root = dir.resolve("table").toString
    stage = Files.createDirectories(dir.resolve("stage"))
    val ev = graft.Tables.load(s, inputs.toString, "events")
    val emb = graft.Tables.load(s, inputs.toString, "embeddings")
    Manifest.commitAppend(s, root, "events", ev)
    Manifest.commitAppend(s, root, "embeddings", emb)
    Similarity.buildAnnIndex(s, root, "embeddings", Ann)
    ev.select(col("event_id"), col("user_id"), col("event_type"),
      centsCol).collect().foreach { r =>
      events(r.getLong(0)) = (r.getLong(1), r.getString(2), r.getLong(3))
      eventIds.add(r.getLong(0))
    }
    emb.select("vec_id", "embedding").collect().foreach { r =>
      vectors(r.getLong(0)) = r.getSeq[Float](1).toArray
      if (r.getLong(0) >= Trainers) vecIds.add(r.getLong(0))
    }
    indexed = vectors.keySet.toSet
    digests(Manifest.snapshotVersion(root)) = digest()
    loop = new ClosedLoop(s, () => nextRound())
  }

  def warmup(): Unit = loop.warmup(maxRounds = 1)

  def window(seconds: Int): Seq[OpRec] = loop.window(ClosedLoop.roundsFor(seconds, 10.0))

  private def digest(): Digest = {
    var s1, s2, s3, s4 = 0L
    events.foreach { case (id, (u, _, c)) =>
      s1 += id; s2 += id * id; s3 += c; s4 += u * c
    }
    Digest(events.size.toLong, s1, s2, s3, s4)
  }

  /** Records the model state at the version the last write produced. */
  private def committed(): Unit = digests(Manifest.snapshotVersion(root)) = digest()

  private def sql(text: String): Unit = ManifestSql.runDml(spark, root, text)

  private def newRow(): Row = {
    val id = nextEventId; nextEventId += 1
    val u = rng.nextInt(Users).toLong
    val t = EventTypes(rng.nextInt(EventTypes.size))
    val c = rng.nextInt(20000).toLong
    val ts = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
      1706745600L + rng.nextInt(2592000)))
    Row(id, ts, u, t, c / 100.0, s"""{"k": ${rng.nextInt(100)}}""")
  }

  private def addToModel(r: Row): Unit = {
    val id = r.getLong(0)
    events(id) = (r.getLong(2), r.getString(3), math.round(r.getDouble(4) * 100))
    eventIds.add(id)
  }

  private def view(name: String, rows: Seq[Row], schema: StructType): Unit =
    spark.createDataFrame(rows.asJava, schema).createOrReplaceTempView(name)

  /** One round: every statement kind once, in a seeded order. */
  private def nextRound(): Seq[Op] = {
    seq += 1
    val k = seq
    val ops = Seq(
      {
        var rows = Seq.empty[Row]
        val file = s"c$k.csv"
        Op("sql.copy",
          prepare = () => {
            rows = Seq.fill(Batch)(newRow())
            val lines = "event_id,ts,user_id,event_type,value,props" +: rows.map { r =>
              val ts = r.getTimestamp(1).toInstant.toString.replace("T", " ").stripSuffix("Z")
              s"${r.getLong(0)},$ts,${r.getLong(2)},${r.getString(3)},${r.getDouble(4)},k${r.getString(5).filter(_.isDigit)}"
            }
            Files.write(stage.resolve(file), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
          },
          call = () => sql(
            s"""COPY INTO events FROM (
               |  SELECT CAST($$1 AS BIGINT), CAST($$2 AS TIMESTAMP), CAST($$3 AS BIGINT),
               |    $$4, CAST($$5 AS DOUBLE), $$6
               |  FROM '$stage')
               |FILES = ('$file')
               |FILE_FORMAT = (TYPE = CSV FIELD_DELIMITER = ',' SKIP_HEADER = 1)""".stripMargin),
          settle = () => { rows.foreach(addToModel); committed() })
      }, {
        var rows = Seq.empty[Row]
        Op("sql.insert",
          prepare = () => {
            rows = Seq.fill(VecBatch) {
              val id = nextVecId; nextVecId += 1
              Row(id, Seq.fill(Dim)((rng.nextGaussian() * 0.1).toFloat), rng.nextInt(8))
            }
            view("pb_emb_ins", rows, EmbSchema)
          },
          call = () => sql("INSERT INTO embeddings SELECT vec_id, embedding, label FROM pb_emb_ins"),
          settle = () => {
            rows.foreach { r =>
              vectors(r.getLong(0)) = r.getSeq[Float](1).toArray; vecIds.add(r.getLong(0))
            }
            committed()
          })
      }, {
        var user = 0L; var cents = 0L
        Op("sql.update",
          prepare = () => { user = rng.nextInt(Users).toLong; cents = 1 + rng.nextInt(500) },
          call = () => sql(s"UPDATE events SET value = value + ${cents / 100.0} WHERE user_id = $user"),
          settle = () => {
            events.foreach { case (id, (u, t, c)) => if (u == user) events(id) = (u, t, c + cents) }
            committed()
          })
      }, {
        var ids = Seq.empty[Long]
        Op("sql.delete",
          prepare = () => {
            ids = eventIds.take(Batch + Batch / 2, rng)
            view("pb_del", ids.map(Row(_)), StructType(Seq(StructField("event_id", LongType))))
          },
          call = () => sql("DELETE FROM events WHERE event_id IN (SELECT event_id FROM pb_del)"),
          settle = () => { ids.foreach(events.remove); committed() })
      }, {
        var ids = Seq.empty[Long]
        Op("sql.delete_vec",
          prepare = () => {
            ids = vecIds.take(VecBatch, rng)
            view("pb_edel", ids.map(Row(_)), StructType(Seq(StructField("vec_id", LongType))))
          },
          call = () => sql("DELETE FROM embeddings WHERE vec_id IN (SELECT vec_id FROM pb_edel)"),
          settle = () => { ids.foreach(vectors.remove); committed() })
      }, {
        var rows = Seq.empty[Row]
        Op("sql.merge",
          prepare = () => {
            val hits = eventIds.peek(Batch / 2, rng).map { id =>
              val (u, t, _) = events(id)
              Row(id, new java.sql.Timestamp(0L), u, t, rng.nextInt(20000) / 100.0, "{}")
            }
            rows = hits ++ Seq.fill(Batch / 2)(newRow())
            view("pb_merge", rows, EventSchema)
          },
          call = () => sql(
            """MERGE INTO events t USING pb_merge s ON t.event_id = s.event_id
              |WHEN MATCHED THEN UPDATE SET value = s.value
              |WHEN NOT MATCHED THEN INSERT (event_id, ts, user_id, event_type, value, props)
              |  VALUES (s.event_id, s.ts, s.user_id, s.event_type, s.value, s.props)""".stripMargin),
          settle = () => {
            rows.foreach { r =>
              if (events.contains(r.getLong(0))) {
                val (u, t, _) = events(r.getLong(0))
                events(r.getLong(0)) = (u, t, math.round(r.getDouble(4) * 100))
              } else addToModel(r)
            }
            committed()
          })
      }, {
        var version = 0L
        var got: Array[Row] = Array.empty
        Op("sql.select_tt",
          prepare = () => {
            // one of the recent versions, so the read's cost does not
            // depend on how far back a uniform pick would land
            val vs = digests.keys.toIndexedSeq.takeRight(RecentVersions)
            version = vs(rng.nextInt(vs.size))
          },
          // the SQL layer's `VERSION AS OF` refuses snapshots whose
          // files carry deletion vectors, which every DML write here
          // leaves; the table format's own versioned read serves them
          call = () => got = Manifest.readTable(spark, root, "events", version)
            .select(count(lit(1)), sum("event_id"), sum(col("event_id") * col("event_id")),
              sum(centsCol), sum(col("user_id") * centsCol)).collect(),
          settle = () => {
            val r = got.head
            val d = Digest(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
            if (d != digests(version))
              throw new GateFailure(s"time travel to v$version read $d, model has ${digests(version)}")
          })
      }, {
        Op("ann.maintain",
          call = () => Similarity.maintainAnnIndex(spark, root, Ann),
          settle = () => { indexed = vectors.keySet.toSet; committed() })
      }, {
        var got: Array[Row] = Array.empty
        Op("ann.query",
          prepare = () => {
            val q = vecIds.peek(QueryVecs, rng).map(id => Row(id, vectors(id).toSeq, 0))
            view("pb_annq", q, EmbSchema)
          },
          call = () => got = Similarity.queryAnnIndex(spark, root, Ann,
            spark.table("pb_annq")).collect(),
          settle = () => {
            val stray = got.map(_.getLong(1)).filterNot(indexed)
            if (got.isEmpty || stray.nonEmpty)
              throw new GateFailure(s"ANN query returned ${got.length} rows, " +
                s"${stray.length} outside the index")
          })
      })
    // the embedding writes always precede the index maintenance in a
    // round, so each maintenance mirrors exactly one insert and one
    // delete; the other ops take any place
    val chain = Seq(ops(1), ops(4), ops(7)) // insert, delete embeddings; maintain
    val order = Shuffle(ops, rng).toBuffer
    val slots = chain.map(o => order.indexWhere(_ eq o)).sorted
    slots.zip(chain).foreach { case (i, o) => order(i) = o }
    order.toSeq
  }

  def gate(): Unit = {
    val rows = Manifest.readTable(spark, root, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        centsCol).collect()
    val got = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getLong(3))).toMap
    if (rows.length != got.size) throw new GateFailure("duplicate event_id in the final table")
    if (got != events.toMap) {
      val diff = (got.keySet ++ events.keySet).count(k => got.get(k) != events.get(k))
      throw new GateFailure(s"final events differ from the model on $diff keys " +
        s"(table ${got.size} rows, model ${events.size})")
    }
    val vecs = Manifest.readTable(spark, root, "embeddings").select("vec_id").collect().map(_.getLong(0))
    if (vecs.toSet != vectors.keySet.toSet || vecs.length != vectors.size)
      throw new GateFailure("final embeddings differ from the model")
    // every round ends its embedding writes with a maintenance, so after
    // whole rounds the index is current without another one
    val cells = Manifest.readTable(spark, root, s"${Ann}_cells").select("vec_id").collect().map(_.getLong(0))
    if (cells.toSet != vectors.keySet.toSet || cells.length != vectors.size)
      throw new GateFailure(s"ANN index covers ${cells.toSet.size} vec_ids, ${vectors.size} are live")
  }

  def spaceAmp(): Double = {
    val once = Files.createTempDirectory("pb-once")
    val tables = Seq("events", "embeddings", s"${Ann}_cells", s"${Ann}_codes")
    tables.foreach { t =>
      Manifest.readTable(spark, root, t).coalesce(1).write
        .option("compression", "snappy").parquet(once.resolve(t).toString)
    }
    val written = tables.map(t => Main.parquetBytes(once.resolve(t))).sum
    Main.deleteTree(once)
    Main.treeBytes(java.nio.file.Paths.get(root)).toDouble / written
  }

  def layerMetrics(ops: Seq[OpRec]): Seq[(String, Double, String)] =
    Layers.kindMedians(ops, Layers.dmlKinds.map(k => k -> s"${k}_ms")) ++
      ManifestWalk.metrics(java.nio.file.Paths.get(root))
}

object DmlTxn {
  val Ann = "ann"
  val Trainers = 8L // vec_id < 8 trains the ANN codebook; never deleted
  val Users = 2000
  val Batch = 200
  val VecBatch = 16
  val QueryVecs = 4
  val RecentVersions = 16
  val Dim = 64
  val EventTypes = Seq("click", "view", "purchase", "error", "signup")

  def centsCol = round(col("value") * 100).cast("long")

  final case class Digest(n: Long, s1: Long, s2: Long, s3: Long, s4: Long)

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  val EmbSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))
}

/** Live ids with O(1) add, remove-at-random and sample. */
final class IdBag {
  private val ids = mutable.ArrayBuffer.empty[Long]
  def add(id: Long): Unit = ids += id

  /** Removes and returns `n` distinct random ids. */
  def take(n: Int, rng: java.util.Random): Seq[Long] = Seq.fill(n) {
    val i = rng.nextInt(ids.size)
    val id = ids(i)
    ids(i) = ids.last
    ids.remove(ids.size - 1)
    id
  }

  /** `n` distinct random ids, left in the bag. */
  def peek(n: Int, rng: java.util.Random): Seq[Long] = {
    val out = take(n, rng)
    out.foreach(add)
    out
  }
}
