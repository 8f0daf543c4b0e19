package graftbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** One seeded graft table driven in two phases.
  *
  * Ingest (open loop): a generator thread drops the pre-generated event
  * files into the stream's input directory on a fixed schedule, then drops
  * a backlog burst at once. `StreamOps.dedupeStream` writes through
  * `writeStream.format("graft")`, one commit per micro-batch.
  *
  * Serve (closed loop, one client): seeded rounds of MERGE, DELETE and
  * UPDATE with reads between them — point and range reads through
  * `graft_version_where` and through `graft_version(...) WHERE`, a
  * group-by and a time-travel read — then OPTIMIZE, so every round starts
  * with the small files ingest or the last round's writes left and ends
  * compacted. One VACUUM follows the last round. A round is the
  * workload's pass. The measuring window holds ingest and the rounds, so
  * at the benchmark's window length one round runs.
  *
  * Every statement's parameters and result rows go into the result file's
  * `extra.log`, where `perfbench/lakecheck.py` replays them on a DuckDB
  * mirror.
  */
final class Lakehouse(spark: SparkSession, rec: Recorder, data: String,
                      out: String, seed: Long) extends Workload {
  private val plan = Main.json.readTree(new File(s"$data/lake.json"))
  private val table = s"$out/lake/events"
  private val warmTable = s"$out/lake/warm"
  private val inbox = s"$out/lake/inbox"
  private val checkpoint = s"$out/lake/checkpoint"
  private val files = Option(new File(s"$data/files").listFiles()).getOrElse(Array.empty[File])
    .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
  private val scheduled = plan.get("scheduled").asInt
  private val periodMs = plan.get("period_ms").asLong
  private val stream = new StreamListener
  private val log = mutable.ArrayBuffer[Map[String, Any]]()
  private val drops = mutable.ArrayBuffer[Map[String, Any]]()
  private val rounds = mutable.ArrayBuffer[(Int, Long, Long)]()
  private var ingest = Map.empty[String, Any]
  private var ingestSpan = (0L, 0L)

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", LongType)))

  private def sql(s: String): Array[Row] = spark.sql(s).collect()

  private def dirState(path: String): Map[String, Long] = {
    val root = Paths.get(path)
    if (!Files.exists(root)) Map.empty
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.size(p)).toMap
  }

  private def createTable(path: String, rows: Long): Unit =
    sql(s"""INSERT INTO graft_table('$path', 'event_id')
            SELECT /*+ REPARTITION_BY_RANGE(8, event_id) */ *
            FROM parquet.`$data/base.parquet` WHERE event_id < $rows""")

  private val setupMs = mutable.LinkedHashMap[String, Long]()

  def setup(): Unit = {
    def phase(n: String)(b: => Unit): Unit = {
      val t = System.currentTimeMillis(); b; setupMs(n) = System.currentTimeMillis() - t
    }
    phase("create")(createTable(table, Long.MaxValue))
    // Warm-up: one round of every statement kind on a small throw-away
    // table, so the timed rounds do not pay first-use code generation.
    phase("create_warm")(createTable(warmTable, 2000L))
    phase("warm_round")(serveRound(warmTable, -1, 1999L, timed = false))
    spark.streams.addListener(stream)
  }

  def measure(deadlineMs: Long): Unit = {
    runIngest()
    val headAfterIngest = s"$out/head_ingest"
    spark.sql(s"SELECT * FROM graft_version('$table')").write.parquet(headAfterIngest)
    var r = 0
    var last = 0L
    var maxId = plan.get("max_id").asLong
    while (r == 0 || System.currentTimeMillis() + last <= deadlineMs) {
      val start = System.currentTimeMillis()
      maxId = serveRound(table, r, maxId, timed = true)
      rounds += ((r, start, System.currentTimeMillis()))
      last = System.currentTimeMillis() - start
      r += 1
    }
    val head = lastVersion
    timed("vacuum", "vacuum", r - 1, Map("keep" -> head)) {
      sql(s"VACUUM graft_table('$table') KEEP $head RETAIN 0 HOURS")
    }
    val finalHead = s"$out/head_final"
    spark.sql(s"SELECT * FROM graft_version('$table')").coalesce(1).write.parquet(finalHead)
    ingest = ingest ++ Map(
      "head_ingest" -> headAfterIngest, "head_final" -> finalHead,
      "table_bytes_final" -> dirState(table).values.sum,
      "plain_bytes_final" -> dirState(finalHead).filter(_._1.endsWith(".parquet")).values.sum)
  }

  /** Open-loop ingest: file i is due at t0 + i * period; the backlog is
    * due at once after the last scheduled file has been committed.
    */
  private def runIngest(): Unit = {
    new File(inbox).mkdirs()
    val ds = graft.streaming.StreamOps.dedupeStream(
      spark.readStream.schema(schema).parquet(inbox), "event_id", "1 hour")
    val q = ds.writeStream.format("graft").option("path", table)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(0L)).start()
    val before = dirState(table)
    def drop(f: File, dueMs: Long, backlog: Boolean): Unit = {
      val target = Paths.get(inbox, f.getName)
      val tmp = Paths.get(inbox, "." + f.getName + ".tmp")
      Files.copy(f.toPath, tmp)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      drops.synchronized {
        drops += Map("file" -> f.getName, "due_ms" -> dueMs,
          "dropped_ms" -> System.currentTimeMillis(), "backlog" -> backlog)
      }
    }
    val t0 = System.currentTimeMillis() + 200L
    val gen = new Thread(() => {
      files.take(scheduled).zipWithIndex.foreach { case (f, i) =>
        val due = t0 + i * periodMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        drop(f, due, backlog = false)
      }
    }, "lake-generator")
    gen.setDaemon(true)
    gen.start()
    gen.join()
    q.processAllAvailable()
    val burst = System.currentTimeMillis()
    files.drop(scheduled).foreach(drop(_, burst, backlog = true))
    q.processAllAvailable()
    q.stop()
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    ingestSpan = (t0, System.currentTimeMillis())
    // The file source's own log gives each file's source offset (every
    // tenth log file is a compaction holding all earlier entries); a
    // micro-batch read the files in (startOffset, endOffset].
    val fileBatch = new File(s"$checkpoint/sources/0").listFiles().toSeq
      .filter(_.getName.matches("\\d+(\\.compact)?")).flatMap { f =>
      Files.readAllLines(f.toPath).asScala.filter(_.startsWith("{")).map { l =>
        val e = Main.json.readTree(l)
        new File(e.get("path").asText).getName -> e.get("batchId").asLong
      }
    }.toMap
    val added = dirState(table).keySet -- before.keySet
    ingest = Map(
      "t0_ms" -> t0, "burst_ms" -> burst, "drops" -> drops.toSeq,
      "batches" -> stream.progress.synchronized(stream.progress.toSeq),
      "file_offset" -> fileBatch,
      "data_files" -> added.count(_.endsWith(".parquet")),
      "meta_files" -> added.count(!_.endsWith(".parquet")),
      "data_bytes" -> dirState(table).filter(f => added(f._1)).values.sum)
  }

  /** Runs one statement as a timed op and logs it with the table-dir
    * files it added.
    */
  private def timed(kind: String, name: String, round: Int,
                    params: Map[String, Any])(body: => Array[Row]): Array[Row] = {
    val before = dirState(table)
    val rows = rec.op(name, kind, round) { r => rec.built(r); body }.getOrElse(Array.empty[Row])
    val after = dirState(table)
    val added = after.keySet -- before.keySet
    log += params ++ Map("op" -> rec.ops.last.id, "kind" -> kind, "name" -> name,
      "round" -> round, "rows" -> rows.map(_.toSeq.map(v => if (v == null) null else v.toString)),
      "data_files" -> added.count(_.endsWith(".parquet")),
      "meta_files" -> added.count(!_.endsWith(".parquet")),
      "bytes_added" -> added.toSeq.map(after).sum)
    rows
  }

  private val Digest = "count(*) AS n, sum(event_id) AS s_id, sum(value) AS s_val, sum(user_id) AS s_user"

  /** The versions a time-travel read may target: (version, mirror state).
    * State 0 is the head after ingest, state r + 1 the head after round
    * r's writes. Versions come from the DML statements' result rows.
    */
  private val travelTargets = mutable.ArrayBuffer[(Long, Int)]()
  private var lastVersion = 0L

  /** One round against a table whose largest event id is `maxId`;
    * returns the largest id after the round's MERGE.
    */
  private def serveRound(path: String, round: Int, maxId: Long, timed: Boolean): Long = {
    val rnd = new scala.util.Random(seed * 1000003L + round)
    def run(kind: String, name: String, params: Map[String, Any])(s: String): Array[Row] = {
      val rows = if (timed) this.timed(kind, name, round, params)(sql(s)) else sql(s)
      if (timed && kind != "read" && rows.nonEmpty) lastVersion = rows.head.getInt(0).toLong
      rows
    }

    val mLo = maxId - 100 - rnd.nextInt(100)
    val mHi = mLo + 200
    val salt = round + 1
    run("write", "merge", Map("lo" -> mLo, "hi" -> mHi, "salt" -> salt))(
      s"""MERGE INTO graft_table('$path') USING (
            SELECT id AS event_id, timestamp_seconds(1704067200 + id % 3600) AS ts,
                   id % 500 AS user_id,
                   CASE id % 4 WHEN 0 THEN 'click' WHEN 1 THEN 'view'
                               WHEN 2 THEN 'cart' ELSE 'buy' END AS event_type,
                   (id * 13 + $salt) % 100000 AS value
            FROM range($mLo, $mHi)) ON event_id
          WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    if (timed && travelTargets.isEmpty) travelTargets += ((lastVersion - 1, 0))
    def keys(): (Long, Long, Int) = {
      val lo = rnd.nextLong(math.max(1L, maxId - 2000L))
      (lo, lo + 2000L, rnd.nextInt(10))
    }
    val (dLo, dHi, dRem) = keys()
    run("write", "delete", Map("lo" -> dLo, "hi" -> dHi, "rem" -> dRem))(
      s"""DELETE FROM graft_table('$path') WHERE event_id IN (
            SELECT id AS event_id FROM range($dLo, $dHi) WHERE id % 10 = $dRem)""")
    val (uLo, uHi, uRem) = keys()
    val updated = run("write", "update", Map("lo" -> uLo, "hi" -> uHi, "rem" -> uRem))(
      s"""UPDATE graft_table('$path') SET value = value + 1 WHERE event_id IN (
            SELECT id AS event_id FROM range($uLo, $uHi) WHERE id % 10 = $uRem)""")
    if (timed && updated.nonEmpty) travelTargets += ((lastVersion, round + 1))

    val point = rnd.nextLong(maxId + 100L)
    val rLo = rnd.nextLong(math.max(1L, maxId - 1000L))
    val rHi = rLo + 999L
    def read(name: String, lo: Long, hi: Long, where: Boolean): Unit = {
      val from =
        if (where) s"graft_version_where('$path', 'event_id', $lo, $hi)"
        else s"graft_version('$path') WHERE event_id BETWEEN $lo AND $hi"
      run("read", name, Map("lo" -> lo, "hi" -> hi))(s"SELECT $Digest FROM $from")
    }
    read("point_where", point, point, where = true)
    read("point_filter", point, point, where = false)
    read("range_where", rLo, rHi, where = true)
    read("range_filter", rLo, rHi, where = false)
    run("read", "group_by", Map.empty)(
      s"""SELECT event_type, count(*) AS n, sum(value) AS s_val
          FROM graft_version('$path') GROUP BY event_type""")
    if (timed) {
      val (v, state) = travelTargets(rnd.nextInt(travelTargets.size))
      run("read", "time_travel", Map("version" -> v, "state" -> state))(
        s"SELECT $Digest FROM graft_version('$path', $v)")
    }
    // CLUSTER BY keeps the table's zone maps: a plain OPTIMIZE writes the
    // compacted dir without them, and every later graft_version_where
    // read of the table then fails.
    run("maintain", "optimize", Map.empty)(
      s"OPTIMIZE graft_table('$path') CLUSTER BY (event_id)")
    math.max(maxId, mHi - 1)
  }

  def passSpans: Seq[(Int, Long, Long)] = rounds.toSeq

  def batchSpans(root: Span): Seq[(String, Span)] = {
    val phase = rec.span("ingest", "ingest", ingestSpan._1, ingestSpan._2, Some(root))
    stream.progress.toSeq.map { p =>
      p("run_id").toString -> rec.span("batch", s"batch ${p("batch_id")}",
        p("start_ms").asInstanceOf[Long], p("end_ms").asInstanceOf[Long], Some(phase))
    }
  }

  def extra: Map[String, Any] = Map("setup_ms" -> setupMs,
    "log" -> log.toSeq, "ingest" -> ingest)
}
