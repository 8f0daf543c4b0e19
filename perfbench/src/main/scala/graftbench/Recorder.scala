package graftbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.storage.RDDBlockId

/** One timed operation: a registry query, a graph op, a DML statement or
  * a read. `rddLo` is the first RDD id the op could create, so pinned
  * blocks are charged to the op that made them.
  */
final class OpRec(val id: Int, val name: String, val kind: String,
                  val pass: Int, val startMs: Long, val rddLo: Int) {
  var buildEndMs: Long = startMs
  var builtMarked: Boolean = false
  var endMs: Long = startMs
  var ok: Boolean = false
  var err: String = ""
  var entriesLeft: Int = 0
  var mbLeft: Double = 0.0
  var peakPinnedBytes: Long = 0L
  var peakPinnedBlocks: Int = 0

  def wallMs: Double = (endMs - startMs).toDouble
  def fields: Map[String, Any] = Map(
    "id" -> id, "name" -> name, "kind" -> kind, "pass" -> pass,
    "start_ms" -> startMs, "build_end_ms" -> buildEndMs, "end_ms" -> endMs,
    "ok" -> ok, "err" -> err, "entries_left" -> entriesLeft,
    "mb_left" -> mbLeft, "peak_pinned_bytes" -> peakPinnedBytes,
    "peak_pinned_blocks" -> peakPinnedBlocks)
}

/** RDD block updates: the only listener an untraced run needs for the
  * pinned-memory metrics. Events are kept in arrival order and replayed
  * per op at the end.
  */
final class BlockListener extends SparkListener {
  // (rddId, block name, bytes held after the update; 0 when dropped)
  val events = mutable.ArrayBuffer[(Int, String, Long)]()

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case RDDBlockId(rdd, _) =>
        val bytes =
          if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        events.synchronized { events += ((rdd, info.blockId.name, bytes)) }
      case _ =>
    }
  }
}

/** Streaming progress: batch commit times feed ingest lag; the traced
  * run also reads the per-phase durations and state-store figures.
  */
final class StreamListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer[Map[String, Any]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
    val d = p.durationMs
    def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    val states = p.stateOperators.toSeq
    progress.synchronized {
      progress += Map(
        "batch_id" -> p.batchId, "run_id" -> p.runId.toString,
        "start_ms" -> startMs,
        "end_ms" -> (startMs + dur("triggerExecution")),
        "rows" -> p.numInputRows,
        "source_start" -> p.sources.headOption.map(_.startOffset).orNull,
        "source_end" -> p.sources.headOption.map(_.endOffset).orNull,
        "trigger_ms" -> dur("triggerExecution"),
        "add_batch_ms" -> dur("addBatch"),
        "wal_commit_ms" -> dur("walCommit"),
        "commit_offsets_ms" -> dur("commitOffsets"),
        "state_rows" -> states.map(_.numRowsTotal).sum,
        "state_commit_ms" -> states.map(_.commitTimeMs).sum)
    }
  }
}

/** Runs timed ops and keeps their records; owns the listeners. */
final class Recorder(val spark: SparkSession, traced: Boolean) {
  private val sc = spark.sparkContext
  val ops = mutable.ArrayBuffer[OpRec]()
  val spans = mutable.ArrayBuffer[Span]()
  val blocks = new BlockListener
  sc.addSparkListener(blocks)
  val trace: Option[Trace] = if (traced) Some(new Trace(spark)) else None

  /** The id the next RDD will get (allocating one empty RDD). */
  def nextRddId(): Int = sc.emptyRDD[Int].id

  /** Times `body` as one op. The body calls `built()` on the record when
    * the op's builder has returned and only the action remains.
    * Persisted RDDs the op leaves behind are read before the cache is
    * cleared, so leaks show in `entries_left`.
    */
  def op[T](name: String, kind: String, pass: Int)(body: OpRec => T): Option[T] = {
    val r = new OpRec(ops.size, name, kind, pass, System.currentTimeMillis(), nextRddId())
    ops += r
    sc.setJobGroup(s"op${r.id}", s"$kind:$name", interruptOnCancel = false)
    val out =
      try {
        val v = body(r)
        r.ok = true
        Some(v)
      } catch {
        case e: Throwable =>
          r.err = (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
            .take(300)
          None
      } finally {
        r.endMs = System.currentTimeMillis()
        if (!r.builtMarked) r.buildEndMs = r.endMs
        sc.clearJobGroup()
      }
    val left = sc.getPersistentRDDs.keys.filter(_ >= r.rddLo).toSet
    r.entriesLeft = left.size
    r.mbLeft = sc.getRDDStorageInfo.filter(i => left(i.id))
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    spark.catalog.clearCache()
    out
  }

  def built(r: OpRec): Unit = {
    r.buildEndMs = System.currentTimeMillis()
    r.builtMarked = true
  }

  def span(kind: String, name: String, startMs: Long, endMs: Long,
           parent: Option[Span] = None): Span = {
    val s = Span(spans.size, parent.map(_.id), kind, name, startMs, endMs)
    spans += s
    s
  }

  /** Charges each RDD block update to the op whose RDD id range holds
    * it and keeps the peak bytes and block count per op.
    */
  def settle(): Unit = {
    BenchBus.drain(sc)
    val sorted = ops.sortBy(_.rddLo).toIndexedSeq
    val los = sorted.map(_.rddLo).toArray
    val held = mutable.Map[String, Long]()
    val total = mutable.Map[Int, Long]().withDefaultValue(0L)
    val count = mutable.Map[Int, Int]().withDefaultValue(0)
    blocks.events.synchronized {
      blocks.events.foreach { case (rdd, block, bytes) =>
        val i = java.util.Arrays.binarySearch(los, rdd) match {
          case k if k >= 0 => k
          case k => -k - 2
        }
        if (i >= 0) {
          val o = sorted(i)
          val before = held.getOrElse(block, 0L)
          if (bytes > 0) held(block) = bytes else held.remove(block)
          total(o.id) += bytes - before
          count(o.id) += (if (bytes > 0 && before == 0) 1 else if (bytes == 0 && before > 0) -1 else 0)
          o.peakPinnedBytes = math.max(o.peakPinnedBytes, total(o.id))
          o.peakPinnedBlocks = math.max(o.peakPinnedBlocks, count(o.id))
        }
      }
    }
  }
}

final case class Span(id: Int, parent: Option[Int], kind: String, name: String,
                      startMs: Long, endMs: Long)
