package graftbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

trait Workload {
  /** Untimed: inputs, warm-up and the oracle-checked pass. */
  def setup(): Unit
  /** Timed ops until the deadline; a started pass or round completes. */
  def measure(deadlineMs: Long): Unit
  /** (pass, start ms, end ms) of each completed pass. */
  def passSpans: Seq[(Int, Long, Long)]
  def extra: Map[String, Any]
}

/** JVM side of the benchmark. `perfbench/run.py` generates the inputs,
  * starts this main, checks what it wrote and prints the result line.
  *
  * Arguments: --workload --seed --seconds --trace --data --out --cores
  * --t0 (epoch ms when the run started, for the set-up time).
  */
object Main {
  /** Writes the result and span files and reads the generator's plan. */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  val Workloads: Map[String, Seq[String]] = Map(
    "sql_analytics" -> (1 to 22).map(i => s"q_sql_q$i"),
    "graph_iterative" -> Seq("q_hits", "q_triangle"))

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val (data, out, cores) = (a("data"), a("out"), a("cores"))
    val t0 = a("t0").toLong

    val spark = graft.GraftSession.configure(
      SparkSession.builder().master(s"local[$cores]")
        .config("spark.local.dir", s"$out/spark-local"), cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = System.currentTimeMillis()
    val rec = new Recorder(spark, traced)

    val w: Workload = workload match {
      case "lakehouse" => new Lakehouse(spark, rec, data, out, seed)
      case k => new Registry(spark, rec, Workloads(k), data, out, seed)
    }
    w.setup()
    val readyMs = System.currentTimeMillis()
    val calStart = Calibration.probe(spark)
    val measureStart = System.currentTimeMillis()
    w.measure(measureStart + (seconds * 1000).toLong)
    val measureEnd = System.currentTimeMillis()
    val calEnd = Calibration.probe(spark)
    rec.settle()

    val passSpans = w.passSpans
    val layers = rec.trace.map { t =>
      val root = rec.span("run", workload, measureStart, measureEnd)
      val passSpanOf = passSpans.map { case (p, s, e) =>
        p -> rec.span("pass", s"pass $p", s, e, Some(root))
      }.toMap
      val opSpans = rec.ops.map { o =>
        // An op after its pass's end (the final VACUUM) hangs under the run.
        val parent = passSpanOf.get(o.pass)
          .filter(p => o.startMs >= p.startMs && o.endMs <= p.endMs).orElse(Some(root))
        val os = rec.span("op", o.name, o.startMs, o.endMs, parent)
        o.id -> (rec.span("build", o.name, o.startMs, o.buildEndMs, Some(os)),
          rec.span(o.kind, o.name, o.buildEndMs, o.endMs, Some(os)))
      }.toMap
      val batchSpans = w match {
        case l: Lakehouse => l.batchSpans(root)
        case _ => Nil
      }
      t.addSpans(rec, opSpans, batchSpans)
      val perOp = t.perOp(rec.ops.toSeq).map { case (o, m) => o.id -> m }
      Map("per_op" -> perOp.map { case (i, m) => i.toString -> m }.toMap,
        "stream_task_ms" -> t.streamTaskMs(batchSpans.map(_._1).toSet))
    }
    val children = rec.spans.groupBy(_.parent)
    val spanRows = rec.spans.map { s =>
      val self = (s.endMs - s.startMs) -
        rec.trace.map(_.covered(children.getOrElse(Some(s.id), Nil).toSeq, s)).getOrElse(0L)
      Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> self)
    }
    if (traced) Files.write(Paths.get(s"$out/spans.jsonl"),
      spanRows.map(json.writeValueAsString(_)).mkString("", "\n", "\n").getBytes("UTF-8"))

    val result = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores.toInt,
      "traced" -> traced,
      "t0_ms" -> t0, "session_ms" -> sessionMs, "ready_ms" -> readyMs,
      "measure_start_ms" -> measureStart, "measure_end_ms" -> measureEnd,
      "calibration" -> Map("start" -> calStart, "end" -> calEnd),
      "ops" -> rec.ops.map(_.fields),
      "passes" -> passSpans.map { case (p, s, e) => Seq(p, s, e) },
      "trace" -> layers,
      "extra" -> w.extra)
    json.writeValue(new java.io.File(s"$out/result.json"), result)
    spark.stop()
  }
}

/** Fixed micro-queries run once before and once after the timed ops: a
  * CPU-bound hash aggregate and a shuffle-bound group-by. Printed beside
  * the metrics so host drift can be told apart from a regression.
  */
object Calibration {
  private var warmed = false

  def probe(spark: SparkSession): Map[String, Double] = {
    val cores = spark.sparkContext.defaultParallelism
    def cpu(): Unit = spark.range(0L, 10000000L, 1L, cores)
      .selectExpr("sum(hash(id, id * 7)) AS s").collect()
    def shuffle(): Unit = spark.range(0L, 1000000L, 1L, cores)
      .selectExpr("id % 100000 AS k", "id AS v").groupBy("k").count()
      .selectExpr("sum(count) AS n").collect()
    def timeMs(body: => Unit): Double = {
      val t = System.nanoTime()
      body
      (System.nanoTime() - t) / 1e6
    }
    val sc = spark.sparkContext
    sc.setJobGroup("calibration", "calibration", interruptOnCancel = false)
    try {
      // The first call pays the probes' own code generation, untimed.
      if (!warmed) { cpu(); shuffle(); warmed = true }
      Map("cpu_ms" -> timeMs(cpu()), "shuffle_ms" -> timeMs(shuffle()))
    } finally sc.clearJobGroup()
  }
}
