package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** A closed-loop workload over registry keys (`SparkEntry.queries`): one
  * client runs every key once per pass, in a seeded order, back to back.
  *
  * Set-up runs one untimed pass that writes each result as parquet for the
  * DuckDB oracle and keeps a digest of it. Every timed op's rows are then
  * compared with that digest, so a wrong result in any pass is a failure.
  */
final class Registry(spark: SparkSession, rec: Recorder, keys: Seq[String],
                     data: String, out: String, seed: Long) extends Workload {
  private val registry = graft.SparkEntry.queries
  private val expected = mutable.Map[String, String]()
  private val passes = mutable.ArrayBuffer[(Int, Long, Long)]()
  private val mismatches = mutable.ArrayBuffer[String]()
  private val setupMs = mutable.LinkedHashMap[String, Long]()

  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString + s":${rows.length}"
  }

  def setup(): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    keys.sorted.foreach { k =>
      val t = System.currentTimeMillis()
      val df: DataFrame = registry(k)(spark, data)
      val rows = df.collect()
      setupMs(k) = System.currentTimeMillis() - t
      expected(k) = digest(rows)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/verify/$k")
      spark.catalog.clearCache()
    }
    Main.json.writeValue(new java.io.File(s"$out/oracle.json"),
      keys.map(k => k -> oracle(k)).toMap)
  }

  def measure(deadlineMs: Long): Unit = {
    var pass = 0
    var last = 0L
    // A pass starts only when it is expected to end by the deadline (the
    // previous pass's length), and at least one pass always runs.
    while (pass == 0 || System.currentTimeMillis() + last <= deadlineMs) {
      val order = new scala.util.Random(seed * 7919L + pass).shuffle(keys)
      val start = System.currentTimeMillis()
      order.foreach { k =>
        val rows = rec.op(k, "query", pass) { r =>
          val df = registry(k)(spark, data)
          rec.built(r)
          df.collect()
        }
        rows.foreach { rs =>
          if (digest(rs) != expected(k)) {
            val o = rec.ops.last
            o.ok = false
            o.err = "result differs from the oracle-checked set-up pass"
            mismatches += s"$k@$pass"
          }
        }
      }
      passes += ((pass, start, System.currentTimeMillis()))
      last = System.currentTimeMillis() - start
      pass += 1
    }
  }

  def passSpans: Seq[(Int, Long, Long)] = passes.toSeq
  def extra: Map[String, Any] = Map("setup_ms" -> setupMs, "mismatches" -> mismatches.toSeq,
    "verified_keys" -> keys.sorted)
}
