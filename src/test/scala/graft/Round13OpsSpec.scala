package graft

import org.apache.spark.sql.functions._
import graft.ops.SinkOps

/** Specs for the round-13 additions: SQL DML for the versioned tier
  * (MERGE INTO / DELETE FROM / INSERT INTO through the injected
  * parser, pinned ≡ the Scala mutations), timestamp time travel,
  * bounded OCC commit retry, DV-tolerant metadata aggregation, the
  * one-pass multi-column bloom writer, k-D ZORDER, retention-safe
  * VACUUM, and the r12 ADVICE hardenings (publishStaged base check,
  * crash-safe idempotency markers, flat-planner DV refusal).
  */
class Round13OpsSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val p = new java.io.File(System.getProperty("java.io.tmpdir"), name)
    val hp = new org.apache.hadoop.fs.Path(p.getPath)
    hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
    p.getPath
  }

  private def fsOf(path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

  // ---- SQL DML ≡ Scala mutations ----

  test("SQL INSERT/DELETE/MERGE produce a table BIT-IDENTICAL to the " +
      "Scala mutations: same manifest body lines at every version, " +
      "same head rows, and each DML statement returns the committed " +
      "version") {
    import spark.implicits._
    val rows = (1L to 60L).map(i => (i, s"s$i", i % 7)).toDF("id", "s", "g")
    rows.createOrReplaceTempView("r13spec_rows")
    val sqlT = tmp("r13_dml_sql")
    val scalaT = tmp("r13_dml_scala")

    val vi = spark.sql(s"""INSERT INTO graft_table('$sqlT')
        SELECT * FROM r13spec_rows WHERE id % 2 = 0""")
      .collect().head.getInt(0)
    val vd = spark.sql(s"""DELETE FROM graft_table('$sqlT')
        WHERE id IN (SELECT id FROM r13spec_rows WHERE id % 10 = 0)""")
      .collect().head.getInt(0)
    val vm = spark.sql(s"""MERGE INTO graft_table('$sqlT') USING (
        SELECT id, concat('u', s) AS s, g + 100 AS g
        FROM r13spec_rows WHERE id % 6 = 0) ON id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      .collect().head.getInt(0)
    assert((vi, vd, vm) == (1, 2, 3),
      s"DML version returns off: ($vi, $vd, $vm)")

    assert(SinkOps.commitVersion(
      rows.filter(col("id") % 2 === 0), scalaT) == 1)
    assert(SinkOps.deleteVersionKeys(
      rows.filter(col("id") % 10 === 0).select("id"), scalaT, "id") == 2)
    assert(SinkOps.mergeVersion(
      rows.filter(col("id") % 6 === 0)
        .select(col("id"), concat(lit("u"), col("s")).as("s"),
          (col("g") + 100).as("g")),
      scalaT, "id") == 3)

    (1 to 3).foreach { v =>
      assert(SinkOps.manifestLines(spark, sqlT, v) ==
        SinkOps.manifestLines(spark, scalaT, v),
        s"manifest body diverges between surfaces at v$v")
    }
    def headRows(p: String) = SinkOps.readVersion(spark, p)
      .collect().map(_.toString).sorted
    assert(headRows(sqlT).sameElements(headRows(scalaT)),
      "SQL-mutated head rows diverge from Scala-mutated head")
    // The DV economics crossed the SQL surface: the delete commit
    // rewrote zero data dirs (v2 carries a sidecar line, both dirs
    // intact), and the merge is one sidecar + one dir.
    assert(SinkOps.manifestLines(spark, sqlT, 2)
      .exists(_.startsWith("delete:")), "SQL DELETE wrote no sidecar")
  }

  test("SQL DML refuses non-canonical shapes loudly and delegates " +
      "everything without a graft_table target to Spark's parser") {
    import spark.implicits._
    val t = tmp("r13_dml_refuse")
    Seq((1L, "a")).toDF("id", "s").createOrReplaceTempView("r13spec_one")
    spark.sql(s"""INSERT INTO graft_table('$t')
        SELECT * FROM r13spec_one""").collect()
    // MERGE with any WHEN action other than upsert-all refuses — the
    // DV encoding implements exactly upsert-all, and computing
    // something else silently would be worse than refusing.
    val exW = intercept[IllegalArgumentException] {
      spark.sql(s"""MERGE INTO graft_table('$t') USING (
          SELECT * FROM r13spec_one) ON id
          WHEN MATCHED THEN DELETE""")
    }
    assert(exW.getMessage.contains("upsert"), exW.getMessage)
    // DELETE supports exactly the key-list shape.
    val exD = intercept[IllegalArgumentException] {
      spark.sql(s"DELETE FROM graft_table('$t') WHERE id = 5")
    }
    assert(exD.getMessage.contains("IN"), exD.getMessage)
    // No graft_table target: the delegate parser handles it verbatim.
    assert(spark.sql("SELECT 1 AS one").collect().head.getInt(0) == 1)
    // Unbalanced source parens fail loudly, never mis-split.
    intercept[IllegalArgumentException] {
      spark.sql(s"MERGE INTO graft_table('$t') USING ((SELECT 1 ON id")
    }
  }

  test("SQL UPDATE evaluates every SET expression against the OLD row " +
      "(swap semantics hold), touches only the matched keys, and " +
      "refuses key assignment, unknown columns, and a missing WHERE") {
    import spark.implicits._
    val t = tmp("r13_dml_update")
    Seq((1L, 10L, 20L), (2L, 30L, 40L), (3L, 50L, 60L))
      .toDF("id", "a", "b").createOrReplaceTempView("r13spec_upd")
    spark.sql(s"""INSERT INTO graft_table('$t')
        SELECT * FROM r13spec_upd""").collect()
    // a,b SWAP for ids 1,2: both SET expressions must read the OLD
    // row — sequential rebinding would yield a=b=old b.
    val v = spark.sql(s"""UPDATE graft_table('$t')
        SET a = b, b = a
        WHERE id IN (SELECT id FROM r13spec_upd WHERE id <= 2)""")
      .collect().head.getInt(0)
    assert(v == 2)
    val got = SinkOps.readVersion(spark, t).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.sameElements(Array((1L, 20L, 10L), (2L, 40L, 30L),
      (3L, 50L, 60L))), s"UPDATE semantics wrong: ${got.mkString(",")}")
    val exKey = intercept[Exception] {
      spark.sql(s"""UPDATE graft_table('$t') SET id = id + 1
          WHERE id IN (SELECT id FROM r13spec_upd)""").collect()
    }
    assert(exKey.getMessage.contains("merge key"), exKey.getMessage)
    val exCol = intercept[Exception] {
      spark.sql(s"""UPDATE graft_table('$t') SET nope = 1
          WHERE id IN (SELECT id FROM r13spec_upd)""").collect()
    }
    assert(exCol.getMessage.contains("unknown column"), exCol.getMessage)
    val exWhere = intercept[IllegalArgumentException] {
      spark.sql(s"UPDATE graft_table('$t') SET a = 1")
    }
    assert(exWhere.getMessage.contains("WHERE"), exWhere.getMessage)
    // Duplicate SET targets would silently last-write-win; refuse.
    val exDup = intercept[IllegalArgumentException] {
      spark.sql(s"""UPDATE graft_table('$t') SET a = 1, a = 2
          WHERE id IN (SELECT id FROM r13spec_upd)""")
    }
    assert(exDup.getMessage.contains("duplicate SET"), exDup.getMessage)
  }

  test("SQL maintenance: INSERT with declared stats columns writes " +
      "zone-map sidecars a TVF read prunes on, OPTIMIZE ZORDER " +
      "rewrites to one multi-col-mapped dir, and VACUUM KEEP/RETAIN " +
      "honors the grace horizon through SQL") {
    import spark.implicits._
    val t = tmp("r13_sql_maint")
    (1L to 400L).map(i => (i, i % 20)).toDF("id", "g")
      .createOrReplaceTempView("r13spec_maint")
    (0 to 1).foreach { r =>
      spark.sql(s"""INSERT INTO graft_table('$t', 'id')
          SELECT /*+ REPARTITION_BY_RANGE(4, id) */ *
          FROM r13spec_maint WHERE id % 2 = $r""").collect(); ()
    }
    // SQL-declared sidecars skip: the range read plans < total files.
    val (kept, total, c) = SinkOps.pruneFiles(spark, t, 50L, 149L)
    assert(c == "id" && kept.nonEmpty && kept.size < total,
      s"SQL-declared stats pruned nothing: ${kept.size} of $total")
    val v = spark.sql(s"OPTIMIZE graft_table('$t') ZORDER BY (id, g)")
      .collect().head.getInt(0)
    assert(v == 3)
    // Both dimensions mapped: a 2-D box prune plans through the TVF
    // path and the read equals the filter.
    val got = spark.sql(s"""SELECT id FROM graft_version('$t')
        WHERE id BETWEEN 10 AND 30 AND g < 5""")
      .collect().map(_.getLong(0)).sorted
    assert(got.sameElements((10L to 30L).filter(_ % 20 < 5)))
    // Graced VACUUM deletes nothing (history is seconds old).
    assert(spark.sql(s"VACUUM graft_table('$t') KEEP $v RETAIN 1 HOURS")
      .collect().head.getInt(0) == 0)
    assert(SinkOps.readVersion(spark, t, Some(1)).count() == 200L)
    // Eager VACUUM reclaims the two pre-compaction dirs.
    assert(spark.sql(s"VACUUM graft_table('$t') KEEP $v")
      .collect().head.getInt(0) == 2)
    intercept[IllegalArgumentException] {
      SinkOps.readVersion(spark, t, Some(1))
    }
    // A stats argument on a non-writing verb refuses.
    intercept[IllegalArgumentException] {
      spark.sql(s"VACUUM graft_table('$t', 'id') KEEP $v")
    }
  }

  test("plain OPTIMIZE, and its RETRY form, carry the head's declared " +
      "stats columns: a later graft_version_where read still prunes") {
    import spark.implicits._
    val t = tmp("r13_sql_opt_plain")
    (1L to 400L).map(i => (i, i % 20)).toDF("id", "g")
      .createOrReplaceTempView("r13spec_opt_plain")
    (0 to 1).foreach { r =>
      spark.sql(s"""INSERT INTO graft_table('$t', 'id')
          SELECT /*+ REPARTITION_BY_RANGE(4, id) */ *
          FROM r13spec_opt_plain WHERE id % 2 = $r""").collect(); ()
    }
    def prunedRead(): Unit = {
      val got = spark.sql(s"""SELECT id
          FROM graft_version_where('$t', 'id', 50, 149)""")
        .collect().map(_.getLong(0)).sorted
      assert(got.sameElements(50L to 149L))
      val (kept, total, c) = SinkOps.pruneFiles(spark, t, 50L, 149L)
      assert(c == "id" && kept.nonEmpty && kept.size < total,
        s"post-OPTIMIZE read pruned nothing: ${kept.size} of $total")
    }
    // Without AQE coalescing the 400-row rewrite keeps one file per
    // range partition, as a table larger than one target file would.
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(spark.sql(s"OPTIMIZE graft_table('$t')")
        .collect().head.getInt(0) == 3)
      prunedRead()
      assert(spark.sql(s"OPTIMIZE graft_table('$t') RETRY 2")
        .collect().head.getInt(0) == 4)
      prunedRead()
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("the graft_stats TVF answers a DV-carrying head (routing " +
      "through statsAggDv) where the strict statsOnlyAgg refuses, and " +
      "stays bit-identical to statsOnlyAgg on a DV-free snapshot") {
    import spark.implicits._
    val path = tmp("r13_tvf_statsdv")
    SinkOps.commitVersionStats(
      (1L to 50L).map(i => (i, s"s$i")).toDF("id", "s")
        .repartitionByRange(2, col("id")),
      path, carryForward = true, Seq("id"))
    val clean = spark.sql(s"SELECT * FROM graft_stats('$path')")
      .collect().toSeq
    assert(clean == SinkOps.statsOnlyAgg(spark, path).collect().toSeq)
    SinkOps.deleteVersionKeys((1L to 10L).toDF("id"), path, "id")
    intercept[IllegalArgumentException] {
      SinkOps.statsOnlyAgg(spark, path)
    }
    val dv = spark.sql(
        s"SELECT n_rows, min_id, max_id FROM graft_stats('$path')")
      .head()
    assert(dv.getLong(0) == 40L && dv.getLong(1) == 11L &&
      dv.getLong(2) == 50L, dv.toString)
  }

  // ---- publishStaged base-head check (ADVICE r12, medium) ----

  test("publishStaged refuses the TWO-STAGES-FROM-ONE-HEAD lost " +
      "update: stage v2 and v3 both from head 1, publish v2, then " +
      "v3's publish refuses (its recorded base is stale) — re-staging " +
      "on the new head lands cleanly") {
    import spark.implicits._
    val path = tmp("r13_wap_base")
    SinkOps.commitVersion(Seq((1L, "a")).toDF("id", "s"), path)
    val sA = SinkOps.stageVersion(Seq((2L, "b")).toDF("id", "s"), path)
    val sB = SinkOps.stageVersion(Seq((3L, "c")).toDF("id", "s"), path)
    assert(sA == 2 && sB == 3)
    // Staged snapshots resolve through their recorded base.
    assert(SinkOps.readStaged(spark, path, sB)
      .select("id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 3L)))
    SinkOps.publishStaged(spark, path, sA)
    assert(SinkOps.currentVersion(spark, path) == 2)
    // v3 > head 2, so the old `v > head` check would have PASSED and
    // silently dropped v2's rows from head lineage; the base check
    // refuses.
    val ex = intercept[IllegalArgumentException] {
      SinkOps.publishStaged(spark, path, sB)
    }
    assert(ex.getMessage.contains("stale staged"), ex.getMessage)
    SinkOps.rollbackStaged(spark, path, sB)
    val sB2 = SinkOps.stageVersion(Seq((3L, "c")).toDF("id", "s"), path)
    SinkOps.publishStaged(spark, path, sB2)
    assert(SinkOps.readVersion(spark, path)
      .select("id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L, 3L)), "re-staged publish lost rows")
  }

  // ---- crash-safe idempotency markers (ADVICE r12, medium) ----

  test("a crash-truncated (empty) idempotency marker neither wedges " +
      "nor double-commits: the retry re-commits the batch once and " +
      "repairs the marker; a further redelivery replays the recorded " +
      "version") {
    import spark.implicits._
    val path = tmp("r13_marker")
    SinkOps.commitVersion(Seq((1L, "a")).toDF("id", "s"), path)
    // Simulate the crash window: marker created but never written.
    val fs = fsOf(path)
    val marker = new org.apache.hadoop.fs.Path(path, "commits/b1.txt")
    fs.create(marker, true).close()
    val v = SinkOps.commitVersionKeyed(
      Seq((2L, "b")).toDF("id", "s"), path, "b1")
    assert(v == 2, s"truncated marker wedged the batch (got $v)")
    val replay = SinkOps.commitVersionKeyed(
      Seq((2L, "b")).toDF("id", "s"), path, "b1")
    assert(replay == 2 && SinkOps.currentVersion(spark, path) == 2,
      "redelivery after repair re-committed")
  }

  // ---- timestamp time travel ----

  test("commit timestamps are strictly monotone, readVersionAsOf " +
      "resolves boundaries exactly (own stamp and the instant before " +
      "the next commit both read the same version), and a pre-history " +
      "probe fails loudly") {
    import spark.implicits._
    val path = tmp("r13_asof")
    (1 to 3).foreach { i =>
      SinkOps.commitVersion(Seq((i.toLong, s"s$i")).toDF("id", "s"),
        path); ()
    }
    val ts = (1 to 3).map(SinkOps.commitTimestamp(spark, path, _))
    assert(ts == ts.sorted && ts.distinct == ts,
      s"stamps not strictly monotone: $ts")
    def idsAsOf(t: Long) = SinkOps.readVersionAsOf(spark, path, t)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(idsAsOf(ts(0)).sameElements(Array(1L)))
    assert(idsAsOf(ts(1) - 1).sameElements(Array(1L)))
    assert(idsAsOf(ts(1)).sameElements(Array(1L, 2L)))
    assert(idsAsOf(ts(2) + 1000000L).sameElements(Array(1L, 2L, 3L)))
    assert(SinkOps.versionAsOf(spark, path, ts(2)) == 3)
    val ex = intercept[IllegalArgumentException] {
      SinkOps.readVersionAsOf(spark, path, ts(0) - 1)
    }
    assert(ex.getMessage.contains("precedes the first commit"),
      ex.getMessage)
  }

  test("VACUUM re-checkpointing preserves commit timestamps verbatim " +
      "(the time line never moves), so timestamp reads survive " +
      "expiry of the base chain") {
    import spark.implicits._
    val path = tmp("r13_asof_vacuum")
    (1 to 5).foreach { i =>
      SinkOps.commitVersionDelta(Seq((i.toLong, s"s$i")).toDF("id", "s"),
        path, checkpointEvery = 100); ()
    }
    val ts4 = SinkOps.commitTimestamp(spark, path, 4)
    val ts5 = SinkOps.commitTimestamp(spark, path, 5)
    SinkOps.expireVersions(spark, path, keep = 4) // v4 re-checkpoints
    assert(SinkOps.commitTimestamp(spark, path, 4) == ts4,
      "re-checkpoint perturbed v4's commit stamp")
    assert(SinkOps.commitTimestamp(spark, path, 5) == ts5)
    assert(SinkOps.readVersionAsOf(spark, path, ts4)
      .select("id").collect().map(_.getLong(0)).sorted
      .sameElements(1L to 4L), "asOf broken after VACUUM")
  }

  test("readChangesBetween resolves timestamp bounds to versions and " +
      "yields exactly the manifest-difference feed; an empty ts " +
      "window refuses loudly") {
    import spark.implicits._
    val path = tmp("r13_cf_ts")
    (1 to 3).foreach { i =>
      SinkOps.commitVersion(Seq((i.toLong, s"s$i")).toDF("id", "s"),
        path); ()
    }
    val ts1 = SinkOps.commitTimestamp(spark, path, 1)
    val ts2 = SinkOps.commitTimestamp(spark, path, 2)
    val ts3 = SinkOps.commitTimestamp(spark, path, 3)
    assert(SinkOps.readChangesBetween(spark, path, ts1, ts3)
      .select("id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(2L, 3L)))
    // A mid-window probe (before v3's stamp) sees only v2's delta.
    assert(SinkOps.readChangesBetween(spark, path, ts1, ts3 - 1)
      .select("id").collect().map(_.getLong(0)).sameElements(Array(2L)))
    intercept[IllegalArgumentException] {
      SinkOps.readChangesBetween(spark, path, ts2, ts2) // empty window
    }
  }

  // ---- bounded OCC commit retry ----

  test("commitVersionRetrying: a writer that loses the version race " +
      "re-reads the head and lands with the winner's lines carried " +
      "forward — both writers' rows in the head, data written once; " +
      "a writer losing EVERY race fails loudly at the retry budget") {
    import spark.implicits._
    val path = tmp("r13_occ")
    SinkOps.commitVersion(Seq((1L, "base")).toDF("id", "s"), path)
    var interfered = false
    val v = SinkOps.commitVersionRetrying(
      Seq((3L, "mine")).toDF("id", "s"), path,
      beforeAttempt = n => if (n == 1) {
        // The racer lands INSIDE the window (after allocation).
        SinkOps.commitVersion(Seq((2L, "racer")).toDF("id", "s"), path)
        interfered = true
      })
    assert(interfered && v == 3, s"retry landed at v$v")
    assert(SinkOps.readVersion(spark, path)
      .select("id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L, 3L)),
      "lost update: a writer's rows missing from the head")
    // Data was written ONCE: exactly one commit-unique dir exists.
    val fs = fsOf(path)
    val uniq = fs.listStatus(new org.apache.hadoop.fs.Path(path, "data"))
      .map(_.getPath.getName).filter(_.startsWith("c"))
    assert(uniq.length == 1, s"retry rewrote data: ${uniq.toSeq}")
    // Budget exhaustion: a racer winning every attempt surfaces the
    // loud failure with the conflict as cause.
    val ex = intercept[IllegalStateException] {
      SinkOps.commitVersionRetrying(
        Seq((9L, "never")).toDF("id", "s"), path, maxTries = 2,
        beforeAttempt = _ => {
          SinkOps.commitVersion(Seq((8L, "w")).toDF("id", "s"), path); ()
        })
    }
    assert(ex.getMessage.contains("lost 2 version races"), ex.getMessage)
  }

  // ---- DV-tolerant metadata aggregation ----

  test("statsAggDv equals the resolved recompute under live DVs, " +
      "equals statsOnlyAgg bit-for-bit on a DV-free snapshot, and " +
      "answers the clean-epoch portion with ZERO data-file IO " +
      "(sidecar-only: the clean dir's data files can vanish and the " +
      "answer stands while a resolving read fails)") {
    import spark.implicits._
    val path = tmp("r13_statsdv")
    val mk = (lo: Long, hi: Long) =>
      (lo to hi).map(i => (i, i * 10)).toDF("id", "v")
        .repartitionByRange(2, col("id"))
    SinkOps.commitVersionStats(mk(1, 40), path, carryForward = true,
      Seq("id"))
    // DV-free: statsAggDv ≡ statsOnlyAgg.
    assert(SinkOps.statsAggDv(spark, path).collect().toSeq ==
      SinkOps.statsOnlyAgg(spark, path).collect().toSeq,
      "DV-free statsAggDv diverges from statsOnlyAgg")
    SinkOps.commitVersionStats(mk(41, 80), path, carryForward = true,
      Seq("id"))
    SinkOps.deleteVersionKeys(
      (1L to 80L by 5).toDF("id"), path, "id")
    SinkOps.commitVersionStats(mk(81, 120), path, carryForward = true,
      Seq("id"))
    // statsOnlyAgg refuses the DV manifest; statsAggDv answers.
    intercept[IllegalArgumentException] {
      SinkOps.statsOnlyAgg(spark, path)
    }
    val got = SinkOps.statsAggDv(spark, path).collect().head
    val live = (1L to 80L).filter(_ % 5 != 1) ++ (81L to 120L)
    assert(got.getLong(0) == live.length, s"n_rows ${got.getLong(0)}")
    assert(got.getLong(1) == live.min && got.getLong(2) == live.max,
      s"range [${got.getLong(1)}, ${got.getLong(2)}]")
    // Zero-IO pin: the clean epoch (the post-delete commit's dir)
    // answers from its sidecar alone — delete its parquet files
    // (sidecar intact) and statsAggDv still returns the same row,
    // while a resolving read now fails on the missing files.
    val fs = fsOf(path)
    val cleanDir = new org.apache.hadoop.fs.Path(path, "data/v4")
    fs.listStatus(cleanDir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
      .foreach(p => fs.delete(p, false))
    val again = SinkOps.statsAggDv(spark, path).collect().head
    assert(again.getLong(0) == live.length &&
      again.getLong(1) == live.min && again.getLong(2) == live.max,
      "clean-epoch portion touched data files")
    intercept[Exception] {
      SinkOps.readVersion(spark, path).count()
    }
  }

  // ---- one-pass multi-column bloom writer ----

  test("the one-pass bloom writer's sidecar is BYTE-IDENTICAL to a " +
      "per-column-pass reference (including the all-zero bitmap for a " +
      "column all-null in one file), and conjunctive probes still " +
      "plan and read correctly") {
    import spark.implicits._
    // Two range-partitioned files; `b` is all-null in the low file.
    val df = (1L to 400L).map { i =>
      (i, if (i <= 200) None else Some(i * 3), s"r$i")
    }.toDF("a", "b", "s").repartitionByRange(2, col("a"))
    val path = tmp("r13_bloom1pass")
    SinkOps.commitVersionBlooms(df, path, Seq("a", "b"))
    val fs = fsOf(path)
    val sidecar = {
      val in = fs.open(new org.apache.hadoop.fs.Path(path,
        "blooms/v1.txt"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val lines = sidecar.split("\n")
    assert(lines.head == "a\tb")
    // Per-column-pass reference, replicating the r12 writer: for each
    // FILE and COLUMN independently, fold h_i(v) over the file's
    // non-null values into an m-bit map (m inferred from the sidecar's
    // own hex length — the prober contract).
    val m = lines(1).split("\t")(1).length * 4
    val as = Seq(2654435761L, 2246822519L, 3266489917L, 668265263L)
    val bs = Seq(374761393L, 1103515245L, 1779033703L, 2147483647L)
    val P = 1000000007L
    val dataDir = new org.apache.hadoop.fs.Path(path, "data/v1")
    val expected = fs.listStatus(dataDir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).map { f =>
        val rows = spark.read.parquet(f.toString)
        val hexes = Seq("a", "b").map { c =>
          val bits = new Array[Byte](m / 8)
          rows.filter(col(c).isNotNull).select(col(c).cast("long"))
            .collect().map(_.getLong(0)).foreach { v =>
              val vn = ((v % P) + P) % P
              as.zip(bs).foreach { case (aa, bb) =>
                val p = (((vn * (aa % P) + bb) % P) % m).toInt
                bits(p >> 3) = (bits(p >> 3) | (1 << (p & 7))).toByte
              }
            }
          bits.map(b => f"${b & 0xff}%02x").mkString
        }
        (f.getName +: hexes).mkString("\t")
      }.sorted
    assert(lines.tail.toSeq == expected.toSeq,
      "one-pass sidecar diverges from the per-column reference")
    // The all-null file's `b` bitmap is all zeros (a probe on b never
    // plans it — sound: the file truly holds no b value).
    val lowLine = lines.tail.map(_.split("\t"))
      .find(p => p(1) != "0" * (m / 4) && p(2) == "0" * (m / 4))
    assert(lowLine.isDefined, "expected one file all-null in b")
    // Conjunctive probe still exact.
    val gotRow = SinkOps.readVersionEqs(spark, path,
      Seq(("a", 300L), ("b", 900L))).select("s").collect()
    assert(gotRow.map(_.getString(0)).toSeq == Seq("r300"))
  }

  test("flat bloom planning refuses a DV manifest loudly; the " +
      "epoch-grouped planner hands kept files their sidecars") {
    import spark.implicits._
    val path = tmp("r13_bloomdv")
    SinkOps.commitVersionBlooms(
      (1L to 100L).map(i => (i, s"x$i")).toDF("id", "s"), path,
      Seq("id"))
    SinkOps.deleteVersionKeys(Seq(7L, 9L).toDF("id"), path, "id")
    val ex = intercept[IllegalArgumentException] {
      SinkOps.planFilesEq(spark, path, 7L)
    }
    assert(ex.getMessage.contains("deletion vectors"), ex.getMessage)
    val (groups, _, c) = SinkOps.planFileGroupsEq(spark, path, 9L)
    assert(c == "id" && groups.exists(_._2.nonEmpty))
    // The resolving read answers the probe honestly: key 9 is deleted.
    assert(SinkOps.readVersionEq(spark, path, 9L).isEmpty)
    assert(SinkOps.readVersionEq(spark, path, 10L).count() == 1)
  }

  // ---- k-D ZORDER ----

  test("zorderValueK at k=2 equals zorderValue bit-for-bit, and a 3-D " +
      "box prune over a k=3 layout is strictly tighter than every " +
      "2-D projection's prune") {
    import spark.implicits._
    import graft.ops.SortOps
    val pairs = Seq((3L, 5L), (1023L, 0L), (0L, 1023L), (777L, 511L))
      .toDF("x", "y")
    val diff = pairs.select(
      (SortOps.zorderValueK(Seq(col("x"), col("y")), 10) -
        SortOps.zorderValue(col("x"), col("y"), 10)).as("d"))
      .agg(sum(abs(col("d")))).head().getLong(0)
    assert(diff == 0L, "k=2 Morton diverges from the 2-D form")

    // Uniform 16x16x16 grid, 16 z-laid files: the [0,7]^3 octant box.
    val grid = (0 until 4096).map { i =>
      (i.toLong, (i % 16).toLong, ((i / 16) % 16).toLong,
        ((i / 256) % 16).toLong)
    }.toDF("id", "x", "y", "w")
    val path = tmp("r13_zk")
    SinkOps.commitVersion(grid, path)
    SinkOps.compactVersionsZOrderK(spark, path, Seq("x", "y", "w"),
      bits = 4, targetFiles = Some(16))
    val box = Seq(("x", 0L, 7L), ("y", 0L, 7L), ("w", 0L, 7L))
    val (kept3, total, _) = SinkOps.pruneFilesCols(spark, path, box)
    assert(total == 16, s"fixture produced $total files")
    Seq(box.take(2), box.drop(1), Seq(box.head, box.last)).foreach {
      proj =>
        val (kept2, _, _) = SinkOps.pruneFilesCols(spark, path, proj)
        assert(kept3.size < kept2.size,
          s"3-D prune (${kept3.size}) not tighter than projection " +
            s"${proj.map(_._1)} (${kept2.size})")
    }
    val got = SinkOps.readVersionWhereCols(spark, path, box)
      .select("id").collect().map(_.getLong(0)).sorted
    val want = grid.filter(col("x") <= 7 && col("y") <= 7 &&
        col("w") <= 7)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(want), "3-D box read diverged")
  }

  test("RESTORE rolls the head back as a new commit with zero data " +
      "IO (history pinned, restore-to-head refuses); SHALLOW CLONE " +
      "forks zero-copy, evolves independently, and the clone's VACUUM " +
      "never sweeps source files") {
    import spark.implicits._
    val src = tmp("r13_clone_src")
    val dst = tmp("r13_clone_dst")
    SinkOps.commitVersion((1L to 20L).map(i => (i, s"s$i"))
      .toDF("id", "s"), src)
    SinkOps.deleteVersionKeys((1L to 20L by 4).toDF("id"), src, "id")
    // RESTORE: undo the delete; v2 stays pinned.
    val rv = SinkOps.restoreVersion(spark, src, 1)
    assert(rv == 3)
    assert(SinkOps.readVersion(spark, src).count() == 20L)
    assert(SinkOps.readVersion(spark, src, Some(2)).count() == 15L)
    intercept[IllegalArgumentException] {
      SinkOps.restoreVersion(spark, src, 3) // restore-to-head no-op
    }
    // CLONE the DELETED state (v2): sidecar fold preserved across the
    // absolute-path references.
    assert(SinkOps.cloneVersion(spark, src, dst, Some(2)) == 1)
    assert(SinkOps.readVersion(spark, dst).count() == 15L)
    // Independent evolution: the clone's own append lands AFTER the
    // cloned sidecar (re-inserted keys survive); the source head is
    // untouched.
    SinkOps.commitVersion(Seq((1L, "re"), (99L, "new"))
      .toDF("id", "s"), dst)
    assert(SinkOps.readVersion(spark, dst).count() == 17L)
    assert(SinkOps.readVersion(spark, src).count() == 20L)
    // The clone's VACUUM can only sweep its OWN storage: keep=2
    // expires the cloned manifest v1, but the absolute source refs are
    // not in dst's data/ listing — zero dirs die, and the source still
    // reads in full.
    assert(SinkOps.expireVersions(spark, dst, keep = 2) == 0)
    assert(SinkOps.readVersion(spark, dst).count() == 17L)
    assert(SinkOps.readVersion(spark, src).count() == 20L)
    // Clone-to-nonempty refuses.
    intercept[IllegalArgumentException] {
      SinkOps.cloneVersion(spark, src, dst)
    }
  }

  test("a shallow clone INHERITS the source's skip tier: zone-map and " +
      "bloom reads prune on the clone via the source's sidecars, and " +
      "stats-only aggregation answers with zero data IO") {
    import spark.implicits._
    val src = tmp("r13_clone_skip_src")
    val dst = tmp("r13_clone_skip_dst")
    SinkOps.commitVersionIndexed(
      (1L to 400L).map(i => (i, i * 7 % 401, s"s$i"))
        .toDF("id", "k", "s").repartitionByRange(4, col("id")),
      src, statsCol = "id", bloomCol = "k")
    SinkOps.cloneVersion(spark, src, dst)
    // Zone-map prune through the SOURCE's sidecar, on the clone.
    val (groups, total, c) = SinkOps.pruneFileGroups(spark, dst,
      50L, 149L)
    assert(c == "id" && groups.flatMap(_._1).size < total,
      "clone inherited no zone-map prune")
    assert(SinkOps.readVersionWhere(spark, dst, 50L, 149L).count()
      == 100L)
    // Bloom point probe on the clone.
    val (bk, bTotal, bc) = SinkOps.planFilesEq(spark, dst, 7L)
    assert(bc == "k" && bk.size < bTotal,
      "clone inherited no bloom prune")
    assert(SinkOps.readVersionEq(spark, dst, 7L).count() ==
      (1L to 400L).count(i => i * 7 % 401 == 7L))
    // Metadata-only aggregate from the source's sidecar counts.
    val st = SinkOps.statsOnlyAgg(spark, dst).collect().head
    assert(st.getLong(0) == 400L && st.getLong(1) == 1L &&
      st.getLong(2) == 400L, st.toString)
  }

  test("a rolled-back WAP stage's numbering gap breaks neither " +
      "versionHistory nor VACUUM: the timeline reports what exists " +
      "and the sweep reference-counts across the hole") {
    import spark.implicits._
    val path = tmp("r13_gap")
    SinkOps.commitVersionStats(Seq((1L, "a")).toDF("id", "s"), path,
      carryForward = true, Seq("id"))
    // Stage v2, commit v3 while it is staged, then roll v2 back:
    // manifests 1 and 3 remain — a legitimate numbering gap.
    val sv = SinkOps.stageVersion(Seq((2L, "b")).toDF("id", "s"), path)
    SinkOps.commitVersionStats(Seq((3L, "c")).toDF("id", "s"), path,
      carryForward = true, Seq("id"))
    SinkOps.rollbackStaged(spark, path, sv)
    assert(SinkOps.currentVersion(spark, path) == 3)
    val hist = SinkOps.versionHistory(spark, path)
      .select("version", "n_rows").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(hist.sameElements(Array((1, 1L), (3, 2L))),
      s"history wrong across the gap: ${hist.mkString(",")}")
    // VACUUM across the gap: keep=3 expires v1 only (v2 never existed
    // in manifest/), reclaiming exactly v1's... nothing — v3 carries
    // v1's dir forward; zero dirs die, v1's manifest goes.
    assert(SinkOps.expireVersions(spark, path, keep = 3) == 0)
    intercept[IllegalArgumentException] {
      SinkOps.readVersion(spark, path, Some(1))
    }
    assert(SinkOps.readVersion(spark, path)
      .select("id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 3L)))
    // The staged-but-rolled-back data dir is gone too (rollback
    // deleted it); history stays readable end-to-end.
    assert(SinkOps.versionHistory(spark, path).count() == 1L)
  }

  // ---- retention-safe VACUUM ----

  test("expireVersions honors the retention horizon: an unreferenced " +
      "but younger-than-horizon version survives the sweep (pinned " +
      "readers keep their files); the eager sweep then reclaims it") {
    import spark.implicits._
    val path = tmp("r13_vacgrace")
    (1 to 3).foreach { i =>
      SinkOps.commitVersion(Seq((i.toLong, s"s$i")).toDF("id", "s"),
        path); ()
    }
    SinkOps.compactVersions(spark, path) // v4; v1-3 dirs unreferenced
    val graced = SinkOps.expireVersions(spark, path, keep = 4,
      retainMillis = 3600000L)
    assert(graced == 0, s"graced sweep deleted $graced dirs")
    // The pinned reader a horizon exists for: v2 still reads.
    assert(SinkOps.readVersion(spark, path, Some(2))
      .select("id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L)))
    val eager = SinkOps.expireVersions(spark, path, keep = 4)
    assert(eager == 3, s"eager sweep deleted $eager dirs")
    intercept[IllegalArgumentException] {
      SinkOps.readVersion(spark, path, Some(2))
    }
    assert(SinkOps.readVersion(spark, path)
      .select("id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L, 3L)))
  }
}
