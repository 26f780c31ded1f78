package graft.io

import java.sql.DriverManager

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Alone, SparkSpec}

/** File-lake MERGE upsert (K2's file-sink half, SURVEY §1.5): copy-on-
  * write merge over a date-partitioned parquet lake converges to the SAME
  * table as the JDBC upsert sink on the same overlapping re-extraction
  * batches (the reference's cron-overlap contract,
  * output/extract_water_level.py:206-217), re-apply is a no-op, and the
  * rewrite touches ONLY the partitions the batch's date span names. */
class LakeMergeSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:lakemergedb;create=true"

  private def freshTable(table: String): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try { st.execute(s"DROP TABLE $table") } catch { case _: Exception => () }
      st.execute(s"CREATE TABLE $table (tms_id VARCHAR(64), fgt VARCHAR(19), " +
        "time VARCHAR(19), value DOUBLE, PRIMARY KEY (tms_id, fgt, time))")
      st.close()
    } finally conn.close()
  }

  private def readJdbc(table: String): Seq[(String, String, String, Double)] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        s"SELECT tms_id, fgt, time, value FROM $table ORDER BY tms_id, fgt, time")
      val buf = scala.collection.mutable.ListBuffer.empty[(String, String, String, Double)]
      while (rs.next())
        buf += ((rs.getString(1), rs.getString(2), rs.getString(3), rs.getDouble(4)))
      buf.toList
    } finally conn.close()
  }

  private def readLakeSorted(dir: String): Seq[(String, String, String, Double)] =
    LakeMerge.readLake(spark, dir)
      .select("tms_id", "fgt", "time", "value")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3)))
      .toSeq.sorted

  /** A reference-shaped extraction batch: water levels for `ids` over
    * `times` at forecast-generation time `fgt`, value = planted fn. */
  private def batch(ids: Seq[String], fgt: String, times: Seq[String],
      v: (String, String) => Double): DataFrame =
    LakeMerge.withPartDate(
      ids.flatMap(id => times.map(t => (id, fgt, t, v(id, t))))
        .toDF("tms_id", "fgt", "time", "value"))

  private val day1 = Seq("2024-01-01 00:00:00", "2024-01-01 12:00:00")
  private val day2 = Seq("2024-01-02 00:00:00", "2024-01-02 12:00:00")
  private val day3 = Seq("2024-01-03 00:00:00")

  test("overlapping re-extractions converge to the JDBC sink's table; re-apply no-op") {
    freshTable("lakeref")
    val dir = java.nio.file.Files.createTempDirectory("lakemerge").toString + "/lake"
    val keys = Seq("tms_id", "fgt", "time")

    // extraction 1: two stations, days 1-2
    val b1 = batch(Seq("wl_a", "wl_b"), "2024-01-02 06:00:00", day1 ++ day2,
      (id, t) => id.length + t.takeRight(8).take(2).toDouble)
    // extraction 2 (cron overlap): re-extracts day 2 with CORRECTED values
    // and extends into day 3; station b gains a new series point
    val b2 = batch(Seq("wl_a", "wl_b"), "2024-01-03 06:00:00", day3,
      (_, _) => 99.0)
      .unionByName(batch(Seq("wl_a"), "2024-01-02 06:00:00", day2,
        (_, _) => 42.5))

    LakeMerge.writeLake(b1, dir)
    JdbcUpsertSink.upsert(b1.drop("part_date"), url, "lakeref",
      keys, Seq("value"), JdbcUpsertSink.UpdateInsertDialect)

    val s2 = LakeMerge.merge(spark, dir, b2, keys)
    JdbcUpsertSink.upsert(b2.drop("part_date"), url, "lakeref",
      keys, Seq("value"), JdbcUpsertSink.UpdateInsertDialect)
    assert(readLakeSorted(dir) === readJdbc("lakeref"))
    assert(s2.rowsUpdated === 2L && s2.rowsInserted === 2L,
      s"day-2 corrections update, day-3 rows insert: $s2")

    // idempotency: the SAME batch again converges (no growth, same values)
    val s3 = LakeMerge.merge(spark, dir, b2, keys)
    JdbcUpsertSink.upsert(b2.drop("part_date"), url, "lakeref",
      keys, Seq("value"), JdbcUpsertSink.UpdateInsertDialect)
    assert(readLakeSorted(dir) === readJdbc("lakeref"))
    assert(s3.rowsInserted === 0L && s3.rowsUpdated === s3.rowsUpserted,
      s"re-apply must be pure updates: $s3")
  }

  test("rewrite touches ONLY the affected date partitions") {
    val dir = java.nio.file.Files.createTempDirectory("lakemerge2").toString + "/lake"
    val b1 = batch(Seq("wl_a", "wl_b", "wl_c"), "2024-01-02 06:00:00",
      day1 ++ day2, (_, _) => 1.0)
    LakeMerge.writeLake(b1, dir)

    // snapshot day-1 file listing (names + mtimes), then point-upsert day 2
    def day1Files(): Seq[(String, Long)] = {
      val d = new java.io.File(s"$dir/part_date=2024-01-01")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified)).toSeq.sorted
    }
    val before = day1Files()
    assert(before.nonEmpty)
    val point = batch(Seq("wl_b"), "2024-01-02 06:00:00",
      Seq("2024-01-02 12:00:00"), (_, _) => 7.25)
    val stats = LakeMerge.merge(spark, dir, point)
    assert(stats.partitionsRewritten === 1 && stats.partitionsTotal === 2,
      s"point upsert must rewrite one of two partitions: $stats")
    assert(day1Files() === before,
      "untouched partition files must not be rewritten or moved")
    // and the value landed
    val got = LakeMerge.readLake(spark, dir)
      .filter(col("tms_id") === "wl_b" && col("time") === "2024-01-02 12:00:00")
      .select("value").head().getDouble(0)
    assert(got === 7.25)
  }

  test("NULL partition values and mis-derived partitions fail BEFORE any write") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("lakemerge4").toString + "/lake"
    LakeMerge.writeLake(
      batch(Seq("wl_a"), "2024-01-02 06:00:00", day1 ++ day2, (_, _) => 1.0), dir)
    val before = readLakeSorted(dir)

    // a NULL key value would re-insert forever (NULL never equi-joins) —
    // the key guard fires first, before anything is written
    val nullKey = Seq(("wl_a", "2024-01-02 06:00:00",
      null.asInstanceOf[String], 2.0))
      .toDF("tms_id", "fgt", "time", "value")
      .withColumn("part_date", lit(null).cast("string"))
    val e0 = intercept[IllegalArgumentException] {
      LakeMerge.merge(spark, dir, nullKey)
    }
    assert(e0.getMessage.contains("NULL (tms_id, fgt, time) key"),
      e0.getMessage)

    // valid keys but a hand-set NULL part_date slips the drift check
    // (=!= on NULL is NULL) — the partition guard must still fail fast,
    // not strand rows under __HIVE_DEFAULT_PARTITION__ after a partial
    // swap
    val nullPart = batch(Seq("wl_a"), "2024-01-02 06:00:00",
        Seq(day1.head), (_, _) => 2.0)
      .withColumn("part_date", lit(null).cast("string"))
    val e1 = intercept[IllegalArgumentException] {
      LakeMerge.merge(spark, dir, nullPart)
    }
    assert(e1.getMessage.contains("NULL part_date"), e1.getMessage)

    // a part_date disagreeing with date_format(time) (wrong-timezone
    // derivation) would prune to the wrong directory and duplicate the
    // key — rejected by the strict check
    val drifted = batch(Seq("wl_a"), "2024-01-02 06:00:00",
        Seq(day1.head), (_, _) => 9.0)
      .withColumn("part_date", lit("2024-02-15"))
    val e2 = intercept[IllegalArgumentException] {
      LakeMerge.merge(spark, dir, drifted)
    }
    assert(e2.getMessage.contains("disagrees"), e2.getMessage)
    assert(readLakeSorted(dir) === before,
      "a rejected merge must leave the lake untouched")
  }

  // == Whole-merge atomicity: manifest commit + crash recovery (r14) ==
  // The swap loop is not atomic across partitions; the _merge_manifest
  // write is the commit point. These cases simulate the kill-between-
  // renames crash with mergeImpl's injection hook and specify the full
  // recovery contract: readers never see a torn table, the next call
  // rolls forward, a pre-commit crash rolls back.

  /** Raw directory view — what a manifest-UNAWARE reader would see. */
  private def rawLakeSorted(dir: String): Seq[(String, String, String, Double)] =
    spark.read.parquet(dir)
      .select("tms_id", "fgt", "time", "value")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3)))
      .toSeq.sorted

  private def fsOf(dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())

  /** Build twin lakes from b1, merge b2 into `clean` fully (the expected
    * end state) and into `crash` with a simulated kill after `failAfter`
    * partition swaps. Returns (crashDir, expected rows). */
  private def crashScenario(failAfter: Int): (String, Seq[(String, String, String, Double)]) = {
    val root = java.nio.file.Files.createTempDirectory("lakecrash").toString
    val (cleanDir, crashDir) = (s"$root/clean", s"$root/crash")
    val b1 = batch(Seq("wl_a", "wl_b"), "2024-01-02 06:00:00", day1 ++ day2,
      (id, t) => id.length + t.takeRight(8).take(2).toDouble)
    // touches TWO partitions: day-2 correction + day-3 insert — so a
    // crash after one swap leaves the directory listing genuinely torn
    val b2 = batch(Seq("wl_a", "wl_b"), "2024-01-03 06:00:00", day3,
        (_, _) => 99.0)
      .unionByName(batch(Seq("wl_a"), "2024-01-02 06:00:00", day2,
        (_, _) => 42.5))
    LakeMerge.writeLake(b1, cleanDir)
    LakeMerge.writeLake(b1, crashDir)
    LakeMerge.merge(spark, cleanDir, b2)
    val e = intercept[IllegalStateException] {
      LakeMerge.mergeImpl(spark, crashDir, b2, Seq("tms_id", "fgt", "time"),
        "part_date", "tms_id", "time", 4, true, failAfter)
    }
    assert(e.getMessage.contains("simulated crash"), e.getMessage)
    (crashDir, readLakeSorted(cleanDir))
  }

  test("crash mid-swap: readLake serves the COMMITTED view, never a torn table") {
    val (dir, expected) = crashScenario(failAfter = 1)
    val fs = fsOf(dir)
    assert(LakeMerge.readManifest(fs, dir).isDefined,
      "a mid-swap crash must leave the commit manifest in place")
    // the raw directory listing IS torn (one partition swapped, one not) —
    // this is the failure mode the manifest exists to hide
    assert(rawLakeSorted(dir) !== expected,
      "scenario must produce a genuinely torn directory listing")
    // ...but the manifest-aware reader resolves through staging and sees
    // exactly the committed post-merge table, mutating nothing
    assert(readLakeSorted(dir) === expected)
    assert(LakeMerge.readManifest(fs, dir).isDefined,
      "readLake must not mutate the lake (recovery belongs to merge/recover)")
  }

  test("crash BEFORE any swap: committed view resolves wholly from staging") {
    val (dir, expected) = crashScenario(failAfter = 0)
    assert(readLakeSorted(dir) === expected)
  }

  test("recover() rolls an interrupted merge forward; re-merge converges") {
    val (dir, expected) = crashScenario(failAfter = 1)
    assert(LakeMerge.recover(spark, dir), "a pending merge must be recovered")
    val fs = fsOf(dir)
    assert(LakeMerge.readManifest(fs, dir).isEmpty, "manifest cleaned")
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .forall(!_.getPath.getName.startsWith(".merge-staging-")),
      "staging cleaned")
    // post-recovery the RAW listing equals the committed table — swaps done
    assert(rawLakeSorted(dir) === expected)
    assert(LakeMerge.recover(spark, dir) === false, "second recover is a no-op")
  }

  test("the NEXT merge auto-recovers first, then applies its own batch") {
    val (dir, expected) = crashScenario(failAfter = 1)
    // a later cron run merges a fresh day-3 correction without ever being
    // told about the crash — entry recovery completes the old merge first
    val b3 = batch(Seq("wl_b"), "2024-01-03 06:00:00", day3, (_, _) => 7.0)
    LakeMerge.merge(spark, dir, b3)
    val want = expected.map {
      case ("wl_b", f, t, _) if t.startsWith("2024-01-03") => ("wl_b", f, t, 7.0)
      case row => row
    }
    assert(rawLakeSorted(dir) === want.sorted)
    assert(LakeMerge.readManifest(fsOf(dir), dir).isEmpty)
  }

  test("crash BEFORE the manifest write rolls back: lake untouched, staging GC'd") {
    val dir = java.nio.file.Files.createTempDirectory("lakepre").toString + "/lake"
    LakeMerge.writeLake(
      batch(Seq("wl_a"), "2024-01-02 06:00:00", day1, (_, _) => 1.0), dir)
    val before = readLakeSorted(dir)
    // simulate a crash during the staging write: an orphan staging dir
    // with no manifest — readers ignore it (dot-prefixed), recover GC's it
    val fs = fsOf(dir)
    val orphan = new org.apache.hadoop.fs.Path(dir, ".merge-staging-orphan")
    fs.mkdirs(new org.apache.hadoop.fs.Path(orphan, "part_date=2024-01-09"))
    assert(readLakeSorted(dir) === before, "orphan staging invisible to readers")
    assert(LakeMerge.recover(spark, dir) === false,
      "no manifest -> nothing to roll forward")
    assert(!fs.exists(orphan), "pre-commit staging must be garbage-collected")
    assert(readLakeSorted(dir) === before)
  }

  test("a second merge while a manifest pends is refused (single-writer contract)") {
    val (dir, _) = crashScenario(failAfter = 1) // leaves a pending manifest
    // writeManifest is the commit gate: rename-onto-existing SUCCEEDS on
    // POSIX, so the explicit exists-check is the only thing standing
    // between a concurrent writer and clobbered bookkeeping
    val e = intercept[IllegalArgumentException] {
      LakeMerge.writeManifest(fsOf(dir), dir,
        LakeMerge.PendingMerge("x", ".merge-staging-x", "part_date", Seq("2024-01-09")))
    }
    assert(e.getMessage.contains("in flight"), e.getMessage)
  }

  test("single-writer lease: a concurrent merge is refused fail-fast; stale lease is taken over") {
    val dir = java.nio.file.Files.createTempDirectory("lakemergeL").toString + "/lake"
    LakeMerge.writeLake(
      batch(Seq("wl_a"), "2024-01-02 06:00:00", day1, (_, _) => 1.0), dir)
    val fs = fsOf(dir)
    val upd = batch(Seq("wl_a"), "2024-01-02 06:00:00",
      Seq(day1.head), (_, _) => 2.0)

    // writer A holds the lease (fresh heartbeat) → B's merge refuses at
    // ENTRY, before any staging work, naming the holder
    LakeMerge.acquireLease(fs, dir, "writer-A")
    val e = intercept[IllegalStateException] { LakeMerge.merge(spark, dir, upd) }
    assert(e.getMessage.contains("writer-A") &&
      e.getMessage.contains("lease"), e.getMessage)
    // ...and a second direct claimant is refused too
    intercept[IllegalStateException] {
      LakeMerge.acquireLease(fs, dir, "writer-B")
    }
    // only the holder's release removes the lease
    LakeMerge.releaseLease(fs, dir, "writer-B")
    assert(LakeMerge.leaseHolder(fs, dir).contains("writer-A"))
    LakeMerge.releaseLease(fs, dir, "writer-A")
    assert(LakeMerge.leaseHolder(fs, dir).isEmpty)

    // stale takeover: a lease whose heartbeat stopped long ago (holder
    // died without releasing) must not wedge the lake forever — the next
    // merge takes it over and completes
    LakeMerge.acquireLease(fs, dir, "dead-writer")
    val lease = new org.apache.hadoop.fs.Path(dir, "_merge_lease")
    val old = System.currentTimeMillis() - 60L * 60 * 1000
    fs.setTimes(lease, old, old)
    val stats = LakeMerge.merge(spark, dir, upd)
    assert(stats.rowsUpdated === 1L)
    assert(LakeMerge.leaseHolder(fs, dir).isEmpty,
      "a completed merge must release the lease it took over")
    assert(readLakeSorted(dir).exists(_._4 == 2.0))

    // theft check: a ROBBED writer (its lease legally taken over) must
    // abort at its next heartbeat, never continue beside the new holder
    LakeMerge.acquireLease(fs, dir, "slow-writer")
    fs.setTimes(lease, old, old) // slow-writer goes stale
    LakeMerge.acquireLease(fs, dir, "thief") // legal takeover
    val robbed = intercept[IllegalStateException] {
      LakeMerge.heartbeatLease(fs, dir, "slow-writer")
    }
    assert(robbed.getMessage.contains("taken") ||
      robbed.getMessage.contains("lost"), robbed.getMessage)
    LakeMerge.releaseLease(fs, dir, "thief")
  }

  test("recover() is lease-guarded: refused while a live writer holds the lease") {
    val dir = java.nio.file.Files.createTempDirectory("lakerecoverlease")
      .toString + "/lake"
    LakeMerge.writeLake(batch(Seq("wl_a"), "2024-01-02 06:00:00", day1,
      (_, _) => 1.0), dir)
    val fs = LakeMerge.hadoopFs(spark, dir)
    LakeMerge.acquireLease(fs, dir, "live-writer")
    try {
      // a leaseless admin recover racing a live merge could GC the
      // in-flight writer's pre-commit staging or double-roll-forward its
      // manifest (review finding) — it must refuse fail-fast instead
      val e = intercept[IllegalStateException] { LakeMerge.recover(spark, dir) }
      assert(e.getMessage.contains("lease"), e.getMessage)
    } finally LakeMerge.releaseLease(fs, dir, "live-writer")
    // released: recover acquires its own lease, no-ops on a healthy lake,
    // and releases it (a follow-up writer must not find it held)
    assert(LakeMerge.recover(spark, dir) === false)
    assert(LakeMerge.leaseHolder(fs, dir).isEmpty,
      "recover must release its own lease")
  }

  test("manifest values with brackets are rejected at write time") {
    // r14 ADVICE: readManifest's partitions regex is bracket-bounded, so
    // a ']' inside a custom-layout partition value would silently
    // truncate the parsed list and recovery would skip (then delete) the
    // tail's swaps — the write must refuse instead
    val dir = java.nio.file.Files.createTempDirectory("lakemergeB").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    for (bad <- Seq("2024]01", "2024[01", "a\"b", "a\\b", "ab")) {
      val e = intercept[IllegalArgumentException] {
        LakeMerge.writeManifest(fs, dir, LakeMerge.PendingMerge(
          "m1", ".merge-staging-m1", "part", Seq("ok", bad)))
      }
      assert(e.getMessage.contains("JSON-unsafe"), s"$bad: ${e.getMessage}")
    }
    // and a round-trip of legal values still parses exactly
    LakeMerge.writeManifest(fs, dir, LakeMerge.PendingMerge(
      "m2", ".merge-staging-m2", "part", Seq("2024-01-01", "2024-01-02")))
    assert(LakeMerge.readManifest(fs, dir).get.partitions ===
      Seq("2024-01-01", "2024-01-02"))
  }

  test("committed view plans O(manifest) scans, not O(partitions), and still prunes") {
    // 12-date lake, one-partition merge crashed before its swap: the
    // pending committed view must read the 11 untouched dates through ONE
    // rooted scan (r14 ADVICE: the per-directory union made analysis
    // O(partitions) and killed partition pruning for filtered readers)
    val dir = java.nio.file.Files.createTempDirectory("lakemergeCV").toString + "/lake"
    val days = (1 to 12).map(d => f"2024-03-$d%02d 06:00:00")
    LakeMerge.writeLake(
      batch(Seq("wl_a", "wl_b"), "2024-03-01 00:00:00", days, (_, _) => 1.0),
      dir, filesPerPartition = 1)
    val upd = batch(Seq("wl_a"), "2024-03-01 00:00:00",
      Seq("2024-03-05 06:00:00"), (_, _) => 9.0)
    intercept[IllegalStateException] {
      LakeMerge.mergeImpl(spark, dir, upd, Seq("tms_id", "fgt", "time"),
        "part_date", "tms_id", "time", 1, true, crashAfterSwaps = 0)
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(LakeMerge.readManifest(fs, dir).isDefined, "manifest must pend")
    val view = LakeMerge.readLake(spark, dir)
    val scans = view.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.length === 2,
      s"1 rooted + 1 manifest-listed scan expected, got ${scans.length}")
    // committed content: the touched date serves the STAGED (new) rows
    assert(view.filter(col("part_date") === "2024-03-05" &&
      col("tms_id") === "wl_a").select("value").head.getDouble(0) === 9.0)
    // pruning through the pending view: an untouched-date filter reads
    // ONE file (filesPerPartition = 1), not the whole lake
    assert(EmbeddingLake.filesRead(
      view.filter(col("part_date") === "2024-03-09")) === 1L,
      "partition pruning must survive the committed view")
    // heal for good measure
    assert(LakeMerge.recover(spark, dir))
  }

  test("duplicate keys in one batch are rejected loudly") {
    val dir = java.nio.file.Files.createTempDirectory("lakemerge3").toString + "/lake"
    LakeMerge.writeLake(
      batch(Seq("wl_a"), "2024-01-02 06:00:00", day1, (_, _) => 1.0), dir)
    val dup = batch(Seq("wl_a", "wl_a"), "2024-01-02 06:00:00",
      Seq(day1.head), (_, _) => 2.0)
    val e = intercept[IllegalArgumentException] {
      LakeMerge.merge(spark, dir, dup)
    }
    assert(e.getMessage.contains("duplicate"))
  }

  // == One validation pass: every batch check reads one aggregate ==

  test("a NULL key and a duplicate key in one batch: the NULL-key refusal wins") {
    val dir = java.nio.file.Files.createTempDirectory("lakemerge5").toString + "/lake"
    LakeMerge.writeLake(
      batch(Seq("wl_a"), "2024-01-02 06:00:00", day1, (_, _) => 1.0), dir)
    val before = readLakeSorted(dir)
    val both = Seq(
        ("wl_a", "2024-01-02 06:00:00", null.asInstanceOf[String], 2.0),
        ("wl_b", "2024-01-02 06:00:00", day1.head, 3.0),
        ("wl_b", "2024-01-02 06:00:00", day1.head, 4.0))
      .toDF("tms_id", "fgt", "time", "value")
    val e = intercept[IllegalArgumentException] {
      LakeMerge.merge(spark, dir, LakeMerge.withPartDate(both))
    }
    assert(e.getMessage.contains("NULL (tms_id, fgt, time) key"), e.getMessage)
    assert(readLakeSorted(dir) === before)
  }

  test("requireUniqueKeys = false skips the key checks, still refuses a NULL part_date") {
    val dir = java.nio.file.Files.createTempDirectory("lakemerge6").toString + "/lake"
    LakeMerge.writeLake(
      batch(Seq("wl_a"), "2024-01-02 06:00:00", day1, (_, _) => 1.0), dir)
    // a custom layout: the partition is not date_format(time), so the
    // strict pass would refuse it as drifted
    val custom = batch(Seq("wl_b"), "2024-01-02 06:00:00", day2, (_, _) => 2.0)
      .withColumn("part_date", lit("2024-01-01"))
    val stats = LakeMerge.merge(spark, dir, custom, requireUniqueKeys = false)
    assert(stats.rowsUpserted === 2L && stats.partitionsRewritten === 1)
    assert(stats.rowsInserted === 2L && stats.rowsAfterAffected === 4L)

    val before = readLakeSorted(dir)
    val nullPart = batch(Seq("wl_c"), "2024-01-02 06:00:00", day1, (_, _) => 3.0)
      .withColumn("part_date", when(col("time") === day1.head, lit(null))
        .otherwise(col("part_date")))
    val e = intercept[IllegalArgumentException] {
      LakeMerge.merge(spark, dir, nullPart, requireUniqueKeys = false)
    }
    assert(e.getMessage.contains("NULL part_date"), e.getMessage)
    assert(readLakeSorted(dir) === before)
  }

  test("an empty batch merges nothing: zero-row aggregates pass every check") {
    val dir = java.nio.file.Files.createTempDirectory("lakemerge7").toString + "/lake"
    LakeMerge.writeLake(
      batch(Seq("wl_a"), "2024-01-02 06:00:00", day1 ++ day2, (_, _) => 1.0), dir)
    val before = readLakeSorted(dir)
    val empty = batch(Seq.empty, "2024-01-02 06:00:00", day1, (_, _) => 2.0)
    val stats = LakeMerge.merge(spark, dir, empty)
    assert(stats.copy(mergeId = "") === LakeMerge.MergeStats(
      partitionsTotal = 2, partitionsRewritten = 0, rowsBeforeAffected = 0L,
      rowsUpserted = 0L, rowsUpdated = 0L, rowsInserted = 0L,
      rowsAfterAffected = 0L))
    assert(readLakeSorted(dir) === before)
  }

  test("a merge releases its cached batch: no persisted RDD or cache entry left behind", Alone) {
    val dir = java.nio.file.Files.createTempDirectory("lakemerge8").toString + "/lake"
    LakeMerge.writeLake(
      batch(Seq("wl_a"), "2024-01-02 06:00:00", day1 ++ day2, (_, _) => 1.0), dir)
    val sc = spark.sparkContext
    val rddsBefore = sc.getPersistentRDDs.keySet
    val cachedBefore = org.apache.spark.sql.CacheProbe.entries(spark)
    val stats = LakeMerge.merge(spark, dir,
      batch(Seq("wl_a", "wl_b"), "2024-01-03 06:00:00", day2, (_, _) => 2.0))
    assert(stats.rowsInserted === 4L, s"$stats")
    // no GC wait: a released batch leaves nothing for a collector to find
    val leaked = sc.getPersistentRDDs.keySet -- rddsBefore
    assertIsolated(leaked.isEmpty,
      s"persisted RDDs left behind: ${leaked.map(id => sc.getPersistentRDDs(id))}")
    val cachedAfter = org.apache.spark.sql.CacheProbe.entries(spark)
    assertIsolated(cachedAfter == cachedBefore,
      s"the session cache went from $cachedBefore to $cachedAfter entries")
  }
}
