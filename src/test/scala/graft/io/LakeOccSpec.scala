package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Optimistic concurrency for disjoint-partition writers (round-16 task 4,
  * the Delta OCC protocol): writers stage WITHOUT the lease, take it only
  * for the commit window, and succeed iff no commit since their snapshot
  * touched their partitions. A long compaction no longer blocks disjoint
  * ingest merges; overlapping writers refuse deterministically with the
  * conflicting seq named; a crashed loser's staging is stale-GC'd. */
class LakeOccSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("tms_id", "fgt", "time")
  private val fgt = "2024-01-02 06:00:00"
  private val day1 = Seq("2024-01-01 00:00:00", "2024-01-01 12:00:00")
  private val day2 = Seq("2024-01-02 00:00:00", "2024-01-02 12:00:00")
  private val day3 = Seq("2024-01-03 00:00:00")

  private def batch(ids: Seq[String], f: String, times: Seq[String],
      v: (String, String) => Double): DataFrame =
    LakeMerge.withPartDate(
      ids.flatMap(id => times.map(t => (id, f, t, v(id, t))))
        .toDF("tms_id", "fgt", "time", "value"))

  private def freshLake(tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(tag).toString + "/lake"
    LakeMerge.writeLake(
      batch(Seq("wl_a", "wl_b"), fgt, day1 ++ day2 ++ day3,
        (id, t) => id.length + t.takeRight(8).take(2).toDouble), dir)
    dir
  }

  private def rows(dir: String): Seq[String] =
    LakeMerge.readLake(spark, dir)
      .select("tms_id", "fgt", "time", "value", "part_date")
      .collect().map(_.mkString("|")).toSeq.sorted

  test("OCC merge == pessimistic merge on the same batch") {
    val a = freshLake("occ-parity-a"); val b = freshLake("occ-parity-b")
    val upd = batch(Seq("wl_a", "wl_c"), "2024-01-03 06:00:00", day2,
      (_, _) => 5.5)
    val sOcc = LakeMerge.merge(spark, a, upd, keys, occ = true)
    val sPes = LakeMerge.merge(spark, b, upd, keys)
    assert(rows(a) === rows(b))
    assert(sOcc.rowsInserted === sPes.rowsInserted &&
      sOcc.rowsUpdated === sPes.rowsUpdated)
    // OCC commits always record themselves (conflict detection needs the
    // log); the pessimistic one on a logless lake does not
    assert(LakeTimeTravel.readCommits(spark, a).map(_.seq) === Seq(0L))
  }

  test("interleaved: a disjoint OCC merge commits INSIDE a staged compaction; both land") {
    val dir = freshLake("occ-interleave")
    // fragment day 1 so the compaction selects exactly it
    val frag = LakeMerge.readLake(spark, dir)
      .filter(col("part_date") === "2024-01-01").drop("part_date")
      .localCheckpoint(true)
    frag.repartition(8).write.mode("overwrite")
      .parquet(s"$dir/part_date=2024-01-01")
    val upd = batch(Seq("wl_c"), "2024-01-03 06:00:00", day3, (_, _) => 9.0)
    var mergeStats: LakeMerge.MergeStats = null
    val compactStats = LakeMerge.compactImpl(spark, dir,
      targetFileBytes = Long.MaxValue / 2, partitionCol = "part_date",
      seriesCol = "tms_id", timeCol = "time", maxPartitions = 1,
      leaseStaleMs = 15L * 60 * 1000, crashAfterSwaps = Int.MaxValue,
      occ = true, beforeOccCommit = () => {
        // the compaction has STAGED day 1 but not committed — a full
        // disjoint ingest merge (day 3) starts, stages, and COMMITS here
        mergeStats = LakeMerge.merge(spark, dir, upd, keys, occ = true)
      })
    assert(mergeStats != null && mergeStats.rowsInserted === 1L)
    assert(compactStats.partitionsCompacted === 1,
      s"the compaction must still commit after the disjoint merge: $compactStats")
    // both commits recorded, seqs monotonic, partition sets as claimed
    val commits = LakeTimeTravel.readCommits(spark, dir)
    assert(commits.map(_.seq) === Seq(0L, 1L), commits.toString)
    assert(commits.head.op === "merge" &&
      commits.head.partitions === Seq("2024-01-03"))
    assert(commits(1).op === "compact" &&
      commits(1).partitions === Seq("2024-01-01"))
    // data intact: merged row present, compacted partition single-file
    assert(LakeMerge.readLake(spark, dir)
      .filter(col("tms_id") === "wl_c").count() === 1L)
    val fs = LakeMerge.hadoopFs(spark, dir)
    assert(fs.listStatus(new Path(dir, "part_date=2024-01-01"))
      .count(f => f.isFile && !f.getPath.getName.startsWith("_")) === 1)
  }

  test("an OCC compaction that loses its commit window refuses, naming the merge's seq and partition") {
    val dir = freshLake("occ-compact-conflict")
    // fragment day 1 so the compaction selects exactly it
    val frag = LakeMerge.readLake(spark, dir)
      .filter(col("part_date") === "2024-01-01").drop("part_date")
      .localCheckpoint(true)
    frag.repartition(8).write.mode("overwrite")
      .parquet(s"$dir/part_date=2024-01-01")
    val upd = batch(Seq("wl_c"), "2024-01-03 06:00:00", day1, (_, _) => 9.0)
    var afterMerge = Seq.empty[String]
    val e = intercept[java.util.ConcurrentModificationException] {
      LakeMerge.compactImpl(spark, dir,
        targetFileBytes = Long.MaxValue / 2, partitionCol = "part_date",
        seriesCol = "tms_id", timeCol = "time", maxPartitions = 1,
        leaseStaleMs = 15L * 60 * 1000, crashAfterSwaps = Int.MaxValue,
        occ = true, beforeOccCommit = () => {
          // the compaction has STAGED day 1; a merge into day 1 commits
          LakeMerge.merge(spark, dir, upd, keys)
          afterMerge = rows(dir)
        })
    }
    assert(e.getMessage.contains("seq 0") && e.getMessage.contains("2024-01-01"),
      e.getMessage)
    val fs = LakeMerge.hadoopFs(spark, dir)
    assert(!fs.listStatus(new Path(dir)).exists(
      _.getPath.getName.startsWith(".merge-staging-")),
      "the refused compaction's staging must be cleaned")
    assert(afterMerge.exists(_.startsWith("wl_c|")) && rows(dir) === afterMerge,
      "the lake must read back as the merge left it")
    assert(LakeTimeTravel.readCommits(spark, dir).map(c => (c.seq, c.op)) ===
      Seq((0L, "merge")))
  }

  test("LOGLESS lake: a pessimistic commit during OCC staging is still a detected conflict (r16 ADVICE)") {
    // pre-fix lost update: on a lake with NO commit log, a pessimistic
    // merge records nothing, so an OCC writer staging concurrently saw no
    // conflict at its commit window and silently overwrote it. The OCC
    // snapshot now BOOTSTRAPS `_commits/` first, putting the pessimistic
    // commit under the once-a-log-exists recording rule.
    val dir = freshLake("occ-logless")
    assert(LakeTimeTravel.readCommits(spark, dir).isEmpty, "fixture must be logless")
    val pessimistic = batch(Seq("wl_p"), "2024-01-04 06:00:00", day2, (_, _) => 77.0)
    val occUpd = batch(Seq("wl_o"), "2024-01-04 06:00:00", day2, (_, _) => 88.0)
    val e = intercept[java.util.ConcurrentModificationException] {
      LakeMerge.mergeImpl(spark, dir, occUpd, keys, "part_date", "tms_id",
        "time", 4, requireUniqueKeys = true, Int.MaxValue, occ = true,
        beforeOccCommit = () =>
          // lands DURING the OCC writer's leaseless staging phase,
          // touching the SAME partitions
          LakeMerge.merge(spark, dir, pessimistic, keys))
    }
    assert(e.getMessage.contains("seq 0"), e.getMessage)
    // the pessimistic writer's data survived; the OCC batch never landed
    val vals = LakeMerge.readLake(spark, dir)
      .filter(col("tms_id").isin("wl_p", "wl_o"))
      .select("tms_id").distinct().collect().map(_.getString(0)).toSeq
    assert(vals === Seq("wl_p"), s"$vals")
    // and the bootstrap is why: the pessimistic commit RECORDED itself
    assert(LakeTimeTravel.readCommits(spark, dir).map(_.seq) === Seq(0L))
  }

  test("commit-window recover spares the writer's OWN stale-looking staging (r16 ADVICE)") {
    // a staged write longer than occStaleMs leaves the staging root's
    // mtime old; the OCC writer's own commit-window recoverHeld used to
    // GC it and the commit failed with a misleading 'staging write
    // failed'. Self-exclusion keeps the caller's staging; the heartbeat
    // is silenced (long period) so ONLY the exclusion can save it here.
    val dir = freshLake("occ-ownstale")
    val prev = LakeMerge.stagingHeartbeatMs
    LakeMerge.stagingHeartbeatMs = 10L * 60 * 1000
    try {
      val fs = LakeMerge.hadoopFs(spark, dir)
      val upd = batch(Seq("wl_s"), "2024-01-05 06:00:00", day3, (_, _) => 3.0)
      val stats = LakeMerge.mergeImpl(spark, dir, upd, keys, "part_date",
        "tms_id", "time", 4, requireUniqueKeys = true, Int.MaxValue,
        occ = true,
        beforeOccCommit = () =>
          // simulate a write that outlived occStaleMs: age every OCC
          // staging root to the epoch
          fs.listStatus(new Path(dir)).foreach { s =>
            if (s.isDirectory && s.getPath.getName.startsWith(".merge-staging-occ-"))
              fs.setTimes(s.getPath, 1000L, -1)
          })
      assert(stats.rowsInserted === 1L,
        s"the commit must survive its own recover pass: $stats")
      assert(LakeMerge.readLake(spark, dir)
        .filter(col("tms_id") === "wl_s").count() === 1L)
    } finally LakeMerge.stagingHeartbeatMs = prev
  }

  test("leaseless staging stays mtime-fresh under the heartbeat (r16 ADVICE)") {
    val dir = freshLake("occ-hb")
    val prev = LakeMerge.stagingHeartbeatMs
    LakeMerge.stagingHeartbeatMs = 100L
    try {
      val fs = LakeMerge.hadoopFs(spark, dir)
      val upd = batch(Seq("wl_h"), "2024-01-06 06:00:00", day3, (_, _) => 4.0)
      var freshMtime = false
      LakeMerge.mergeImpl(spark, dir, upd, keys, "part_date", "tms_id",
        "time", 4, requireUniqueKeys = true, Int.MaxValue, occ = true,
        beforeOccCommit = () => {
          // the staged write is long done; beats must keep refreshing
          Thread.sleep(600)
          val now = System.currentTimeMillis()
          freshMtime = fs.listStatus(new Path(dir)).exists { s =>
            s.isDirectory &&
              s.getPath.getName.startsWith(".merge-staging-occ-") &&
              now - s.getModificationTime < 500
          }
        })
      assert(freshMtime,
        "the heartbeat must refresh the staging root's mtime after the write")
    } finally LakeMerge.stagingHeartbeatMs = prev
  }

  test("overlapping OCC writers: the second refuses, naming the winning seq") {
    val dir = freshLake("occ-conflict")
    val mine = batch(Seq("wl_a"), "2024-01-03 06:00:00", day2, (_, _) => 1.0)
    val theirs = batch(Seq("wl_b"), "2024-01-03 07:00:00", day2, (_, _) => 2.0)
    val e = intercept[java.util.ConcurrentModificationException] {
      LakeMerge.mergeImpl(spark, dir, mine, keys, "part_date", "tms_id",
        "time", 4, requireUniqueKeys = true, crashAfterSwaps = Int.MaxValue,
        occ = true, beforeOccCommit = () =>
          LakeMerge.merge(spark, dir, theirs, keys, occ = true))
    }
    assert(e.getMessage.contains("seq 0") &&
      e.getMessage.contains("2024-01-02"), e.getMessage)
    // the winner's data is live; the loser changed nothing and its
    // staging was cleaned at refusal time
    val live = LakeMerge.readLake(spark, dir)
    assert(live.filter(col("tms_id") === "wl_b" && col("value") === 2.0)
      .count() === 2L)
    assert(live.filter(col("value") === 1.0).count() === 0L)
    val fs = LakeMerge.hadoopFs(spark, dir)
    assert(!fs.listStatus(new Path(dir)).exists(
      _.getPath.getName.startsWith(".merge-staging-occ-")),
      "the refused writer's staging must be cleaned")
    // the loser re-runs against the fresh lake and succeeds
    assert(LakeMerge.merge(spark, dir, mine, keys, occ = true)
      .rowsUpserted === 2L)
  }

  test("crash between stage and commit: lake unharmed, stale staging GC'd, retry wins") {
    val dir = freshLake("occ-crash")
    val before = rows(dir)
    val upd = batch(Seq("wl_z"), "2024-01-03 06:00:00", day3, (_, _) => 3.0)
    intercept[RuntimeException] {
      LakeMerge.mergeImpl(spark, dir, upd, keys, "part_date", "tms_id",
        "time", 4, requireUniqueKeys = true, crashAfterSwaps = Int.MaxValue,
        occ = true, beforeOccCommit = () =>
          throw new RuntimeException("simulated crash before OCC commit"))
    }
    val fs = LakeMerge.hadoopFs(spark, dir)
    def occStaging() = fs.listStatus(new Path(dir)).filter(
      _.getPath.getName.startsWith(".merge-staging-occ-"))
    assert(occStaging().nonEmpty, "the crashed writer's staging persists")
    assert(rows(dir) === before, "the live lake is untouched pre-commit")
    // a FRESH recover must NOT collect it (it could be live in-flight
    // work); a stale-threshold-zero recover collects it
    LakeMerge.recover(spark, dir)
    assert(occStaging().nonEmpty,
      "fresh OCC staging must survive recovery (another writer may be live)")
    LakeMerge.recover(spark, dir, occStaleMs = 0L)
    assert(occStaging().isEmpty, "stale OCC staging must be collected")
    assert(LakeMerge.merge(spark, dir, upd, keys, occ = true)
      .rowsInserted === 1L)
  }

  test("OCC delete: a disjoint purge commits while a compaction is staged; overlap refuses") {
    val dir = freshLake("occ-delete")
    // fragment day 1 for the compaction; the purge hits day 3 (disjoint)
    val frag = LakeMerge.readLake(spark, dir)
      .filter(col("part_date") === "2024-01-01").drop("part_date")
      .localCheckpoint(true)
    frag.repartition(8).write.mode("overwrite")
      .parquet(s"$dir/part_date=2024-01-01")
    var delStats: LakeMerge.DeleteStats = null
    val compactStats = LakeMerge.compactImpl(spark, dir,
      targetFileBytes = Long.MaxValue / 2, partitionCol = "part_date",
      seriesCol = "tms_id", timeCol = "time", maxPartitions = 1,
      leaseStaleMs = 15L * 60 * 1000, crashAfterSwaps = Int.MaxValue,
      occ = true, beforeOccCommit = () => {
        delStats = LakeMerge.delete(spark, dir,
          Seq(("wl_a", fgt, day3.head)).toDF("tms_id", "fgt", "time"),
          keys, occ = true, captureChanges = true)
      })
    assert(delStats != null && delStats.rowsDeleted === 1L, s"$delStats")
    assert(compactStats.partitionsCompacted === 1, s"$compactStats")
    val commits = LakeTimeTravel.readCommits(spark, dir)
    assert(commits.map(c => (c.seq, c.op)) === Seq((0L, "delete"), (1L, "compact")),
      commits.toString)
    assert(LakeMerge.readChanges(spark, dir)
      .filter(col(LakeMerge.ChangeTypeCol) === "delete").count() === 1L)
    // an overlapping OCC delete refuses with the conflicting seq named
    val e = intercept[java.util.ConcurrentModificationException] {
      LakeMerge.deleteImpl(spark, dir,
        Seq(("wl_b", fgt, day1.head)).toDF("tms_id", "fgt", "time"),
        keys, "part_date", "tms_id", "time", 4,
        crashAfterSwaps = Int.MaxValue, occ = true,
        beforeOccCommit = () => {
          LakeMerge.merge(spark, dir,
            batch(Seq("wl_b"), "2024-01-04 06:00:00", day1, (_, _) => 8.0),
            keys, occ = true)
        })
    }
    assert(e.getMessage.contains("2024-01-01"), e.getMessage)
  }

  test("CDF seq and snapshot reads stay coherent across OCC commits") {
    val dir = freshLake("occ-cdf")
    LakeMerge.merge(spark, dir,
      batch(Seq("wl_a"), "2024-01-03 06:00:00", day2, (_, _) => 444.0),
      keys, occ = true, captureChanges = true, retainHistory = true)
    LakeMerge.merge(spark, dir,
      batch(Seq("wl_b"), "2024-01-03 07:00:00", day3, (_, _) => 666.0),
      keys, occ = true, captureChanges = true, retainHistory = true)
    val feedSeqs = LakeMerge.readChanges(spark, dir)
      .select("seq").distinct().collect().map(_.getLong(0)).toSeq.sorted
    assert(feedSeqs === Seq(0L, 1L), "feed seqs dense and monotonic")
    val commits = LakeTimeTravel.readCommits(spark, dir).map(_.seq)
    assert(commits === commits.sorted && commits.distinct === commits)
    // time travel across the OCC history: seq 0 sees the first merge's
    // row but not the second's
    val at0 = LakeTimeTravel.readLakeAsOf(spark, dir, 0L)
    assert(at0.filter(col("value") === 444.0).count() === 2L)
    assert(at0.filter(col("value") === 666.0).count() === 0L)
  }
}
