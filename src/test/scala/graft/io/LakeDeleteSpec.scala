package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Alone, SparkSpec}

/** Keyed DELETE over the copy-on-write lake (E174) — the GDPR /
  * takedown / contamination purge the upsert-only K2 surface lacked:
  * exactly the keyed rows vanish, untouched partitions are never
  * rewritten, a fully-purged partition is DROPPED through the same
  * manifest/recovery machinery as a merge, the optional change feed
  * carries the purged pre-images, and time travel still reaches the
  * pre-delete snapshot when retention is on. */
class LakeDeleteSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("tms_id", "fgt", "time")

  private def batch(ids: Seq[String], fgt: String, times: Seq[String],
      v: (String, String) => Double): DataFrame =
    LakeMerge.withPartDate(
      ids.flatMap(id => times.map(t => (id, fgt, t, v(id, t))))
        .toDF("tms_id", "fgt", "time", "value"))

  private val day1 = Seq("2024-01-01 00:00:00", "2024-01-01 12:00:00")
  private val day2 = Seq("2024-01-02 00:00:00", "2024-01-02 12:00:00")
  private val day3 = Seq("2024-01-03 00:00:00")
  private val fgt = "2024-01-03 06:00:00"

  private def freshLake(tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(tag).toString + "/lake"
    LakeMerge.writeLake(
      batch(Seq("wl_a", "wl_b", "wl_c"), fgt, day1 ++ day2 ++ day3,
        (id, t) => id.length + t.takeRight(8).take(2).toDouble), dir)
    dir
  }

  private def sortedRows(df: DataFrame): Seq[(String, String, String, Double)] =
    df.select("tms_id", "fgt", "time", "value").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3)))
      .toSeq.sorted

  test("delete removes exactly the keyed rows; untouched partitions not rewritten; idempotent") {
    val dir = freshLake("lakedel")
    val fs = LakeMerge.hadoopFs(spark, dir)
    val before = LakeMerge.readLake(spark, dir)
    val purge = Seq(("wl_b", fgt, day2.head), ("wl_c", fgt, day2(1)))
      .toDF("tms_id", "fgt", "time")
    val expected = sortedRows(before.join(purge, keys, "left_anti"))

    // untouched-partition files must be bit-identical afterwards
    def files(v: String) = fs.listStatus(new Path(dir, s"part_date=$v"))
      .toSeq.filter(_.isFile).map(s => (s.getPath.getName, s.getLen,
        s.getModificationTime)).sorted
    val day1Files = files("2024-01-01")

    val s = LakeMerge.delete(spark, dir, purge, keys)
    assert(sortedRows(LakeMerge.readLake(spark, dir)) === expected)
    assert(s.partitionsTotal === 3 && s.partitionsAffected === 1 &&
      s.partitionsDropped === 0 && s.rowsDeleted === 2L &&
      s.rowsBeforeAffected === 6L && s.rowsAfterAffected === 4L,
      s"one partition rewritten, two rows purged: $s")
    assert(files("2024-01-01") === day1Files,
      "untouched partition was rewritten")

    // idempotent: the same purge set again matches nothing (the key-only
    // scan finds no affected partition — zero rewrite)
    val s2 = LakeMerge.delete(spark, dir, purge, keys)
    assert(s2.partitionsAffected === 0 && s2.rowsDeleted === 0L, s"$s2")
    assert(sortedRows(LakeMerge.readLake(spark, dir)) === expected)
    assert(!fs.exists(new Path(dir, "_merge_lease")), "lease not released")
  }

  test("a fully-purged partition is DROPPED: directory gone, readers see it empty") {
    val dir = freshLake("lakedel-drop")
    val fs = LakeMerge.hadoopFs(spark, dir)
    // purge every day-3 row (one per station) plus one day-1 row
    val purge = Seq("wl_a", "wl_b", "wl_c").map(id => (id, fgt, day3.head))
      .toDF("tms_id", "fgt", "time")
      .unionByName(Seq(("wl_a", fgt, day1.head)).toDF("tms_id", "fgt", "time"))
    val expected = sortedRows(
      LakeMerge.readLake(spark, dir).join(purge, keys, "left_anti"))

    val s = LakeMerge.delete(spark, dir, purge, keys)
    assert(s.partitionsAffected === 2 && s.partitionsDropped === 1 &&
      s.rowsDeleted === 4L, s"$s")
    assert(!fs.exists(new Path(dir, "part_date=2024-01-03")),
      "emptied partition directory must be gone")
    assert(LakeMerge.partitionValues(spark, dir) ===
      Seq("2024-01-01", "2024-01-02"))
    assert(sortedRows(LakeMerge.readLake(spark, dir)) === expected)
  }

  test("asserted-partition mode rewrites only the named partitions") {
    val dir = freshLake("lakedel-part")
    // the purge batch carries part_date: day 2 only — day 1 never read
    val purge = LakeMerge.withPartDate(
      Seq(("wl_a", fgt, day2.head, 0.0), ("wl_b", fgt, day2(1), 0.0))
        .toDF("tms_id", "fgt", "time", "value"))
      .select("tms_id", "fgt", "time", "part_date")
    val expected = sortedRows(LakeMerge.readLake(spark, dir)
      .join(purge.select("tms_id", "fgt", "time"), keys, "left_anti"))
    val s = LakeMerge.delete(spark, dir, purge, keys)
    assert(s.partitionsAffected === 1 && s.rowsDeleted === 2L, s"$s")
    assert(sortedRows(LakeMerge.readLake(spark, dir)) === expected)

    // asserted-mode re-run: the keys are gone, so NOTHING is rewritten
    // (review finding: a matchless asserted partition used to be fully
    // rewritten — and with captureChanges would have published an empty
    // feed commit, crashing consumers' schema inference)
    val s2 = LakeMerge.delete(spark, dir, purge, keys,
      captureChanges = true)
    assert(s2.partitionsAffected === 0 && s2.rowsDeleted === 0L, s"$s2")
    assert(!LakeMerge.hadoopFs(spark, dir).exists(
      new Path(dir, "_changes")),
      "a matchless purge must not publish a feed commit")
  }

  test("asserted partitions scope their keys: key in A never deletes same key in B") {
    val dir = freshLake("lakedel-scope")
    // non-time-derived key columns (tms_id, fgt): both ids hold rows in
    // BOTH asserted partitions. wl_a is asserted into day 2 only, wl_b
    // into day 3 only — the cross matches (wl_a@day3, wl_b@day2) must
    // SURVIVE (review finding: the rewrite anti-joined on keyCols alone
    // across all affected partitions, deleting them)
    val kc = Seq("tms_id", "fgt")
    val purge = Seq(("wl_a", fgt, "2024-01-02"), ("wl_b", fgt, "2024-01-03"))
      .toDF("tms_id", "fgt", "part_date")
    val before = sortedRows(LakeMerge.readLake(spark, dir))
    val s = LakeMerge.delete(spark, dir, purge, kc)
    val expected = before.filterNot { case (id, _, t, _) =>
      (id == "wl_a" && t.startsWith("2024-01-02")) ||
        (id == "wl_b" && t.startsWith("2024-01-03"))
    }
    assert(s.rowsDeleted === (before.length - expected.length).toLong, s"$s")
    assert(sortedRows(LakeMerge.readLake(spark, dir)) === expected,
      "a key asserted into one partition must not delete its twin in another")
  }

  test("crash mid-swap with a dropped partition: committed view torn-free, recover rolls forward") {
    val dir = freshLake("lakedel-crash")
    val fs = LakeMerge.hadoopFs(spark, dir)
    // drop day-3 entirely AND rewrite day-2 — crash after the FIRST swap
    // (day-2 swapped or day-3 parked, depending on sort order: values are
    // applied sorted, so day-2 lands first, day-3's park never runs)
    val purge = Seq("wl_a", "wl_b", "wl_c").map(id => (id, fgt, day3.head))
      .toDF("tms_id", "fgt", "time")
      .unionByName(Seq(("wl_b", fgt, day2.head)).toDF("tms_id", "fgt", "time"))
    val expected = sortedRows(
      LakeMerge.readLake(spark, dir).join(purge, keys, "left_anti"))

    intercept[IllegalStateException] {
      LakeMerge.deleteImpl(spark, dir, purge, keys, "part_date", "tms_id",
        "time", 4, crashAfterSwaps = 1)
    }
    // lease left by the dead writer: steal it for the reader/recovery path
    fs.delete(new Path(dir, "_merge_lease"), false)

    // committed view while the manifest pends: the delete is logically
    // committed — dropped partition EMPTY even though its live dir may
    // still exist, rewritten partition resolved through staging/live
    assert(fs.exists(new Path(dir, "_merge_manifest.json")))
    assert(sortedRows(LakeMerge.readLake(spark, dir)) === expected,
      "pending committed view must already show the delete")

    // roll forward heals everything
    assert(LakeMerge.recover(spark, dir))
    assert(!fs.exists(new Path(dir, "_merge_manifest.json")))
    assert(!fs.exists(new Path(dir, "part_date=2024-01-03")))
    assert(sortedRows(LakeMerge.readLake(spark, dir)) === expected)
  }

  test("captureChanges publishes the purged pre-images; feed replay reproduces the post table") {
    val dir = freshLake("lakedel-cdf")
    val pre = LakeMerge.readLake(spark, dir).localCheckpoint(true)
    val purge = Seq(("wl_a", fgt, day1.head), ("wl_b", fgt, day3.head),
      ("wl_c", fgt, day3.head), ("wl_a", fgt, day3.head))
      .toDF("tms_id", "fgt", "time")
    val pureFeed = LakeMerge.deleteFeed(pre, purge, keys)

    LakeMerge.delete(spark, dir, purge, keys, captureChanges = true)
    val published = LakeMerge.readChanges(spark, dir)
    assert(published.select(LakeMerge.ChangeTypeCol).distinct()
      .collect().map(_.getString(0)).toSeq === Seq("delete"))
    assert(sortedRows(published) === sortedRows(pureFeed),
      "published feed must equal the pure deleteFeed")

    // replay soundness: pre MINUS feed keys == post-delete lake
    val replayed = pre.join(published.select("tms_id", "fgt", "time"),
      keys, "left_anti")
    assert(sortedRows(replayed) === sortedRows(LakeMerge.readLake(spark, dir)))
    pre.unpersist()
  }

  test("retainHistory keeps the pre-delete snapshot readable; the drop seq excludes the partition") {
    val dir = freshLake("lakedel-tt")
    val preRows = sortedRows(LakeMerge.readLake(spark, dir))
    // seq 0: a retained merge so the commit log exists pre-delete
    LakeMerge.merge(spark, dir,
      batch(Seq("wl_a"), fgt, day1, (_, _) => 7.0), keys,
      retainHistory = true)
    val at0 = sortedRows(LakeTimeTravel.readLakeAsOf(spark, dir, 0))
    // seq 1: the delete drops day-3 and thins day-1
    val purge = Seq("wl_a", "wl_b", "wl_c").map(id => (id, fgt, day3.head))
      .toDF("tms_id", "fgt", "time")
      .unionByName(Seq(("wl_b", fgt, day1.head)).toDF("tms_id", "fgt", "time"))
    val s = LakeMerge.delete(spark, dir, purge, keys, retainHistory = true)
    assert(s.partitionsDropped === 1, s"$s")

    assert(sortedRows(LakeTimeTravel.readLakeAsOf(spark, dir, 0)) === at0,
      "pre-delete snapshot must still read exactly")
    val at1 = LakeTimeTravel.readLakeAsOf(spark, dir, 1)
    assert(!at1.select("part_date").distinct().collect()
      .map(_.getString(0)).contains("2024-01-03"),
      "the drop seq must exclude the dropped partition")
    assert(sortedRows(at1) === sortedRows(LakeMerge.readLake(spark, dir)))
    assert(preRows.nonEmpty)
  }

  test("refusals: full-lake drop, NULL purge keys") {
    val dir = freshLake("lakedel-refuse")
    val all = LakeMerge.readLake(spark, dir).select("tms_id", "fgt", "time")
    val e = intercept[IllegalArgumentException] {
      LakeMerge.delete(spark, dir, all, keys)
    }
    assert(e.getMessage.contains("every partition"), e.getMessage)
    // refused PRE-commit: the lake is untouched and the next writer works
    assert(LakeMerge.partitionValues(spark, dir).length === 3)

    val nullKey = Seq((null: String, fgt, day1.head))
      .toDF("tms_id", "fgt", "time")
    val e2 = intercept[IllegalArgumentException] {
      LakeMerge.delete(spark, dir, nullKey, keys)
    }
    assert(e2.getMessage.contains("NULL"), e2.getMessage)
    // both refusals released the lease
    val ok = LakeMerge.delete(spark, dir,
      Seq(("wl_a", fgt, day1.head)).toDF("tms_id", "fgt", "time"), keys)
    assert(ok.rowsDeleted === 1L)
  }

  test("a delete releases its cached purge keys: no persisted RDD or cache entry left behind", Alone) {
    val dir = freshLake("lakedel-release")
    val sc = spark.sparkContext
    val rddsBefore = sc.getPersistentRDDs.keySet
    val cachedBefore = org.apache.spark.sql.CacheProbe.entries(spark)
    val stats = LakeMerge.delete(spark, dir,
      Seq(("wl_b", fgt, day2.head)).toDF("tms_id", "fgt", "time"), keys)
    assert(stats.rowsDeleted === 1L, s"$stats")
    // no GC wait: released keys leave nothing for a collector to find
    val leaked = sc.getPersistentRDDs.keySet -- rddsBefore
    assertIsolated(leaked.isEmpty,
      s"persisted RDDs left behind: ${leaked.map(id => sc.getPersistentRDDs(id))}")
    val cachedAfter = org.apache.spark.sql.CacheProbe.entries(spark)
    assertIsolated(cachedAfter == cachedBefore,
      s"the session cache went from $cachedBefore to $cachedAfter entries")
  }
}
