package graft.io

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Z-order clustering as a lake maintenance op (the OPTIMIZE ZORDER half
  * of E171's surface): rewritten partitions' files become tight
  * RECTANGLES in both query dimensions (measured as per-file bounding
  * boxes — the quantity parquet min-max skipping prunes on), rows ride
  * through bit-identical, scope knobs bound a run, and the rewrite uses
  * the same crash-recoverable commit machinery as every other writer. */
class LakeZorderSpec extends SparkSpec {
  import spark.implicits._

  // a 32x32 (id, ts) grid per partition: the two query dimensions a
  // series-clustered layout can only serve one of
  private def freshLake(tag: String, parts: Int = 2): String = {
    val dir = java.nio.file.Files.createTempDirectory(tag).toString + "/lake"
    val rows = for {
      p <- 0 until parts; i <- 0 until 1024
    } yield (i.toLong % 32, i.toLong / 32, i.toDouble, s"p$p")
    LakeMerge.writeLake(rows.toDF("id", "ts", "value", "part"), dir,
      partitionCol = "part", seriesCol = "id", timeCol = "ts",
      filesPerPartition = 16)
    dir
  }

  /** Mean per-file bounding-box area over (id, ts) — what min-max file
    * skipping sees. */
  private def meanFileArea(dir: String): Double = {
    val perFile = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(((max(col("id")) - min(col("id")) + 1) *
        (max(col("ts")) - min(col("ts")) + 1)).as("area"))
    perFile.agg(avg(col("area"))).head().getDouble(0)
  }

  test("z-order rewrite tightens per-file bounding boxes on BOTH dims; rows bit-identical") {
    val dir = freshLake("lakez")
    val before = LakeMerge.readLake(spark, dir, "part")
      .select("id", "ts", "value", "part").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      .toSeq.sorted
    val areaBefore = meanFileArea(s"$dir/part=p0")

    // size the target so the rewrite produces ~16 files per partition —
    // the SAME count the hash layout holds, so the area comparison is
    // file-count-fair (fewer bigger files would inflate areas regardless
    // of layout)
    val fs = LakeMerge.hadoopFs(spark, dir)
    val bytes = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "part=p0"))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map(_.getLen).sum
    val s = LakeMerge.clusterPartitions(spark, dir, Seq("id", "ts"), bits = 5,
      targetFileBytes = math.max(1L, bytes / 16), partitionCol = "part")
    assert(s.partitionsCompacted === 2 && s.partitionsTotal === 2, s"$s")

    val after = LakeMerge.readLake(spark, dir, "part")
      .select("id", "ts", "value", "part").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      .toSeq.sorted
    assert(after === before, "z-ordering must preserve every row exactly")

    val areaAfter = meanFileArea(s"$dir/part=p0")
    // series-hash files span the full 32-wide ts range; z-ranges cover
    // small squares — demand at least a 2x mean-area win (measured ~4x+)
    assert(areaAfter * 2 <= areaBefore,
      s"z-order must tighten file bounding boxes: $areaBefore -> $areaAfter")
  }

  test("hilbert curve tightens bounding boxes at least as much as z-order (matched file counts)") {
    def clusteredArea(curve: String): Double = {
      val dir = freshLake(s"lakez-$curve")
      val fs = LakeMerge.hadoopFs(spark, dir)
      val bytes = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "part=p0"))
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
        .map(_.getLen).sum
      val s = LakeMerge.clusterPartitions(spark, dir, Seq("id", "ts"), bits = 5,
        targetFileBytes = math.max(1L, bytes / 16), partitionCol = "part",
        curve = curve)
      assert(s.partitionsCompacted === 2, s"$s")
      meanFileArea(s"$dir/part=p0")
    }
    val z = clusteredArea("zorder")
    val h = clusteredArea("hilbert")
    info(f"mean per-file bounding-box area: zorder $z%.1f, hilbert $h%.1f")
    // the adjacency property (LayoutSpec proves it step-by-step) shows up
    // here as equal-or-tighter file rectangles for the SAME file budget
    assert(h <= z * 1.001,
      f"hilbert must not be looser than z-order: $h%.1f vs $z%.1f")
  }

  test("3-dim clustering (round 17): rows bit-identical; per-file boxes tight on ALL THREE dims") {
    // an 8x8x8 (id, ts, band) cube per partition — three access paths
    val dir = java.nio.file.Files.createTempDirectory("lakez3").toString + "/lake"
    val rows = for (i <- 0 until 512)
      yield (i.toLong % 8, (i.toLong / 8) % 8, i.toLong / 64, i.toDouble, "p0")
    LakeMerge.writeLake(rows.toDF("id", "ts", "band", "value", "part"), dir,
      partitionCol = "part", seriesCol = "id", timeCol = "ts",
      filesPerPartition = 8)
    val before = LakeMerge.readLake(spark, dir, "part")
      .select("id", "ts", "band", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted
    def meanVol(): Double = spark.read.parquet(s"$dir/part=p0")
      .groupBy(input_file_name().as("f"))
      .agg(((max(col("id")) - min(col("id")) + 1) *
        (max(col("ts")) - min(col("ts")) + 1) *
        (max(col("band")) - min(col("band")) + 1)).as("vol"))
      .agg(avg(col("vol"))).head().getDouble(0)
    val volBefore = meanVol()
    val fs = LakeMerge.hadoopFs(spark, dir)
    val bytes = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "part=p0"))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map(_.getLen).sum
    val s = LakeMerge.clusterPartitions(spark, dir,
      Seq("id", "ts", "band"), bits = 3,
      targetFileBytes = math.max(1L, bytes / 8), partitionCol = "part",
      curve = "hilbert")
    assert(s.partitionsCompacted === 1, s"$s")
    val after = LakeMerge.readLake(spark, dir, "part")
      .select("id", "ts", "band", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted
    assert(after === before, "3-dim clustering must preserve every row")
    val volAfter = meanVol()
    info(f"mean per-file bounding volume: before $volBefore%.1f, after $volAfter%.1f")
    // series-hash files span full ts x band width (vol ~8x8x8 /id slice);
    // hilbert ranges cover small boxes — demand a 2x mean-volume win
    assert(volAfter * 2 <= volBefore,
      s"3-dim clustering must tighten file boxes: $volBefore -> $volAfter")
  }

  test("scope knobs, unknown-partition refusal, crash recovery") {
    val dir = freshLake("lakez2", parts = 3)
    // named-partition scope: only p1 is rewritten
    val s = LakeMerge.clusterPartitions(spark, dir, Seq("id", "ts"), bits = 5,
      targetFileBytes = 4L * 1024, partitionCol = "part",
      partitions = Seq("p1"))
    assert(s.partitionsCompacted === 1 && s.partitionsTotal === 3, s"$s")
    val e = intercept[IllegalArgumentException] {
      LakeMerge.clusterPartitions(spark, dir, Seq("id", "ts"),
        partitionCol = "part", partitions = Seq("nope"))
    }
    assert(e.getMessage.contains("no such partitions"), e.getMessage)

    // crash between swaps: committed view stays whole, recover heals
    val rows = LakeMerge.readLake(spark, dir, "part")
      .select("id", "ts", "value", "part").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      .toSeq.sorted
    intercept[IllegalStateException] {
      LakeMerge.clusterImpl(spark, dir, Seq("id", "ts"), 5, 4L * 1024, "part",
        Seq.empty, Int.MaxValue, 15L * 60 * 1000, crashAfterSwaps = 1,
        retainHistory = false)
    }
    LakeMerge.hadoopFs(spark, dir)
      .delete(new org.apache.hadoop.fs.Path(dir, "_merge_lease"), false)
    assert(LakeMerge.readLake(spark, dir, "part")
      .select("id", "ts", "value", "part").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      .toSeq.sorted === rows,
      "mid-crash committed view must be whole")
    assert(LakeMerge.recover(spark, dir))
    assert(LakeMerge.readLake(spark, dir, "part")
      .select("id", "ts", "value", "part").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      .toSeq.sorted === rows)
  }
}
