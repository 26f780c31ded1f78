package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.Similarity

/** Embedding-lake storage layout — how the ANN operators survive 100 TB.
  *
  * Layout contract: vectors are stored with their IVF cell id as a
  * PARTITION column. An `ivfTopK` probe then touches only the `nProbe`
  * nearest cells — partition pruning at the file-listing level, so a
  * 16-cell / 4-probe search scans 1/4 of the corpus and a
  * 1024-cell / 16-probe search scans ~1.6%, before a single row is read.
  * The cosine rerank inside the probed cells is the same fused codegen'd
  * expression as the in-memory path.
  *
  * The codebook (cell centroids) is cluster-metadata-sized (nCentroids ×
  * dim floats) — it lives with the table and is broadcast-trivial.
  */
object EmbeddingLake {

  final case class CompactStats(partitionsTotal: Int, partitionsRewritten: Int,
      cellsSplit: Int, cellsAdded: Int, rowsReassigned: Long)

  /** Assign each vector its IVF cell and write partitioned by `ivf_cell`.
    * Returns the codebook used, to be persisted alongside the table. */
  def writePartitioned(df: DataFrame, idCol: String, vecCol: String,
      path: String, nCentroids: Int, kmeansIters: Int = 2,
      mode: SaveMode = SaveMode.Overwrite): Array[Seq[Float]] = {
    val cents = Similarity.codebook(df, idCol, vecCol, nCentroids, kmeansIters)
    Similarity.withIvfCell(df, vecCol, cents)
      .write.mode(mode).partitionBy("ivf_cell").parquet(path)
    cents
  }

  /** Read the lake. Manifest-aware (round 14): while a [[compactCells]]
    * commit manifest is pending (compact committed but interrupted
    * mid-swap), the directory listing is torn — this reader assembles the
    * committed view through the manifest exactly as [[LakeMerge.readLake]]
    * does, with `ivf_cell` restored as INT (the partition-inference type),
    * mutating nothing. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    LakeMerge.readManifest(fs, path) match {
      case None => spark.read.parquet(path)
      case Some(m) =>
        require(m.partitionCol == "ivf_cell",
          s"pending manifest at $path names partition column " +
            s"'${m.partitionCol}', not an embedding lake's ivf_cell")
        LakeMerge.committedView(spark, path, m, "ivf_cell")(
          v => lit(v.toInt), _.cast("int"))
    }
  }

  /** Top-k cosine search against the lake: prune to the `nProbe` cells
    * nearest the query (partition filter — pruned at file listing), rerank
    * exactly inside them. */
  def probeTopK(spark: SparkSession, path: String, codebook: Array[Seq[Float]],
      idCol: String, vecCol: String, query: Seq[Float], k: Int,
      nProbe: Int, roundTo: Int = 6): DataFrame = {
    val probes = codebook.indices
      .sortBy(i => Similarity.l2Local(query, codebook(i)))
      .take(nProbe)
    val pruned = read(spark, path).filter(col("ivf_cell").isin(probes: _*))
    Similarity.bruteForceTopK(pruned, idCol, vecCol, query, k, roundTo)
  }

  /** IVFADC layout (Jégou et al., TPAMI 2011 §IV): the IVF cell id as the
    * partition column AND the PQ byte code stored beside the vector. A
    * query then composes BOTH prunings: partition pruning cuts the scan to
    * nProbe/nCentroids of the files, and the ADC ranking inside the
    * probed cells reads only (id, pq_code) — m bytes of code instead of
    * dim·4 bytes of vector — before a shortlist-sized fetch touches any
    * float. Returns (cellCodebook, pqCodebooks) — both
    * cluster-metadata-sized, persisted alongside the table. (Classic
    * IVFADC quantizes the residual vs the cell centroid; codes here cover
    * the raw vector — the layout and scan discipline are identical, the
    * residual refinement drops into `withPqCodes`'s input unchanged.) */
  def writePartitionedPq(df: DataFrame, idCol: String, vecCol: String,
      path: String, dim: Int, nCentroids: Int, m: Int, nCodes: Int,
      kmeansIters: Int = 2, pqIters: Int = 1,
      mode: SaveMode = SaveMode.Overwrite)
      : (Array[Seq[Float]], Array[Array[Seq[Float]]]) = {
    val cents = Similarity.codebook(df, idCol, vecCol, nCentroids, kmeansIters)
    val pq = Similarity.pqCodebooks(df, idCol, vecCol, dim, m, nCodes, pqIters)
    Similarity.withIvfCell(
        Similarity.withPqCodes(df, vecCol, dim, pq), vecCol, cents)
      .write.mode(mode).partitionBy("ivf_cell").parquet(path)
    (cents, pq)
  }

  /** IVFADC top-k: partition-prune to the `nProbe` nearest cells, ADC-rank
    * the probed rows from the STORED byte codes (scan 1 — column-pruned to
    * (id, pq_code); EmbeddingLakeSpec pins the read schema), then fetch
    * only the `shortlist` candidates' vectors via a broadcast semi-join
    * (scan 2) and rerank them exactly. */
  def probeTopKAdc(spark: SparkSession, path: String,
      cellCodebook: Array[Seq[Float]],
      pqCodebooks: Array[Array[Seq[Float]]],
      idCol: String, vecCol: String, query: Seq[Float], dim: Int, k: Int,
      nProbe: Int, shortlist: Int = 64, roundTo: Int = 6): DataFrame = {
    val probes = cellCodebook.indices
      .sortBy(i => Similarity.l2Local(query, cellCodebook(i)))
      .take(nProbe)
    val pruned = read(spark, path).filter(col("ivf_cell").isin(probes: _*))
    val cand = Similarity.pqAdcTopKFromCodes(
        pruned.select(col(idCol), col("pq_code")),
        idCol, query, dim, pqCodebooks, math.max(shortlist, k), roundTo)
      .select(col(idCol))
    val fetched = pruned.select(col(idCol), col(vecCol))
      .join(broadcast(cand), Seq(idCol))
    Similarity.bruteForceTopK(fetched, idCol, vecCol, query, k, roundTo)
  }

  /** Number of files the plan will actually read — the partition-pruning
    * assertion (compare against the unfiltered table's file count). */
  def filesRead(df: DataFrame): Long = {
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    scans.map(_.selectedPartitions.totalNumberOfFiles).sum
  }

  /** Persist the codebook WITH the table — an underscore-prefixed parquet
    * directory inside the lake (Spark's file index skips `_`-paths, the
    * `_SUCCESS` convention, so probes over the lake never scan it). One
    * row per cell: (cell_id, centroid).
    *
    * Atomic (r14 ADVICE): a plain `SaveMode.Overwrite` deletes the live
    * directory BEFORE the new write is durable, so a crash mid-write
    * destroyed BOTH codebooks. The refresh now writes to a dot-prefixed
    * temp directory and renames into place — the same discipline as the
    * merge manifest — so the old codebook stays readable until the swap
    * instant; the residual window is one move-aside + one rename
    * (matching the lake's own per-partition swap window), and
    * a crash inside it leaves the complete old copy parked at
    * `._codebook_old` for hand recovery instead of nothing. */
  def writeCodebook(spark: SparkSession, path: String,
      codebook: Array[Seq[Float]]): Unit = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    LakeMerge.atomicReplaceDir(fs,
        new org.apache.hadoop.fs.Path(path, "_codebook")) { tmp =>
      codebook.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
        .toDF("cell_id", "centroid")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    }
  }

  /** Writer-side heal of a refresh that crashed between its two renames —
    * delegates to the shared [[LakeMerge.recoverReplacedDir]] discipline.
    * Without it, `_codebook` stays missing and [[compactCellsImpl]]'s
    * exists-gate would silently stop refreshing forever (review
    * finding). */
  private[io] def recoverCodebook(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Unit =
    LakeMerge.recoverReplacedDir(fs,
      new org.apache.hadoop.fs.Path(path, "_codebook"))

  /** Read back a [[writeCodebook]]-persisted codebook, cell order
    * restored. A reader must not MUTATE the lake (second-review finding:
    * a healing rename here raced the lease-holding writer between ITS
    * two renames, and raced other readers), so an interrupted refresh is
    * RESOLVED, not healed ([[LakeMerge.resolveReplacedDir]]); healing
    * renames stay with the writers. */
  def readCodebook(spark: SparkSession, path: String): Array[Seq[Float]] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dir = LakeMerge.resolveReplacedDir(fs,
      new org.apache.hadoop.fs.Path(path, "_codebook")).toString
    val rows = spark.read.parquet(dir)
      .orderBy(col("cell_id")).collect()
    require(rows.nonEmpty, s"no codebook at $path/_codebook")
    rows.zipWithIndex.foreach { case (r, i) =>
      require(r.getInt(0) == i,
        s"codebook at $path/_codebook has a gap: expected cell $i, " +
          s"found ${r.getInt(0)}")
    }
    rows.map(_.getSeq[Float](1))
  }

  // ---- incremental ingest (round 13) ---------------------------------------

  /** APPEND new vectors into an existing lake: assign cells from the
    * PERSISTED codebook — ingest never retrains — and write new files
    * into the cell partitions (`SaveMode.Append` adds files beside the
    * existing ones; nothing is read, rewritten, or moved). Because cell
    * assignment is a pure function of (vector, codebook), a lake grown by
    * appends is row-identical to one rebuilt from scratch WITH THE SAME
    * codebook — probes return the same results (EmbeddingLakeSpec pins
    * recall parity) — while the work is one map pass over the batch.
    * The price of frozen codebooks is DRIFT: see [[driftReport]].
    *
    * An append is add-files-only, but still a WRITER: racing a
    * [[compactCells]] it would land its new file in a live cell
    * directory AFTER the compact snapshotted it — the swap then trashes
    * the directory (appended file included), silent data loss — and with
    * a crashed compact's manifest pending it would land in a
    * not-yet-swapped live cell dir, destroyed by the next roll-forward.
    * So it runs under [[LakeMerge.withLease]], which rolls a pending
    * commit forward first; the hold is one map pass. */
  def append(df: DataFrame, vecCol: String, path: String,
      cellCodebook: Array[Seq[Float]]): Unit =
    LakeMerge.withLease(df.sparkSession, path) { _ =>
      Similarity.withIvfCell(df, vecCol, cellCodebook)
        .write.mode(SaveMode.Append).partitionBy("ivf_cell").parquet(path)
    }

  /** Per-cell DRIFT report — the number that decides when a frozen
    * codebook must retrain/compact: for every cell its row count and the
    * mean + max L2 residual to the cell centroid. A lake that only ever
    * saw in-distribution appends keeps residuals near the training-time
    * baseline; rising mean residual means the centroid no longer sits in
    * its cell's mass (probes scan more junk per hit), and a hot max is an
    * outlier magnet. ONE aggregate over (ivf_cell, vector); the centroid
    * lookup is an `element_at` on the broadcast codebook literal. */
  def driftReport(spark: SparkSession, path: String, vecCol: String,
      cellCodebook: Array[Seq[Float]], roundTo: Int = 6): DataFrame = {
    val cLit = typedlit(cellCodebook.toSeq)
    read(spark, path)
      .select(col("ivf_cell"),
        graft.functions.VectorFunctions
          .l2(col(vecCol), element_at(cLit, col("ivf_cell") + 1))
          .as("__r"))
      .groupBy(col("ivf_cell"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("__r")), roundTo).as("mean_residual"),
        round(max(col("__r")), roundTo).as("max_residual"))
  }

  /** Retrain/compact advice: joins a training-time baseline [[driftReport]]
    * against the current one and flags cells whose mean residual grew past
    * `growthThreshold`× (or that baseline never saw — unseeded cells have
    * no honest baseline and always warrant a look). Both frames are
    * cell-count-sized; the join broadcasts. */
  def retrainAdvice(baseline: DataFrame, current: DataFrame,
      growthThreshold: Double = 1.5): DataFrame = {
    require(growthThreshold > 1.0,
      s"growthThreshold must exceed 1.0, got $growthThreshold")
    val b = baseline.select(col("ivf_cell"),
      col("n").as("n_base"), col("mean_residual").as("mean_base"))
    current.select(col("ivf_cell"), col("n").as("n_now"),
        col("mean_residual").as("mean_now"), col("max_residual"))
      .join(broadcast(b), Seq("ivf_cell"), "left")
      .select(col("ivf_cell"), col("n_base"), col("n_now"),
        col("mean_base"), col("mean_now"),
        round(col("mean_now") / col("mean_base"), 4).as("growth"),
        (col("mean_base").isNull ||
          col("mean_now") > col("mean_base") * growthThreshold)
          .as("retrain"))
  }

  // ---- drift-driven cell retrain/compact (round 14) ------------------------

  /** Re-cluster ONLY the flagged cells — the action behind
    * [[retrainAdvice]]: each flagged (drifted / hot) cell is split into up
    * to `splitInto` sub-cells by a k-means over THAT CELL'S vectors alone
    * (cell-scoped [[Similarity.codebook]] — distributed aggregates, no
    * driver collect of vectors), its rows reassigned among the new
    * sub-centroids, and ONLY the touched cell partitions rewritten through
    * the lake's Writer protocol ([[LakeMerge]] scaladoc; op `cells`).
    * Untouched partitions are never read, rewritten, or moved — they stay
    * BYTE-identical (EmbeddingLakeSpec compares file bytes) — and a crash
    * mid-swap is recoverable exactly like a LakeMerge crash: [[read]]
    * resolves the committed view through the manifest, the next compact
    * (or [[LakeMerge.recover]]) rolls forward.
    *
    * Cell-id discipline keeps the rewrite minimal: the flagged id is
    * reused for the first non-empty sub-cell, extra non-empty sub-cells
    * take fresh ids appended after the codebook (so unflagged cells keep
    * their ids and their directories), and empty sub-cells (k-means can
    * leave a seed clusterless) are dropped rather than allocated. Because
    * PQ codes cover the raw vector (not the cell residual — see
    * [[writePartitionedPq]]), stored `pq_code` columns ride through a
    * split unchanged; the compact is layout-agnostic over extra columns.
    *
    * Returns the NEW codebook (old centroids at their old indices except
    * flagged ones replaced by their first sub-centroid; fresh sub-cells
    * appended) plus stats whose `partitionsRewritten ≪ partitionsTotal`
    * is the scale contract [[graft.Scale]]'s `embedding_lake_compact_scale`
    * requires. */
  def compactCells(spark: SparkSession, path: String, idCol: String,
      vecCol: String, cellCodebook: Array[Seq[Float]], flagged: Seq[Int],
      splitInto: Int = 2, kmeansIters: Int = 2,
      leaseStaleMs: Long = 15L * 60 * 1000)
      : (Array[Seq[Float]], CompactStats) =
    compactCellsImpl(spark, path, idCol, vecCol, cellCodebook, flagged,
      splitInto, kmeansIters, Int.MaxValue, leaseStaleMs)

  /** [[compactCells]] with crash injection (`crashAfterSwaps`) for
    * EmbeddingLakeSpec's kill-between-renames cases — the same hook
    * shape as [[LakeMerge.mergeImpl]]. */
  private[io] def compactCellsImpl(spark: SparkSession, path: String,
      idCol: String, vecCol: String, cellCodebook: Array[Seq[Float]],
      flagged: Seq[Int], splitInto: Int, kmeansIters: Int,
      crashAfterSwaps: Int, leaseStaleMs: Long = 15L * 60 * 1000)
      : (Array[Seq[Float]], CompactStats) = {
    require(splitInto >= 1, s"splitInto must be >= 1, got $splitInto")
    val flaggedSorted = flagged.distinct.sorted
    flaggedSorted.foreach(f => require(f >= 0 && f < cellCodebook.length,
      s"flagged cell $f outside codebook [0, ${cellCodebook.length})"))
    // a compact is a WRITER: it runs the lake's Writer protocol
    // (pessimistic), so a compact racing a merge (or another compact)
    // fails fast instead of interleaving staging/commit
    LakeMerge.write(spark, path, leaseStaleMs = leaseStaleMs) { w =>
    val fs = w.fs
    val allParts = LakeMerge.partitionValues(spark, path, "ivf_cell")
    // fresh sub-cell ids allocate from cellCodebook.length up — a STALE
    // (shorter-than-lake) codebook would hand a new sub-cell an id an
    // existing partition already owns and the swap would destroy that
    // cell's data (review finding). Loud, not lossy.
    allParts.foreach(v => require(v.toInt < cellCodebook.length,
      s"lake has cell partition ivf_cell=$v outside the ${cellCodebook.length}-" +
        "entry codebook — the codebook is stale (use the one the last " +
        "compact returned / the lake's _codebook)"))
    if (flaggedSorted.isEmpty)
      (cellCodebook, CompactStats(allParts.length, 0, 0, 0, 0L))
    else {

    // per flagged cell: cell-scoped k-means, local child assignment, and
    // the local→global id mapping (first non-empty child reuses the
    // flagged id; the rest allocate fresh ids)
    var nextId = cellCodebook.length
    val newCents = scala.collection.mutable.ArrayBuffer(cellCodebook.toSeq: _*)
    var rowsReassigned = 0L
    val perCell = flaggedSorted.map { f =>
      // per-cell heartbeat: each flagged cell runs a k-means (several
      // Spark jobs), so a many-cell compact must keep proving liveness
      // or a concurrent writer legally takes the lease mid-write
      // (review finding: compactCells never heartbeat)
      w.heartbeat()
      val cellDf = spark.read.parquet(s"$path/ivf_cell=$f") // one-dir read
      val local = Similarity.codebook(cellDf, idCol, vecCol,
        splitInto, kmeansIters)
      val assigned = Similarity.withIvfCell(cellDf, vecCol, local)
        .withColumnRenamed("ivf_cell", "__child")
      val counts = assigned.groupBy(col("__child")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val nonEmpty = local.indices.filter(counts.getOrElse(_, 0L) > 0L)
      require(nonEmpty.nonEmpty, s"flagged cell $f has no rows — only " +
        "cells reported by driftReport can be compacted")
      rowsReassigned += counts.values.sum
      val mapping: Map[Int, Int] = nonEmpty.zipWithIndex.map {
        case (child, 0) => child -> f
        case (child, _) => val g = nextId; nextId += 1; child -> g
      }.toMap
      newCents(f) = local(nonEmpty.head)
      nonEmpty.drop(1).foreach(c => newCents += local(c))
      val mapLit = typedlit(mapping)
      assigned.withColumn("ivf_cell", element_at(mapLit, col("__child")))
        .drop("__child")
    }
    val touched = (flaggedSorted ++ (cellCodebook.length until nextId))
      .map(_.toString)

    // staged write, then the shared commit (op "cells"): the same crash
    // windows as LakeMerge.merge
    perCell.reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).partitionBy("ivf_cell")
      .parquet(w.staging.toString)
    w.heartbeat() // staging written
    // a lake that persists its codebook must not keep serving the STALE
    // one after the cell structure changed — post-compact drift reports
    // would NULL out on the new cells and retrainAdvice would silently
    // undercount (review finding). Refreshed BEFORE the manifest commit
    // (second-review finding): the new centroids exist only in driver
    // memory, so a crash mid-swap after the commit point would lose them
    // forever and the stale-codebook require would brick every future
    // compact. Writing early is benign in the pre-commit crash window —
    // a longer-than-lake codebook passes every check and its extra
    // centroids are just empty cells — and the refresh itself is atomic
    // (r15: temp dir + rename inside writeCodebook), so a crash during
    // it leaves the OLD codebook serving, never a torn or missing one.
    // the exists-gate heals a crashed prior refresh first, so a lake that
    // persists its codebook can never silently lose the refresh
    // obligation to the crash window between writeCodebook's two renames
    // (review finding)
    recoverCodebook(fs, path)
    if (fs.exists(new org.apache.hadoop.fs.Path(path, "_codebook")))
      writeCodebook(spark, path, newCents.toArray)

    w.commit("cells", "ivf_cell", touched, None, retainHistory = false,
      crashAfterSwaps)

    (newCents.toArray,
      CompactStats(allParts.length, flaggedSorted.length, flaggedSorted.length,
        nextId - cellCodebook.length, rowsReassigned))
    }
    }
  }
}
