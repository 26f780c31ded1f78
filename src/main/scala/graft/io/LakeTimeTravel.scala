package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TIME TRAVEL over the copy-on-write lake (E173) — the snapshot-read /
  * retention half of the table-format feature set ([[LakeMerge]] is the
  * MERGE, [[LakeMerge.compactPartitions]] the OPTIMIZE,
  * [[LakeMerge.readChanges]] the CDF): reproduce the lake exactly as it
  * stood after any retained commit, so "train on the corpus the March
  * run saw" is a read, not an archaeology project.
  *
  * Mechanism — copy-on-write makes this nearly free: a merge/compact
  * run with `retainHistory = true` MOVES each touched partition's
  * pre-image to `_history/seq=N/part=V` during the swap (the same two
  * renames; the pre-image was being renamed anyway — to trash), and
  * every commit appends a record to the `_commits/` log naming the
  * partitions it touched and which of them it CREATED (no pre-image).
  * The log is the source of truth for resolution:
  *
  *  - a partition untouched after `asOfSeq` reads LIVE;
  *  - a partition whose FIRST later toucher (min commit seq > asOfSeq
  *    naming it) retained history reads that commit's pre-image — the
  *    state at every seq since its previous toucher, `asOfSeq` included;
  *  - a partition CREATED by its first later toucher did not exist at
  *    `asOfSeq` and is excluded;
  *  - a first later toucher that did NOT retain (or whose pre-image was
  *    [[vacuum]]ed) refuses LOUDLY — a silent fallback to live would
  *    fabricate a snapshot that never existed.
  *
  * Once the log exists every subsequent commit records itself even when
  * not retaining (the recording rule in [[LakeMerge]]), so the refusal
  * logic always sees the full commit sequence; records are tiny, are
  * never deleted (the audit trail; seq assignment reads max+1 from
  * them), and at 100 TB the log is one small file per publish — the
  * `_delta_log` growth curve, checkpointable the same way if it ever
  * matters. Resolution itself stays plan-cheap: live partitions ride ONE
  * basePath-rooted multi-path scan (partition pruning intact), only the
  * history-resolved few get per-directory reads — the committed-view
  * plan shape. */
object LakeTimeTravel {

  private[io] val HistoryDirName = "_history"
  private[io] val CommitsDirName = "_commits"

  /** One committed writer run, as recorded in `_commits/<seq>.json`.
    * `created` partitions had no pre-image (born at this commit);
    * `dropped` partitions were emptied by a delete (E174) and have no
    * post-image. */
  final case class CommitRecord(seq: Long, mergeId: String, op: String,
      partitionCol: String, partitions: Seq[String], created: Seq[String],
      retained: Boolean, dropped: Seq[String] = Seq.empty)

  private[io] def commitsDir(lakeDir: String) = new Path(lakeDir, CommitsDirName)

  private[io] def historyDir(lakeDir: String, seq: Long) =
    new Path(lakeDir, s"$HistoryDirName/seq=$seq")

  /** The next commit sequence number — max recorded + 1 (the writer
    * lease serializes assignment; records are never deleted, so a seq is
    * never reused). */
  private[io] def nextCommitSeq(fs: FileSystem, lakeDir: String): Long =
    LakeMerge.nextSeqIn(fs, commitsDir(lakeDir), "", ".json")

  /** Append the commit record — idempotent (recovery may re-run it while
    * the manifest still pends; an existing record is the same content). */
  private[io] def writeCommitRecord(fs: FileSystem, lakeDir: String,
      r: CommitRecord): Unit = {
    val p = new Path(commitsDir(lakeDir), s"${r.seq}.json")
    if (fs.exists(p)) return
    fs.mkdirs(commitsDir(lakeDir))
    def arr(vs: Seq[String]) = vs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json =
      s"""{"seq":"${r.seq}","merge_id":"${r.mergeId}","op":"${r.op}",""" +
        s""""partition_col":"${r.partitionCol}",""" +
        s""""retained":"${if (r.retained) "1" else "0"}",""" +
        s""""partitions":${arr(r.partitions)},""" +
        s""""dropped":${arr(r.dropped)},""" +
        s""""created":${arr(r.created)}}"""
    val tmp = new Path(lakeDir, s".commit-${r.seq}-${r.mergeId}.tmp")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    require(fs.rename(tmp, p), s"could not record commit at $p")
  }

  /** The full commit log, seq-ascending. Driver-side metadata — one tiny
    * file per commit; parsing rides [[LakeMerge]]'s shared JSON-field
    * readers (one definition of the hand-rolled format). */
  def readCommits(spark: SparkSession, lakeDir: String): Seq[CommitRecord] = {
    val fs = LakeMerge.hadoopFs(spark, lakeDir)
    val dir = commitsDir(lakeDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .map(_.getPath)
      .filter(_.getName.endsWith(".json"))
      .map { p =>
        val txt = LakeMerge.readSmallText(fs, p)
        def str(name: String): String =
          LakeMerge.jsonStr(txt, name).getOrElse(
            throw new IllegalStateException(
              s"corrupt commit record at $p: missing $name in: $txt"))
        def list(name: String): Seq[String] =
          LakeMerge.jsonList(txt, name).getOrElse(
            throw new IllegalStateException(
              s"corrupt commit record at $p: missing $name in: $txt"))
        CommitRecord(str("seq").toLong, str("merge_id"), str("op"),
          str("partition_col"), list("partitions"), list("created"),
          str("retained") == "1",
          LakeMerge.jsonList(txt, "dropped").getOrElse(Seq.empty))
      }
      .sortBy(_.seq)
  }

  /** Read the lake EXACTLY as it stood after commit `asOfSeq`
    * (`asOfSeq = -1` is the state before the first recorded commit).
    * Works while a later merge pends mid-swap — the pending commit's
    * pre-images resolve through history, the still-unswapped ones
    * through live, exactly the committed-view discipline — and refuses
    * loudly when the pre-image chain after `asOfSeq` is broken (a
    * non-retaining commit, or a [[vacuum]]ed one). */
  def readLakeAsOf(spark: SparkSession, lakeDir: String, asOfSeq: Long,
      partitionCol: String = "part_date"): DataFrame = {
    val fs = LakeMerge.hadoopFs(spark, lakeDir)
    val resolved = resolveAsOf(spark, lakeDir, asOfSeq, partitionCol)
    // the stored schema (E178) applies to snapshots too: a snapshot
    // renders in the CURRENT schema — partitions (and retained
    // pre-images) written before a widening read back null-filled, the
    // same shape a full recompute of that era's data would produce today
    val stored = LakeMerge.lakeSchema(fs, lakeDir)
    val liveFrame =
      if (resolved.liveDirs.isEmpty) None
      else Some(LakeMerge.readerFor(spark, stored)
        .option("basePath", lakeDir)
        .parquet(resolved.liveDirs.map(LakeMerge.escapeGlob): _*)
        .withColumn(partitionCol, col(partitionCol).cast("string")))
    val litFrames = resolved.litDirs.map { case (dir, v) =>
      LakeMerge.readerFor(spark, LakeMerge.dirSchema(stored, partitionCol))
        .parquet(LakeMerge.escapeGlob(dir))
        .withColumn(partitionCol, lit(v))
    }
    val frames = liveFrame.toVector ++ litFrames
    require(frames.nonEmpty,
      s"the lake had no partitions at seq $asOfSeq")
    frames.reduce(_ unionByName _)
  }

  /** The directory sources a snapshot at `asOfSeq` resolves to —
    * [[readLakeAsOf]]'s resolution, shared with the `graftlake` format's
    * file index so the two read paths cannot drift: `liveDirs` are live
    * partition directories (value derivable from the dir name),
    * `litDirs` carry (dir, restoredValue) for history/staged sources
    * whose names don't encode the value. */
  private[graft] final case class ResolvedSnapshot(liveDirs: Vector[String],
      litDirs: Vector[(String, String)])

  private[graft] def resolveAsOf(spark: SparkSession, lakeDir: String,
      asOfSeq: Long, partitionCol: String): ResolvedSnapshot = {
    val fs = LakeMerge.hadoopFs(spark, lakeDir)
    val recorded = readCommits(spark, lakeDir)
    // a pending manifest is a committed-but-unswapped commit — its
    // record (appended during roll-forward) may not exist yet, so it is
    // synthesized from the manifest. That includes the very FIRST
    // retained commit crashed mid-swap before `_commits/` exists (review
    // finding: refusing 'no commit log' there contradicted the
    // works-while-pending contract); only a seq-less manifest is treated
    // as unrecorded.
    val pending = LakeMerge.readManifest(fs, lakeDir)
    val pendingRec = pending.flatMap { m =>
      m.histSeq.map(seq => CommitRecord(seq, m.mergeId, m.op,
        m.partitionCol, m.partitions, m.created, m.retainHist, m.dropped))
    }
    pending.foreach(m => require(m.histSeq.nonEmpty || recorded.isEmpty,
      s"pending merge ${m.mergeId} carries no commit seq although the " +
        "lake has a commit log — manifest written by an older writer? " +
        "run LakeMerge.recover first"))
    val commits = (recorded ++ pendingRec).sortBy(_.seq)
    require(commits.nonEmpty,
      s"no commit log at $lakeDir/$CommitsDirName — run merges with " +
        "retainHistory = true to enable time travel")
    require(asOfSeq >= -1L && asOfSeq <= commits.last.seq,
      s"asOfSeq $asOfSeq out of range: the log records commits " +
        s"0..${commits.last.seq}")
    commits.filter(_.seq > asOfSeq).foreach { c =>
      require(c.partitionCol == partitionCol,
        s"commit ${c.seq} partitions by '${c.partitionCol}' but the read " +
          s"asked for '$partitionCol'")
    }

    val later = commits.filter(_.seq > asOfSeq)
    val touchedFirst: Map[String, CommitRecord] =
      later.flatMap(c => c.partitions.map(_ -> c))
        .groupBy(_._1).map { case (v, cs) => v -> cs.minBy(_._2.seq)._2 }

    // partitions of an INCLUDED pending commit (handled below) may not be
    // live yet (swap pending), and a fully-swapped pending partition that
    // was CREATED later must still be classified (and excluded) — union
    // all three views of the partition set
    val liveVals = LakeMerge.partitionValues(spark, lakeDir, partitionCol)
    val allVals = (liveVals ++ touchedFirst.keys ++
      pendingRec.filter(_.seq <= asOfSeq).toSeq.flatMap(_.partitions))
      .distinct.sorted

    // partitions of an INCLUDED pending commit (pendingSeq ≤ asOfSeq) are
    // mid-swap: the committed content is the staged copy where the swap
    // has not landed — the readLake committed-view resolution — and a
    // pending-DROPPED partition's committed content is EMPTY (E174)
    val pendingIncluded: Set[String] = pendingRec
      .filter(_.seq <= asOfSeq).map(_.partitions.toSet)
      .getOrElse(Set.empty)
    val pendingDropped: Set[String] = pendingRec
      .map(_.dropped.toSet).getOrElse(Set.empty)

    allVals.foldLeft(ResolvedSnapshot(Vector.empty, Vector.empty)) {
      (acc, v) =>
        touchedFirst.get(v) match {
          case None if pendingIncluded.contains(v) =>
            if (pendingDropped.contains(v)) acc // deleted at the pending seq
            else {
              val staged = new Path(new Path(lakeDir, pending.get.staging),
                s"$partitionCol=$v")
              val dir = if (fs.exists(staged)) staged.toString
                        else s"$lakeDir/$partitionCol=$v"
              acc.copy(litDirs = acc.litDirs :+ ((dir, v)))
            }
          case None =>
            acc.copy(liveDirs = acc.liveDirs :+
              s"$lakeDir/$partitionCol=$v")
          case Some(c) if c.created.contains(v) =>
            acc // did not exist at asOfSeq
          case Some(c) =>
            require(c.retained,
              s"cannot read as of seq $asOfSeq: commit ${c.seq} (${c.op}) " +
                s"touched $partitionCol=$v without retaining history — " +
                "re-run writers with retainHistory = true to keep " +
                "snapshots readable")
            val hist = new Path(historyDir(lakeDir, c.seq), s"$partitionCol=$v")
            val pendingHere = pendingRec.exists(_.seq == c.seq)
            if (fs.exists(hist))
              acc.copy(litDirs = acc.litDirs :+ ((hist.toString, v)))
            else if (pendingHere &&
                (fs.exists(new Path(new Path(lakeDir, pending.get.staging),
                    s"$partitionCol=$v")) ||
                  (c.dropped.contains(v) &&
                    fs.exists(new Path(lakeDir, s"$partitionCol=$v")))))
              // the pending commit has not swapped (or, for a pending
              // DROP, not parked) this partition yet — live still IS the
              // pre-image
              acc.copy(litDirs = acc.litDirs :+
                ((s"$lakeDir/$partitionCol=$v", v)))
            else throw new IllegalStateException(
              s"cannot read as of seq $asOfSeq: commit ${c.seq}'s " +
                s"pre-image of $partitionCol=$v was vacuumed — " +
                "snapshots older than the vacuum horizon are gone")
        }
    }
  }

  /** Drop the pre-images needed only by snapshots OLDER than
    * `oldestAsOf` — every `_history/seq=N` with N ≤ `oldestAsOf` (a
    * snapshot at `asOfSeq ≥ oldestAsOf` resolves only through commits
    * with seq > asOfSeq ≥ oldestAsOf, all kept). Commit records are
    * NEVER deleted: they are the audit trail, seq assignment reads
    * them, and the refusal in [[readLakeAsOf]] needs the full sequence
    * to stay loud. Runs under the writer lease — retention is a write.
    * Returns the number of history directories removed. */
  def vacuum(spark: SparkSession, lakeDir: String, oldestAsOf: Long,
      leaseStaleMs: Long = 15L * 60 * 1000): Int =
    // the lease's entry recovery heals any crashed writer first: deleting
    // a PENDING commit's half-written history dir would leave its
    // recovery with nowhere to park the remaining pre-images'
    // deterministic names
    LakeMerge.withLease(spark, lakeDir, leaseStaleMs) { _ =>
      val fs = LakeMerge.hadoopFs(spark, lakeDir)
      // range-check BEFORE the irreversible delete (review finding): the
      // lake surfaces two counters named 'seq' (change feed, commit log);
      // a change-feed seq — or a stray timestamp — passed here would
      // otherwise silently destroy every snapshot and report a normal
      // count. readLakeAsOf validates its seq; so does the delete.
      val maxSeq = readCommits(spark, lakeDir)
        .lastOption.map(_.seq).getOrElse(-1L)
      require(oldestAsOf <= maxSeq,
        s"vacuum oldestAsOf $oldestAsOf exceeds the recorded COMMIT range " +
          s"(max $maxSeq) — is this a change-feed seq or a timestamp? " +
          "vacuum takes a commit-log seq")
      val root = new Path(lakeDir, HistoryDirName)
      if (!fs.exists(root)) 0
      else {
        val victims = fs.listStatus(root).toSeq
          .map(_.getPath)
          .filter(_.getName.startsWith("seq="))
          .filter(_.getName.stripPrefix("seq=").toLong <= oldestAsOf)
        victims.foreach(p => fs.delete(p, true))
        victims.length
      }
    }
}
