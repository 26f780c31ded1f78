package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Copy-on-write MERGE upsert over a partitioned parquet series lake —
  * the file-sink half of K2 (SURVEY.md §1.5: the reference's
  * `insert_data(timeseries, tms_id, fgt, upsert=True)` keyed
  * `(tms_id, fgt, time)`, reference output/extract_water_level.py:206-217,
  * maps to MySQL ON DUPLICATE KEY UPDATE at station count and to a
  * Delta-style MERGE over a partitioned lake at 100 TB).
  *
  * Layout contract (the [[SeriesLake]] layout re-expressed for a
  * path-based lake): one directory per event date
  * (`part_date=yyyy-MM-dd/`), files within a partition clustered and
  * sorted by `(tms_id, time)` — date pruning serves the reference's
  * ubiquitous `[start, end]` scans, series clustering keeps per-series
  * reads to a handful of files. Metastore `bucketBy` metadata cannot
  * survive a directory swap (Spark records bucketing in the catalog, not
  * the files — Delta/Iceberg move that metadata into a transaction log,
  * which is the production upgrade path), so the merge reproduces the
  * CLUSTERING physically (`repartition` by series + sort within files)
  * without the catalog entry.
  *
  * Merge algorithm — the standard copy-on-write shape:
  *
  *  1. PRUNE: the affected partition set is `updates`' distinct partition
  *     values (collected — bounded by the date span of one extraction,
  *     a handful of values for the reference's daily runs);
  *  2. REWRITE: only those partitions are read back (explicit per-
  *     directory reads — never a full-lake scan), matched rows removed
  *     with a BROADCAST anti-join on the key (an extraction batch is
  *     always dimension-sized next to the lake), updates unioned in, and
  *     the result staged under a dot-prefixed directory Spark readers
  *     ignore;
  *  3. COMMIT: once every staged partition is verified on disk, a
  *     `_merge_manifest.json` (staged partition list + staging dir) is
  *     written ATOMICALLY at the lake root — this write IS the commit
  *     point, the single-file stand-in for Delta's `_delta_log` entry /
  *     Iceberg's snapshot pointer swing;
  *  4. SWAP: each affected partition directory is renamed into place
  *     (old → trash inside staging, staged → live — rename is the atomic
  *     primitive on HDFS/POSIX; on rename-less object stores the
  *     manifest ALONE would carry the commit and readers would resolve
  *     through it permanently, which is exactly the Delta/Iceberg
  *     design). Untouched partitions are never read, rewritten, or
  *     moved — the property [[graft.ScaleSmoke]] measures as
  *     partitions-rewritten ≪ total;
  *  5. CLEAN: staging (with the trashed old data) is deleted, then the
  *     manifest — completing the commit.
  *
  * == Whole-merge atomicity (round 14) ==
  * Individual renames are atomic but the swap LOOP is not; the manifest
  * closes that gap with write-ahead roll-forward semantics:
  *
  *  - crash BEFORE the manifest write (during staging): the live lake is
  *    untouched; the orphaned dot-staging directory is invisible to
  *    readers and garbage-collected (rolled back) by the next
  *    [[recover]]/[[merge]] call;
  *  - crash AFTER the manifest write (mid-swap-loop): the merge is
  *    logically committed. [[readLake]] sees the manifest and assembles
  *    the COMMITTED view without mutating anything — manifest-listed
  *    partitions read from staging where the swap hasn't happened yet,
  *    live otherwise — so no reader ever observes a torn (half-old,
  *    half-new) table. The next [[merge]] (or an explicit [[recover]])
  *    ROLLS FORWARD: it completes the remaining swaps idempotently
  *    (staged-missing ⇒ that partition already swapped) and cleans up.
  *
  * Idempotency contract (K2): the merge is exactly-once-by-key — re-
  * applying the same update batch, or overlapping re-extractions,
  * converge to the same table a JDBC upsert would produce
  * (LakeMergeSpec proves equality against [[JdbcUpsertSink]] on the same
  * batches). `updates` must be unique by key with no NULL key values and
  * a partition column agreeing with its derivation — all checked by ONE
  * batch-sized aggregate over an entry `localCheckpoint` (one evaluation
  * of the batch lineage for the whole merge, one validation pass) unless
  * `requireUniqueKeys = false`: duplicate keys in ONE batch have no
  * defined winner in any upsert dialect — MySQL takes statement order,
  * which a distributed write cannot reproduce — and NULL keys never
  * equi-join, so re-applying a batch would duplicate them forever.
  */
object LakeMerge {

  final case class MergeStats(partitionsTotal: Int, partitionsRewritten: Int,
      rowsBeforeAffected: Long, rowsUpserted: Long, rowsUpdated: Long,
      rowsInserted: Long, rowsAfterAffected: Long,
      mergeId: String = "")

  /** A committed-but-not-fully-swapped merge, as recorded in
    * `_merge_manifest.json`. Existence of the manifest == the merge is
    * logically committed; its absence == the live directories are the
    * whole truth. `changeSeq` is set iff the merge captured a change
    * feed ([[changeFeed]]) — publication of `_changes/seq=N` is then
    * part of the committed roll-forward work. `histSeq`/`retainHist`/
    * `created`/`op` carry the commit-log record ([[LakeTimeTravel]]):
    * when `histSeq` is set the roll-forward also appends the record, and
    * when `retainHist` is set the swaps move pre-images to
    * `_history/seq=N` instead of the staging trash. */
  final case class PendingMerge(mergeId: String, staging: String,
      partitionCol: String, partitions: Seq[String],
      changeSeq: Option[Long] = None, histSeq: Option[Long] = None,
      retainHist: Boolean = false, created: Seq[String] = Seq.empty,
      op: String = "merge", dropped: Seq[String] = Seq.empty)

  private val StagingPrefix = ".merge-staging-"
  private val ManifestName = "_merge_manifest.json"
  private val LeaseName = "_merge_lease"
  private val ChangesDirName = "_changes"
  private val ChangeFeedStagedName = "_changefeed"
  private val SchemaPrefix = "_schema-v"
  private val SchemaSuffix = ".json"

  /** The change-type column a change feed carries beside the lake's own
    * columns: `insert` / `update_preimage` / `update_postimage` from a
    * merge ([[changeFeed]] — an upsert emits no deletes), `delete` from a
    * keyed purge ([[deleteFeed]], E174 — the full pre-image of each
    * removed row). */
  val ChangeTypeCol = "_change_type"

  private def manifestPath(lakeDir: String) = new Path(lakeDir, ManifestName)
  private def leasePath(lakeDir: String) = new Path(lakeDir, LeaseName)

  // ---- atomic directory replacement (round 15) -------------------------
  // ONE definition of the tmp → live swap-with-parked-old discipline,
  // shared by the embedding lake's codebook refresh and the maintained
  // integrity manifest (the r15 reviews found this pattern twice with
  // independently discovered crash windows — it must not be hand-rolled
  // a third time). Writers call atomicReplaceDir/recoverReplacedDir under
  // the lake's writer lease; readers call resolveReplacedDir, which
  // never mutates.

  /** Replace `liveDir` with freshly written content, atomically up to
    * the two-rename window: `write` lands in a dot-prefixed tmp dir,
    * the old copy parks aside, tmp renames into place, old is deleted.
    * A crash anywhere leaves either the old copy serving, or a healable
    * window ([[recoverReplacedDir]] rolls forward iff tmp completed —
    * its `_SUCCESS` marker — else back). Heals any prior crashed
    * replacement first. Caller must hold the lake's writer lease. */
  private[io] def atomicReplaceDir(fs: FileSystem, liveDir: Path)
      (write: Path => Unit): Unit = {
    recoverReplacedDir(fs, liveDir)
    val tmp = new Path(liveDir.getParent, s".${liveDir.getName}_tmp")
    val old = new Path(liveDir.getParent, s".${liveDir.getName}_old")
    fs.delete(tmp, true) // debris from a crashed prior attempt
    write(tmp)
    fs.delete(old, true)
    if (fs.exists(liveDir))
      require(fs.rename(liveDir, old), s"could not move $liveDir aside")
    require(fs.rename(tmp, liveDir), s"could not swap $tmp into $liveDir")
    fs.delete(old, true)
  }

  /** Writer-side heal of a crashed [[atomicReplaceDir]]: roll FORWARD to
    * a completed tmp (its `_SUCCESS` proves the write finished), else
    * BACK to the parked old copy. Idempotent; no-op on a healthy dir. */
  private[io] def recoverReplacedDir(fs: FileSystem, liveDir: Path): Unit = {
    val tmp = new Path(liveDir.getParent, s".${liveDir.getName}_tmp")
    val old = new Path(liveDir.getParent, s".${liveDir.getName}_old")
    if (!fs.exists(liveDir)) {
      if (fs.exists(new Path(tmp, "_SUCCESS"))) {
        require(fs.rename(tmp, liveDir), s"could not roll $liveDir forward")
        fs.delete(old, true)
      } else if (fs.exists(old)) {
        require(fs.rename(old, liveDir), s"could not roll $liveDir back")
        fs.delete(tmp, true)
      }
    }
  }

  /** Reader-side RESOLUTION of a possibly-mid-replacement dir — never
    * mutates (a healing rename in a read path races the lease-holding
    * writer and other readers): live when present, else the completed
    * tmp, else the parked old. Returns the directory to read; the caller
    * reads it and fails loudly if nothing exists. */
  private[graft] def resolveReplacedDir(fs: FileSystem, liveDir: Path): Path = {
    val tmp = new Path(liveDir.getParent, s".${liveDir.getName}_tmp")
    val old = new Path(liveDir.getParent, s".${liveDir.getName}_old")
    if (fs.exists(liveDir)) liveDir
    else if (fs.exists(new Path(tmp, "_SUCCESS"))) tmp
    else old
  }

  /** Backslash-escape Hadoop glob metacharacters in a path fragment.
    * Strings handed to `spark.read.parquet(...)` are GLOB PATTERNS, so a
    * partition value containing `*?[]{}` would expand to OTHER
    * directories — including, while a merge pends, a manifest-touched
    * mid-swap directory whose torn bytes must never reach a committed
    * view (second-review finding). Applied to every directory path this
    * object and [[LakeTimeTravel]] construct from a partition value. */
  private[graft] def escapeGlob(s: String): String =
    s.flatMap { c =>
      if ("*?[]{}\\".indexOf(c.toInt) >= 0) s"\\$c" else c.toString
    }

  private[graft] def hadoopFs(spark: SparkSession, lakeDir: String): FileSystem =
    new Path(lakeDir).getFileSystem(spark.sessionState.newHadoopConf())

  /** Read a small metadata file (manifest, commit record) fully. */
  private[io] def readSmallText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toString("UTF-8")
    } finally in.close()
  }

  /** Parse a `"name":"value"` field out of our fixed single-line JSON
    * shapes (manifest, commit record) — shared so the hand-rolled format
    * has ONE reader per field kind. */
  private[io] def jsonStr(txt: String, name: String): Option[String] =
    ("\"" + name + "\":\"([^\"]*)\"").r.findFirstMatchIn(txt).map(_.group(1))

  /** Parse a `"name":["a","b"]` list field (same shapes). */
  private[io] def jsonList(txt: String, name: String): Option[Seq[String]] =
    ("\"" + name + "\":\\[([^\\]]*)\\]").r.findFirstMatchIn(txt)
      .map(m => "\"([^\"]*)\"".r.findAllMatchIn(m.group(1))
        .map(_.group(1)).toSeq)

  /** Next sequence number from a directory of `<prefix>N<suffix>` names:
    * max + 1, 0 when empty/missing — the one listing-based counter shape
    * behind the change feed and the commit log (safe under the writer
    * lease; [[LakeTimeTravel]] records are never deleted, so a seq is
    * never reused). */
  private[io] def nextSeqIn(fs: FileSystem, dir: Path, prefix: String,
      suffix: String): Long =
    if (!fs.exists(dir)) 0L
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith(prefix) && n.endsWith(suffix))
      .map(_.stripPrefix(prefix).stripSuffix(suffix).toLong)
      .foldLeft(-1L)(math.max) + 1L

  // ---- schema evolution (round 15, E178) -------------------------------

  /** The lake's AUTHORITATIVE schema, once evolution has recorded one:
    * the highest `_schema-vN.json` at the lake root (append-only
    * versions, each written whole + renamed — a reader sees either the
    * old max or the new max, never a torn file; the audit trail of
    * widenings comes free). None on a never-evolved lake — the files'
    * own footers are then the schema, exactly as before E178. Readers
    * apply the stored schema to every scan (schema-on-read): parquet
    * treats columns absent from a file as NULL, so partitions written
    * before a widening read back null-filled with ZERO rewrite — the
    * Delta/Iceberg `mergeSchema` posture, without the per-read footer
    * merge job `spark.read.option("mergeSchema")` would cost at 100 TB. */
  private[graft] def lakeSchema(fs: FileSystem, lakeDir: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    val root = new Path(lakeDir)
    if (!fs.exists(root)) None
    else {
      val versions = fs.listStatus(root).toSeq.map(_.getPath.getName)
        .filter(n => n.startsWith(SchemaPrefix) && n.endsWith(SchemaSuffix))
        .map(_.stripPrefix(SchemaPrefix).stripSuffix(SchemaSuffix).toLong)
      if (versions.isEmpty) None
      else Some(org.apache.spark.sql.types.DataType.fromJson(
          readSmallText(fs,
            new Path(lakeDir, s"$SchemaPrefix${versions.max}$SchemaSuffix")))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    }
  }

  /** The stored schema versions present at the lake root, ascending —
    * the widening audit trail ([[cli.LakeAdmin]] `--op schema`). */
  def schemaVersions(spark: SparkSession, lakeDir: String): Seq[Long] = {
    val fs = hadoopFs(spark, lakeDir)
    val root = new Path(lakeDir)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith(SchemaPrefix) && n.endsWith(SchemaSuffix))
      .map(_.stripPrefix(SchemaPrefix).stripSuffix(SchemaSuffix).toLong)
      .sorted
  }

  /** Record a widened schema as the next version (tmp + rename; caller
    * holds the writer lease, which serializes version assignment). */
  private def writeSchemaVersion(fs: FileSystem, lakeDir: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val v = nextSeqIn(fs, new Path(lakeDir), SchemaPrefix, SchemaSuffix)
    val target = new Path(lakeDir, s"$SchemaPrefix$v$SchemaSuffix")
    val tmp = new Path(lakeDir, s".$SchemaPrefix$v$SchemaSuffix.tmp")
    val out = fs.create(tmp, true)
    try out.write(schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    require(fs.rename(tmp, target), s"could not record lake schema at $target")
  }

  /** The stored schema shaped for a PER-DIRECTORY read (the partition
    * column lives in the directory name, not the files). Shared with
    * [[LakeTimeTravel]] — the committed-view and snapshot read paths
    * must apply ONE schema discipline or they drift. */
  private[graft] def dirSchema(
      stored: Option[org.apache.spark.sql.types.StructType],
      partitionCol: String): Option[org.apache.spark.sql.types.StructType] =
    stored.map(s => org.apache.spark.sql.types.StructType(
      s.filterNot(_.name == partitionCol)))

  /** A parquet reader with the stored schema applied when one exists. */
  private[io] def readerFor(spark: SparkSession,
      schema: Option[org.apache.spark.sql.types.StructType])
      : org.apache.spark.sql.DataFrameReader =
    schema.foldLeft(spark.read)((r, s) => r.schema(s))

  // ---- single-writer lease (round 15) ---------------------------------

  /** Acquire the lake's single-writer LEASE, or throw. The manifest
    * exists-check in [[writeManifest]] closes the common double-writer
    * case but only at commit time — two writers racing the check could
    * still interleave STAGING work and one would fail late and messily.
    * The lease makes the exclusion explicit and fail-FAST at merge entry:
    * a `_merge_lease` file created with create-exclusive semantics (the
    * one atomic test-and-set a filesystem gives us), holding the writer
    * id, heartbeat = file mtime ([[heartbeatLease]] bumps it between
    * merge phases).
    *
    * Stale-lease takeover contract: a holder that died without releasing
    * leaves its lease behind; a lease whose heartbeat is older than
    * `staleMs` may be taken over (delete + one create-exclusive retry —
    * two racing claimants resolve by the create, one wins, the other
    * throws). `staleMs` must comfortably exceed the longest inter-
    * heartbeat phase of a healthy merge; the default (15 min) is sized
    * for daily-cron batch merges, streaming sinks heartbeat every batch. */
  private[io] def acquireLease(fs: FileSystem, lakeDir: String,
      writerId: String, staleMs: Long = 15L * 60 * 1000): Unit = {
    val lease = leasePath(lakeDir)
    def tryCreate(): Boolean =
      try {
        val out = fs.create(lease, false) // create-exclusive
        try out.write(writerId.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (!tryCreate()) {
      val (holder, ageMs) =
        try {
          val st = fs.getFileStatus(lease)
          (leaseHolder(fs, lakeDir).getOrElse("?"),
            System.currentTimeMillis() - st.getModificationTime)
        } catch { case _: java.io.IOException => ("?", Long.MaxValue) }
      if (ageMs <= staleMs)
        throw new IllegalStateException(
          s"another writer ($holder) holds the merge lease on $lakeDir " +
            s"(heartbeat ${ageMs / 1000} s ago) — concurrent merges are " +
            "not supported; serialize writers or wait for the lease")
      // stale: the holder is gone — take over by atomically CLAIMING the
      // stale lease via rename (exactly one claimant's rename succeeds;
      // the loser's source is gone). A bare delete+create here would let
      // claimant B's delete remove claimant A's FRESH lease between A's
      // create and B's create — two live writers (review finding).
      val claim = new Path(lakeDir, s".$LeaseName.stale-$writerId")
      val claimed =
        try fs.rename(lease, claim)
        catch { case _: java.io.IOException => false }
      if (claimed) fs.delete(claim, false)
      // a failed claim can ALSO mean the holder simply RELEASED between
      // our failed create and the status read (the age=MaxValue path) —
      // the lease is gone, nothing to take over. Either way one
      // create-exclusive retry resolves every interleave: the winner
      // acquires, every other claimant's create fails and throws
      // (second-review finding: throwing on a missing rename source
      // regressed the released-holder race the old delete+create path
      // handled).
      if (!tryCreate())
        throw new IllegalStateException(
          s"lost the lease on $lakeDir to another writer during the " +
            "stale takeover — retry when its merge completes")
    }
  }

  /** The writer id recorded in the lease file, if one is held. */
  private[io] def leaseHolder(fs: FileSystem, lakeDir: String): Option[String] =
    try {
      val in = fs.open(leasePath(lakeDir))
      try {
        val buf = new Array[Byte](256)
        val n = in.read(buf)
        Some(new String(buf, 0, math.max(n, 0),
          java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    } catch { case _: java.io.IOException => None }

  /** Bump the lease heartbeat — called between merge phases AND per swap
    * so a healthy long merge never looks stale. Doubles as the THEFT
    * CHECK: a writer whose lease was legally taken over (it exceeded
    * staleMs — stuck GC, frozen executor) must ABORT at its next
    * heartbeat, not silently continue beside the new holder (review
    * finding: the silent no-op left the robbed writer running). A
    * pre-commit abort is clean (the thief's entry recover() GC's the
    * robbed staging); a post-commit abort stops the robbed swap loop
    * before its next partition, leaving roll-forward to the thief's
    * recover(). */
  private[io] def heartbeatLease(fs: FileSystem, lakeDir: String,
      writerId: String): Unit = {
    def checkHolder(): Unit = {
      val holder = leaseHolder(fs, lakeDir)
      if (!holder.contains(writerId))
        throw new IllegalStateException(
          s"merge lease on $lakeDir lost to ${holder.getOrElse("(released)")} " +
            s"— this writer exceeded the stale threshold and was taken " +
            "over; aborting at this phase boundary")
    }
    checkHolder()
    val now = System.currentTimeMillis()
    try fs.setTimes(leasePath(lakeDir), now, now)
    catch { case _: java.io.IOException => () } // re-checked below
    // check-then-act is unavoidable without a CAS primitive, so the act
    // is bracketed by a SECOND check: a takeover landing inside the
    // window merely refreshes the thief's mtime (harmless to the thief)
    // and is caught here instead of at the next phase (second-review
    // finding). A theft landing after this line is caught by the next
    // heartbeat — see the applySwaps per-swap cadence.
    checkHolder()
  }

  /** Release the lease IF this writer still holds it. After a stale
    * takeover the original holder's release must not delete the new
    * holder's lease — the id check makes release idempotent and safe. */
  private[io] def releaseLease(fs: FileSystem, lakeDir: String,
      writerId: String): Unit =
    if (leaseHolder(fs, lakeDir).contains(writerId))
      fs.delete(leasePath(lakeDir), false)

  /** Write the commit manifest ATOMICALLY: full content to a dot-prefixed
    * temp file, then one rename. Underscore-prefixed names are ignored by
    * Spark's file index (the `_SUCCESS` convention), so the manifest is
    * invisible to a plain parquet read of the lake. */
  private[io] def writeManifest(fs: FileSystem, lakeDir: String,
      m: PendingMerge): Unit = {
    // single-writer contract: merges on one lake must be serialized (the
    // reference's cron and the streaming sink's sequential micro-batches
    // both are). A manifest already present here means another merge is
    // in flight — NOT an interrupted one, which this merge's entry
    // recover() would have rolled forward — so fail before clobbering
    // its bookkeeping. (Review finding: rename-onto-existing SUCCEEDS on
    // the local/POSIX filesystem, so the rename below alone is no guard;
    // this check closes the common case, and the residual window between
    // check and rename is exactly why concurrent writers stay
    // unsupported rather than "mostly working".)
    require(!fs.exists(manifestPath(lakeDir)),
      s"a merge manifest already exists at ${manifestPath(lakeDir)} — " +
        "another merge is in flight on this lake (concurrent merges are " +
        "not supported; serialize writers)")
    // partition values come from date_format (yyyy-MM-dd) in the default
    // layout; a custom layout could pass anything, and a quote/backslash
    // would corrupt the hand-rolled JSON below. '[' and ']' are rejected
    // too (r14 ADVICE): readManifest's partitions regex is
    // bracket-bounded, so a ']' inside a value would TRUNCATE the parsed
    // partition list and recovery would silently skip the tail's swaps —
    // committed data deleted with staging. Reject at write time, where
    // the merge can still abort cleanly.
    (m.partitions ++ m.created ++ m.dropped :+ m.partitionCol :+ m.staging
        :+ m.op)
      .foreach(v =>
        require(!v.exists(c => c == '"' || c == '\\' || c == '[' ||
            c == ']' || c.isControl),
          s"manifest value '$v' contains JSON-unsafe characters " +
            "(\", \\, [, ], control)"))
    val json =
      s"""{"merge_id":"${m.mergeId}","staging":"${m.staging}",""" +
        s""""partition_col":"${m.partitionCol}","op":"${m.op}",""" +
        m.changeSeq.map(s => s""""change_seq":"$s",""").getOrElse("") +
        m.histSeq.map(s => s""""hist_seq":"$s",""").getOrElse("") +
        (if (m.retainHist) s""""hist_keep":"1",""" else "") +
        m.created.map("\"" + _ + "\"")
          .mkString("\"created\":[", ",", "],") +
        m.dropped.map("\"" + _ + "\"")
          .mkString("\"dropped\":[", ",", "],") +
        m.partitions.map("\"" + _ + "\"").mkString("\"partitions\":[", ",", "]}")
    val tmp = new Path(lakeDir, s".$ManifestName.tmp-${m.mergeId}")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    require(fs.rename(tmp, manifestPath(lakeDir)),
      s"could not commit merge manifest at ${manifestPath(lakeDir)} — " +
        "is another merge in flight?")
  }

  /** The pending merge recorded at the lake root, if any. Regex-parsed —
    * the manifest is our own fixed single-line shape, no JSON dep. */
  private[io] def readManifest(fs: FileSystem, lakeDir: String): Option[PendingMerge] = {
    val p = manifestPath(lakeDir)
    if (!fs.exists(p)) None
    else {
      val txt = readSmallText(fs, p)
      def field(name: String): String =
        jsonStr(txt, name).getOrElse(throw new IllegalStateException(
          s"corrupt merge manifest at $p: missing $name in: $txt"))
      val parts = jsonList(txt, "partitions")
        .getOrElse(throw new IllegalStateException(
          s"corrupt merge manifest at $p: missing partitions in: $txt"))
      // change_seq/hist_seq/op/created default for manifests written
      // before round 15's CDF/time-travel fields existed
      Some(PendingMerge(field("merge_id"), field("staging"),
        field("partition_col"), parts,
        jsonStr(txt, "change_seq").map(_.toLong),
        jsonStr(txt, "hist_seq").map(_.toLong),
        txt.contains("\"hist_keep\":\"1\""),
        jsonList(txt, "created").getOrElse(Seq.empty),
        jsonStr(txt, "op").getOrElse("merge"),
        jsonList(txt, "dropped").getOrElse(Seq.empty)))
    }
  }

  /** The swap loop, roll-forward idempotent: a partition whose staged
    * directory is gone has already been swapped by a previous attempt and
    * is skipped; one whose staged directory remains is swapped now (old
    * data parked in a trash dir INSIDE staging, so CLEAN removes it).
    * `failAfter` is crash injection for LakeMergeSpec — the simulated
    * kill between renames the recovery contract is specified against. */
  private[io] def applySwaps(fs: FileSystem, lakeDir: String,
      partitionCol: String, staging: Path, values: Seq[String],
      failAfter: Int = Int.MaxValue,
      onProgress: () => Unit = () => (),
      historyTo: Option[Path] = None,
      dropped: Set[String] = Set.empty): Unit = {
    var done = 0
    values.foreach { v =>
      if (done >= failAfter)
        throw new IllegalStateException(
          s"simulated crash after $done partition swaps (test injection)")
      // per-swap liveness (second-review finding): a thousand-partition
      // swap loop must keep heartbeating — and keep CHECKING for theft —
      // or a takeover's recover() would roll this same manifest forward
      // CONCURRENTLY with this loop. The committing writer passes its
      // heartbeat here; a robbed writer throws before touching the next
      // partition. Residual window: a single swap (two renames) that
      // itself stalls past staleMs — an mtime-heartbeat lease cannot
      // fence that without a CAS store; size leaseStaleMs above the
      // store's worst-case rename stall.
      onProgress()
      val live = new Path(lakeDir, s"$partitionCol=$v")
      val staged = new Path(staging, s"$partitionCol=$v")
      // park the live pre-image aside: into the commit's history dir when
      // retention is on (E173 — DETERMINISTIC name; a recovery re-run can
      // only reach this before the first attempt's rename landed, since
      // afterwards live is gone, so the target never pre-exists), into a
      // uuid-suffixed staging trash otherwise (a recovery re-run after a
      // crash DURING recovery must not collide with the previous
      // attempt's trash name — local-FS rename onto an existing dir
      // fails)
      def parkLive(): Unit = historyTo match {
        case Some(h) =>
          val dest = new Path(h, s"$partitionCol=$v")
          fs.mkdirs(h)
          require(!fs.exists(dest),
            s"history pre-image $dest already present while live " +
              "still exists — lake corrupted")
          require(fs.rename(live, dest),
            s"could not retain old partition $live at $dest")
        case None =>
          val trash = new Path(staging,
            s".old-$partitionCol=$v-${java.util.UUID.randomUUID}")
          require(fs.rename(live, trash),
            s"could not move old partition $live aside")
      }
      if (dropped.contains(v)) {
        // a DELETE emptied this partition (E174): no staged replacement
        // exists by construction — park the pre-image and leave nothing.
        // Live already gone ⇒ a previous attempt finished this value.
        if (fs.exists(live)) parkLive()
      } else if (fs.exists(staged)) {
        if (fs.exists(live)) parkLive()
        require(fs.rename(staged, live),
          s"could not move staged partition $staged into place")
      } else require(fs.exists(live),
        s"partition $partitionCol=$v missing from BOTH staging and live — " +
          "lake corrupted beyond roll-forward")
      done += 1
    }
  }

  /** CLEAN: staging first (the point of no return for the trashed old
    * data), then the manifest. A crash between the two leaves a manifest
    * whose staged directories are all gone — recovery reads every
    * partition as already-swapped and just deletes the manifest. */
  private[io] def finishCommit(fs: FileSystem, lakeDir: String,
      m: PendingMerge): Unit = {
    fs.delete(new Path(lakeDir, m.staging), true)
    fs.delete(manifestPath(lakeDir), false)
  }

  /** Publish a committed merge's staged change feed to
    * `_changes/seq=N` — one rename, part of the manifest's roll-forward
    * work (runs after [[applySwaps]], before [[finishCommit]], in both
    * the merge path and [[recover]]). Idempotent across crash-and-retry:
    * the staged feed gone + the target present means a prior attempt's
    * rename landed; both present cannot happen (rename is atomic), so
    * that interleave defensively drops the stale staged copy. */
  private[io] def publishFeed(fs: FileSystem, lakeDir: String,
      m: PendingMerge): Unit = m.changeSeq.foreach { seq =>
    val staged = new Path(new Path(lakeDir, m.staging), ChangeFeedStagedName)
    val target = new Path(lakeDir, s"$ChangesDirName/seq=$seq")
    if (fs.exists(staged)) {
      if (fs.exists(target)) fs.delete(staged, true)
      else {
        fs.mkdirs(target.getParent)
        require(fs.rename(staged, target),
          s"could not publish change feed to $target")
      }
    } else require(fs.exists(target),
      s"change feed for merge ${m.mergeId} missing from BOTH staging and " +
        s"$target — lake corrupted beyond roll-forward")
  }

  /** The COMMIT tail shared by every partition-rewriting writer (merge,
    * compact): verify staging, assign the commit-log seq, write the
    * manifest (the commit point), swap with optional history retention,
    * publish the feed, append the commit record, clean. ONE definition so
    * the once-a-log-exists-every-commit-records invariant — which
    * [[LakeTimeTravel.readLakeAsOf]]'s broken-chain refusal depends on —
    * cannot drift between writers (review finding). Caller holds the
    * lease as `writerId` and has staged every partition in `values`. */
  private def commitStagedSwaps(fs: FileSystem, lakeDir: String,
      writerId: String, op: String, partitionCol: String, staging: Path,
      values: Seq[String], changeSeq: Option[Long], retainHistory: Boolean,
      crashAfterSwaps: Int, dropped: Seq[String] = Seq.empty,
      forceRecord: Boolean = false): Unit = {
    values.filterNot(dropped.toSet).foreach { v =>
      require(fs.exists(new Path(staging, s"$partitionCol=$v")),
        s"staged partition $partitionCol=$v missing — staging write failed")
    }
    // commit-log record (E173): assigned when retention is requested OR
    // the lake already logs commits — once a log exists EVERY commit
    // records itself (even non-retaining ones), or readLakeAsOf's
    // broken-chain refusal could not see the gap
    val recordCommit = retainHistory || forceRecord ||
      fs.exists(LakeTimeTravel.commitsDir(lakeDir))
    val histSeqOpt =
      if (recordCommit) Some(LakeTimeTravel.nextCommitSeq(fs, lakeDir))
      else None
    val created = values.filterNot(v =>
      fs.exists(new Path(lakeDir, s"$partitionCol=$v")))
    val manifest = PendingMerge(writerId, staging.getName, partitionCol,
      values, changeSeq, histSeqOpt, retainHistory, created, op, dropped)
    writeManifest(fs, lakeDir, manifest)
    // from here on a crash is recoverable forward: the manifest survives
    // until every swap landed, the feed (if any) published, the commit
    // (if any) recorded, and staging is gone
    applySwaps(fs, lakeDir, partitionCol, staging, values, crashAfterSwaps,
      onProgress = () => heartbeatLease(fs, lakeDir, writerId),
      historyTo = histSeqOpt.filter(_ => retainHistory)
        .map(LakeTimeTravel.historyDir(lakeDir, _)),
      dropped = dropped.toSet)
    publishFeed(fs, lakeDir, manifest)
    histSeqOpt.foreach(seq => LakeTimeTravel.writeCommitRecord(fs, lakeDir,
      LakeTimeTravel.CommitRecord(seq, writerId, op, partitionCol, values,
        created, retainHistory, dropped)))
    finishCommit(fs, lakeDir, manifest)
  }

  /** Recover the lake at `lakeDir` from an interrupted merge, if any:
    * a pending manifest is ROLLED FORWARD (remaining swaps completed,
    * staging + manifest cleaned); orphaned pre-commit staging directories
    * (crash before the manifest write) are ROLLED BACK (deleted — the
    * live lake never saw them). Called automatically at the top of every
    * [[merge]]; safe (and a no-op) on a healthy lake. Returns true iff a
    * pending merge was completed.
    *
    * MUTATES the lake (roll-forward swaps, staging GC), so it runs under
    * the single-writer lease like every other mutator: this public entry
    * acquires/releases its own lease (review finding: a leaseless
    * `LakeAdmin --op recover` racing a live merge could delete the
    * in-flight writer's pre-commit staging, or double-roll-forward the
    * same pending manifest against the committing writer's swap loop).
    * Lease-holding writers call [[recoverHeld]] with their own id. */
  def recover(spark: SparkSession, lakeDir: String,
      leaseStaleMs: Long = 15L * 60 * 1000,
      occStaleMs: Long = 15L * 60 * 1000): Boolean = {
    val fs = hadoopFs(spark, lakeDir)
    if (!fs.exists(new Path(lakeDir))) return false
    val recoverId = java.util.UUID.randomUUID.toString
    acquireLease(fs, lakeDir, recoverId, leaseStaleMs)
    try recoverHeld(spark, lakeDir, recoverId, occStaleMs)
    finally releaseLease(fs, lakeDir, recoverId)
  }


  /** [[acquireLease]] with a bounded WAIT — for OCC COMMIT WINDOWS only
    * (round 17): an optimistic writer holds the lease just for its short
    * commit window, so a second writer colliding exactly then should
    * wait the window out, not abort (observed under loaded parallel
    * runs: two disjoint SQL appenders, one failing "another writer holds
    * the merge lease" — Delta's OCC retries the same way). Pessimistic
    * writers keep the fail-fast [[acquireLease]]: their hold spans the
    * whole merge, so waiting could be unbounded and the loud refusal is
    * the right answer. */
  private def acquireLeaseWaiting(fs: FileSystem, lakeDir: String,
      writerId: String, staleMs: Long, waitMs: Long = 60000L): Unit = {
    val deadline = System.currentTimeMillis() + waitMs
    var done = false
    while (!done) {
      try { acquireLease(fs, lakeDir, writerId, staleMs); done = true }
      catch { case e: IllegalStateException =>
        if (System.currentTimeMillis() >= deadline) throw e
        Thread.sleep(200)
      }
    }
  }

  /** [[recover]] for a caller that ALREADY holds the lease as
    * `writerId`. Heartbeats the lease per roll-forward swap (review
    * finding: a long recovery swap loop under the default no-op
    * onProgress could exceed staleMs and be stolen mid-loop — the same
    * double-roll-forward race the per-swap heartbeat in
    * commitStagedSwaps closes for the committing writer). */
  private[io] def recoverHeld(spark: SparkSession, lakeDir: String,
      writerId: String, occStaleMs: Long = 15L * 60 * 1000): Boolean = {
    val root = new Path(lakeDir)
    val fs = hadoopFs(spark, lakeDir)
    if (!fs.exists(root)) return false
    val pending = readManifest(fs, lakeDir)
    pending.foreach { m =>
      applySwaps(fs, lakeDir, m.partitionCol,
        new Path(lakeDir, m.staging), m.partitions,
        onProgress = () => heartbeatLease(fs, lakeDir, writerId),
        historyTo = m.histSeq.filter(_ => m.retainHist)
          .map(LakeTimeTravel.historyDir(lakeDir, _)),
        dropped = m.dropped.toSet)
      publishFeed(fs, lakeDir, m)
      m.histSeq.foreach(seq => LakeTimeTravel.writeCommitRecord(fs, lakeDir,
        LakeTimeTravel.CommitRecord(seq, m.mergeId, m.op, m.partitionCol,
          m.partitions, m.created, m.retainHist, m.dropped)))
      finishCommit(fs, lakeDir, m)
    }
    // any staging dir still present is un-manifested pre-commit debris;
    // orphan metadata TEMP files (a crash between a manifest/commit-record
    // create and its rename) are equally dead — both names are
    // regenerated per attempt, so nothing live ever matches (review
    // finding: they previously accumulated forever)
    fs.listStatus(root).toSeq.foreach { s =>
      val n = s.getPath.getName
      if (s.isDirectory && n.startsWith(StagingPrefix)) {
        // an OPTIMISTIC writer stages WITHOUT the lease, so its
        // (manifest-less) staging is live in-flight work, not pre-commit
        // debris — GC it only once stale (a crashed OCC loser's staging
        // goes stale and is collected here; occStaleMs = 0 in specs).
        // Never GC the CALLER's own staging: the OCC writer's own
        // commit-window recoverHeld runs while its staged write is live
        // (r16 ADVICE — mtime-staleness deleted the live staging and the
        // commit failed with a misleading "staging write failed"); the
        // writer id IS the staging suffix, so the match is exact.
        val own = n == StagingPrefix + writerId
        val occFresh = n.startsWith(StagingPrefix + "occ-") &&
          (System.currentTimeMillis() - s.getModificationTime) <= occStaleMs
        if (!own && !occFresh) fs.delete(s.getPath, true)
      }
      else if (s.isFile && (n.startsWith(s".$ManifestName.tmp-") ||
          (n.startsWith(s".$SchemaPrefix") && n.endsWith(".tmp")) ||
          (n.startsWith(".commit-") && n.endsWith(".tmp"))))
        fs.delete(s.getPath, false)
    }
    pending.isDefined
  }

  /** The OCC snapshot seq, with the commit log BOOTSTRAPPED first (r16
    * ADVICE): conflict detection reads only the commit log, and a
    * pessimistic commit records itself only once a log EXISTS — on a
    * logless (pre-OCC) lake a pessimistic merge landing during our
    * leaseless staging phase would leave no trace, and the commit window
    * would see no conflict and silently overwrite its partitions (lost
    * update). Creating `_commits/` BEFORE the snapshot is read puts every
    * later commit under the once-a-log-exists recording rule; an empty
    * log dir reads as zero commits everywhere, so the bootstrap is
    * observable only as recording switching on. */
  private def occSnapshotSeq(spark: SparkSession, fs: FileSystem,
      lakeDir: String): Long = {
    fs.mkdirs(LakeTimeTravel.commitsDir(lakeDir))
    (LakeTimeTravel.readCommits(spark, lakeDir).map(_.seq) ++
      readManifest(fs, lakeDir).flatMap(_.histSeq))
      .foldLeft(-1L)(math.max)
  }

  /** Keep a leaseless OCC writer's staging directory visibly LIVE while
    * a long write runs (r16 ADVICE): [[recoverHeld]]'s GC keys freshness
    * on the staging ROOT's mtime, which only updates when a direct child
    * lands — a single partition staged for longer than occStaleMs looked
    * stale mid-write, and a CONCURRENT writer's recover deleted the live
    * staging (long compactions being the OCC feature's stated use case).
    * A daemon thread refreshes the root's mtime every 30 s until closed;
    * transient absence (the write's own overwrite cycle) is tolerated. */
  @volatile private[io] var stagingHeartbeatMs: Long = 30000 // spec knob
  private def stagingHeartbeat(fs: FileSystem, staging: Path): AutoCloseable = {
    fs.mkdirs(staging)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t = new Thread(() => {
      while (!stop.get()) {
        try fs.setTimes(staging, System.currentTimeMillis(), -1)
        catch { case scala.util.control.NonFatal(_) => () }
        try Thread.sleep(stagingHeartbeatMs)
        catch { case _: InterruptedException => () }
      }
    }, s"graft-occ-staging-hb-${staging.getName}")
    t.setDaemon(true)
    t.start()
    () => { stop.set(true); t.interrupt(); t.join(2000) }
  }

  /** Derive the lake partition column from an event-time column — one
    * date directory per day, matching the reference's scan axis. */
  def withPartDate(df: DataFrame, timeCol: String = "time",
      partitionCol: String = "part_date"): DataFrame =
    df.withColumn(partitionCol, date_format(col(timeCol), "yyyy-MM-dd"))

  /** Initialize (or fully rewrite) a lake from `df`: date-partitioned
    * parquet, `filesPerPartition` series-clustered sorted files per date.
    * A full rewrite does NOT reset lake metadata (`_schema-vN.json`,
    * `_commits/`, `_changes/`, `_history/`): rewriting an EVOLVED lake
    * with a narrower frame leaves the stored schema authoritative and
    * the missing columns read back NULL — start a genuinely new lake in
    * a fresh directory. */
  def writeLake(df: DataFrame, lakeDir: String,
      partitionCol: String = "part_date", seriesCol: String = "tms_id",
      timeCol: String = "time", filesPerPartition: Int = 4): Unit =
    df.repartition(filesPerPartition, col(partitionCol), col(seriesCol))
      .sortWithinPartitions(partitionCol, seriesCol, timeCol)
      .write.mode("overwrite").partitionBy(partitionCol).parquet(lakeDir)

  /** Read the lake with the partition column restored AS STRING
    * (yyyy-MM-dd), independent of Spark's partition-type inference.
    *
    * Manifest-aware: while a `_merge_manifest.json` is pending (a merge
    * committed but interrupted mid-swap), the plain directory listing is
    * a TORN table — some listed partitions already swapped to new data,
    * others still live-old. This reader assembles the COMMITTED view
    * without mutating anything: manifest-listed partitions resolve to
    * their staged directory when it still exists (swap not yet applied)
    * and to live otherwise (swap done); unlisted partitions read live.
    * That is exactly how a Delta/Iceberg reader resolves through the
    * transaction log rather than trusting the directory listing. */
  def readLake(spark: SparkSession, lakeDir: String,
      partitionCol: String = "part_date"): DataFrame = {
    val fs = hadoopFs(spark, lakeDir)
    readManifest(fs, lakeDir) match {
      case None =>
        readerFor(spark, lakeSchema(fs, lakeDir)).parquet(lakeDir)
          .withColumn(partitionCol, col(partitionCol).cast("string"))
      case Some(m) =>
        require(m.partitionCol == partitionCol,
          s"pending merge manifests partition column '${m.partitionCol}' " +
            s"but the read asked for '$partitionCol'")
        committedView(spark, lakeDir, m, partitionCol)(
          v => lit(v), _.cast("string"))
    }
  }

  /** The COMMITTED view of a lake while manifest `m` pends: listed
    * partitions resolve to their staged directory when the swap hasn't
    * landed yet, live otherwise; unlisted partitions read live. Shared
    * by [[readLake]] and [[EmbeddingLake.read]] (review finding: the
    * resolution semantics must live in ONE place); `valueLit` restores
    * a manifest-listed partition's value with the caller's column type,
    * `colCast` casts the rooted read's inferred partition column to the
    * same type.
    *
    * Plan shape (r14 ADVICE): only the manifest-listed partitions need
    * per-directory resolution — everything else reads through ONE
    * basePath-rooted multi-path parquet scan (touched directories simply
    * not listed), so the plan is O(manifest) unions over one file index,
    * not O(partitions), and partition pruning keeps working for filtered
    * readers (probeTopK's cell filter, date-range scans) while a merge
    * pends on a thousand-partition lake. */
  private[io] def committedView(spark: SparkSession, lakeDir: String,
      m: PendingMerge, partitionCol: String)
      (valueLit: String => org.apache.spark.sql.Column,
       colCast: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame = {
    val fs = hadoopFs(spark, lakeDir)
    val staging = new Path(lakeDir, m.staging)
    val stored = lakeSchema(fs, lakeDir)
    // a DROPPED partition's committed content is EMPTY (E174) — it is
    // simply not read, whether its live dir is already parked or not
    val listed = m.partitions.filterNot(m.dropped.toSet).map { v =>
      val staged = new Path(staging, s"$partitionCol=$v")
      val src = if (fs.exists(staged)) staged.toString
                else s"$lakeDir/$partitionCol=$v"
      readerFor(spark, dirSchema(stored, partitionCol))
        .parquet(escapeGlob(src))
        .withColumn(partitionCol, valueLit(v))
    }
    // untouched partitions: ONE basePath-rooted multi-path read — a
    // single file index / scan node however many partitions the lake
    // holds, with partition pruning intact for filtered readers. The
    // touched directories are simply NOT LISTED, rather than excluded by
    // a NOT-IN filter over the inferred partition column: inference can
    // normalize values (a custom layout's "01" infers as int 1), and a
    // normalized value would fail to match its manifest string, leaking
    // a mid-swap touched directory's bytes into the committed view
    // (review finding). Empty when every live partition is
    // manifest-listed (e.g. a single-partition lake crashed between its
    // two swap renames has no untouched directory to read).
    val touchedSet = m.partitions.toSet
    val untouchedDirs = partitionValues(spark, lakeDir, partitionCol)
      .filterNot(touchedSet)
      .map(v => escapeGlob(s"$lakeDir/$partitionCol=$v"))
    val frames =
      if (untouchedDirs.isEmpty) listed
      else readerFor(spark, stored).option("basePath", lakeDir)
        .parquet(untouchedDirs: _*)
        .withColumn(partitionCol, colCast(col(partitionCol))) +: listed
    frames.reduce(_ unionByName _)
  }

  /** The (value, dir) pairs the COMMITTED live view resolves to — the
    * same resolution [[readLake]]/[[committedView]] applies (manifest-
    * listed partitions read staged-until-swapped, dropped partitions are
    * absent, everything else reads live), exposed as data for the
    * `graftlake` format's file index. Spec-pinned bit-identical to
    * [[readLake]] across the crash windows (GraftLakeSourceSpec). */
  private[graft] def resolveCommitted(spark: SparkSession, lakeDir: String,
      partitionCol: String): Seq[(String, String)] = {
    val fs = hadoopFs(spark, lakeDir)
    val live = partitionValues(spark, lakeDir, partitionCol)
    readManifest(fs, lakeDir) match {
      case None => live.map(v => v -> s"$lakeDir/$partitionCol=$v")
      case Some(m) =>
        require(m.partitionCol == partitionCol,
          s"pending merge manifests partition column '${m.partitionCol}' " +
            s"but the read asked for '$partitionCol'")
        val listed = m.partitions.filterNot(m.dropped.toSet).map { v =>
          val staged = new Path(new Path(lakeDir, m.staging),
            s"$partitionCol=$v")
          v -> (if (fs.exists(staged)) staged.toString
                else s"$lakeDir/$partitionCol=$v")
        }
        val touched = m.partitions.toSet
        val untouched = live.filterNot(touched)
          .map(v => v -> s"$lakeDir/$partitionCol=$v")
        (untouched ++ listed).sortBy(_._1)
    }
  }

  /** The (seq, dir) pairs the committed change feed resolves to — the
    * [[readChanges]] resolution (published `_changes/seq=N` directories
    * plus a committed-but-unpublished merge's staged feed) as data, for
    * the `graftlake` format's changes mode. */
  private[graft] def resolveChanges(spark: SparkSession,
      lakeDir: String): Seq[(Long, String)] = {
    val fs = hadoopFs(spark, lakeDir)
    val dir = new Path(lakeDir, ChangesDirName)
    val published =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.map(_.getPath)
        .filter(_.getName.startsWith("seq="))
        .map(p => p.getName.stripPrefix("seq=").toLong -> p.toString)
    val pending = readManifest(fs, lakeDir).flatMap { m =>
      m.changeSeq.flatMap { seq =>
        val staged = new Path(new Path(lakeDir, m.staging),
          ChangeFeedStagedName)
        if (fs.exists(staged)) Some(seq -> staged.toString) else None
      }
    }
    (published ++ pending).sortBy(_._1)
  }

  /** [[readChanges]]' no-feed refusal, shared with the format reader. */
  private[graft] def refuseNoFeed(spark: SparkSession,
      lakeDir: String): Nothing = {
    val hwm = changeHwm(hadoopFs(spark, lakeDir), lakeDir)
    if (hwm >= 0)
      throw new IllegalArgumentException(
        s"the change feed at $lakeDir/$ChangesDirName was fully " +
          s"vacuumed (highest published seq was $hwm) — new commits " +
          "will resume at a monotonic seq; consumers behind the " +
          "vacuum horizon must re-seed from a snapshot")
    else
      throw new IllegalArgumentException(
        s"no change feed at $lakeDir/$ChangesDirName — merge with " +
          "captureChanges = true to start capturing one")
  }

  /** The partition directory values present on disk. */
  def partitionValues(spark: SparkSession, lakeDir: String,
      partitionCol: String = "part_date"): Seq[String] = {
    val root = new Path(lakeDir)
    val fs = hadoopFs(spark, lakeDir)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith(partitionCol + "="))
      .map(_.stripPrefix(partitionCol + "="))
      .sorted
  }

  // ---- change data feed (round 15, E172) -------------------------------

  /** The CHANGE FEED a merge of `updates` onto `current` emits — the
    * Delta CDF / Debezium row-image shape, as a PURE function of the two
    * frames so it is oracle-replayable (q_lake_changes) independent of
    * any lake side effects. One output row per change, carrying the
    * lake's own columns plus [[ChangeTypeCol]]:
    *
    *  - `insert`           — an update row whose key is new;
    *  - `update_preimage`  — the current row an update replaces;
    *  - `update_postimage` — the update row that replaces it.
    *
    * A MERGE emits no delete type (it is an upsert — [[delete]] commits
    * emit [[deleteFeed]] rows); replaying `insert` + `update_postimage`
    * rows onto the pre-merge snapshot as an upsert reproduces the
    * post-merge table exactly (LakeMergeSpec pins that soundness
    * property — a downstream incremental consumer needs nothing but the
    * feed).
    *
    * Plan shape at 100 TB: the preimage side removes nothing from the
    * lake — it SEMI-joins `current` (in-merge: only the pruned affected
    * partitions) against the BROADCAST batch keys, so the lake never
    * shuffles; the update-side split joins the batch against `current`'s
    * key-only projection (columns pruned to the key — text/payload never
    * rides that exchange), batch-sized output. `current = None` (a brand
    * new corpus) makes every row an insert. */
  def changeFeed(current: Option[DataFrame], updates: DataFrame,
      keyCols: Seq[String]): DataFrame = current match {
    case None => updates.withColumn(ChangeTypeCol, lit("insert"))
    case Some(cur) =>
      val updKeys = updates.select(keyCols.map(col): _*)
      val curKeys = cur.select(keyCols.map(col): _*)
      val pre = cur.join(broadcast(updKeys), keyCols, "left_semi")
        .withColumn(ChangeTypeCol, lit("update_preimage"))
      val post = updates.join(curKeys, keyCols, "left_semi")
        .withColumn(ChangeTypeCol, lit("update_postimage"))
      val ins = updates.join(curKeys, keyCols, "left_anti")
        .withColumn(ChangeTypeCol, lit("insert"))
      pre.unionByName(post).unionByName(ins)
  }

  /** The change feed a keyed DELETE emits — one `delete`-typed row per
    * removed row, carrying its FULL pre-image (the Delta CDF delete
    * shape: a downstream consumer learns both that the key is gone and
    * what it held). Like [[changeFeed]] this is a PURE function of the
    * two frames, oracle-replayable (q_lake_delete) independent of lake
    * side effects; [[delete]] with `captureChanges = true` publishes
    * exactly this frame at `_changes/seq=N`. Feed-replay soundness
    * (LakeDeleteSpec): pre-merge snapshot MINUS the feed's delete keys ==
    * the post-delete table.
    *
    * Plan shape at 100 TB: the purge set is dimension-sized next to the
    * lake (a right-to-be-forgotten batch), so the semi-join BROADCASTS
    * it — the lake side (in-delete: only the pruned affected partitions)
    * never shuffles. */
  def deleteFeed(current: DataFrame, keys: DataFrame,
      keyCols: Seq[String]): DataFrame =
    current.join(broadcast(keys.select(keyCols.map(col): _*).distinct()),
        keyCols, "left_semi")
      .withColumn(ChangeTypeCol, lit("delete"))

  /** The highest change-feed seq EVER published, surviving retention:
    * [[vacuumChanges]] records it as an empty `_hwm-<seq>` marker INSIDE
    * `_changes/` before deleting commits — the value rides in the NAME,
    * so one atomic create is the whole write (underscore-prefixed:
    * invisible to Spark reads of the feed). −1 when nothing was ever
    * recorded. */
  private def changeHwm(fs: FileSystem, lakeDir: String): Long = {
    val dir = new Path(lakeDir, ChangesDirName)
    if (!fs.exists(dir)) -1L
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("_hwm-"))
      .map(_.stripPrefix("_hwm-").toLong)
      .foldLeft(-1L)(math.max)
  }

  /** The next change-feed sequence number: one past the highest seq ever
    * published — max of the live listing and the retention high-water
    * marker, so numbers stay monotonic even after [[vacuumChanges]]
    * removes every published commit (second-review finding: the listing
    * alone would restart at 0 and consumer watermarks would silently
    * drop the reused numbers). The lease serializes writers, closing the
    * listing race. Sequence 0 is the first feed-capturing merge; merges
    * run WITHOUT `changeFeed` do not consume numbers — consumers track
    * completeness by the seq they last read, not by counting merges. */
  private def nextChangeSeq(fs: FileSystem, lakeDir: String): Long =
    math.max(nextSeqIn(fs, new Path(lakeDir, ChangesDirName), "seq=", ""),
      changeHwm(fs, lakeDir) + 1L)

  /** Read the published change feed, commits with seq > `sinceSeq` —
    * the incremental-consumer API ("every change since the last training
    * snapshot" at 100 TB reads the feed's few commits, never re-diffs the
    * lake). One basePath-rooted read of `_changes/` (seq-partition-pruned
    * when `sinceSeq` bounds it), plus — mirroring [[readLake]]'s
    * committed-view discipline — a merge that COMMITTED but crashed
    * before its feed publication landed resolves through its staged feed,
    * so the feed a consumer sees is exactly the committed history. */
  def readChanges(spark: SparkSession, lakeDir: String,
      sinceSeq: Long = -1L): DataFrame = {
    val fs = hadoopFs(spark, lakeDir)
    val dir = new Path(lakeDir, ChangesDirName)
    val pendingFeed = readManifest(fs, lakeDir).flatMap { m =>
      m.changeSeq.flatMap { seq =>
        val staged = new Path(new Path(lakeDir, m.staging),
          ChangeFeedStagedName)
        // staged gone ⇒ the publication rename already landed — the
        // rooted read below covers it
        if (fs.exists(staged))
          Some(spark.read.parquet(staged.toString)
            .withColumn("seq", lit(seq)))
        else None
      }
    }
    // an empty _changes/ can exist transiently (publishFeed's mkdirs
    // landed, its rename not yet) — schema inference would throw on it
    val hasPublished = fs.exists(dir) &&
      fs.listStatus(dir).exists(_.getPath.getName.startsWith("seq="))
    val published =
      if (hasPublished)
        Some(spark.read.option("basePath", dir.toString)
          .parquet(dir.toString)
          .withColumn("seq", col("seq").cast("long")))
      else None
    // the sinceSeq cut applies AFTER assembly: a lake whose only feed is
    // a committed-but-unpublished commit must answer an already-consumed
    // sinceSeq with an EMPTY frame (like every published lake), not the
    // no-feed refusal (review finding — it crashed the consumer's poll
    // loop in exactly the crash window the feed exists to survive)
    val all = (published, pendingFeed) match {
      case (Some(p), Some(q)) => Some(p.unionByName(q))
      case (p, q) => p.orElse(q)
    }
    all.getOrElse(refuseNoFeed(spark, lakeDir))
      .filter(col("seq") > sinceSeq)
  }

  /** RETENTION for the change feed: drop published commits with
    * seq ≤ `consumedSeq` — the GC that keeps `_changes/` from growing
    * forever once every consumer's watermark has passed them (pair with
    * [[FeedMaintain.readAggregate]]'s `as_of_seq` stamp: the min stamp
    * across consumers is the safe horizon). Runs under the writer lease
    * after healing any crashed writer — a pending merge's UNPUBLISHED
    * staged feed is never touched (it lives in staging, and its seq is
    * by construction greater than every published one). Range-checked
    * like [[LakeTimeTravel.vacuum]]: the lake surfaces two counters
    * named "seq", and a commit-log seq passed here must not silently
    * destroy feed history beyond what exists. Before anything is
    * deleted, the highest published seq persists as a `_hwm-<seq>`
    * marker so [[nextChangeSeq]] stays monotonic even when retention
    * empties the feed completely (first-pass review: the listing alone
    * restarted at 0 and consumer watermarks silently dropped the reused
    * numbers; second pass: retaining an "anchor" commit instead made a
    * GDPR delete's captured pre-images — the newest commit on a quiet
    * lake — permanently unvacuumable, so the marker replaced it: full
    * erasure AND monotonic seqs). Deleting consumed commits is safe for
    * NEW consumers only from a fresh snapshot seed — a consumer seeded
    * at `as_of_seq < consumedSeq` would find its next commits gone and
    * must re-seed; that is the same contract as Delta's CDF retention.
    * Returns the number of commits removed. */
  def vacuumChanges(spark: SparkSession, lakeDir: String, consumedSeq: Long,
      leaseStaleMs: Long = 15L * 60 * 1000): Int = {
    val fs = hadoopFs(spark, lakeDir)
    val writerId = java.util.UUID.randomUUID.toString
    acquireLease(fs, lakeDir, writerId, leaseStaleMs)
    try {
      recoverHeld(spark, lakeDir, writerId)
      val dir = new Path(lakeDir, ChangesDirName)
      val published =
        if (!fs.exists(dir)) Seq.empty
        else fs.listStatus(dir).toSeq.map(_.getPath)
          .filter(_.getName.startsWith("seq="))
      val maxSeq = published
        .map(_.getName.stripPrefix("seq=").toLong)
        .foldLeft(-1L)(math.max)
      // the _hwm marker proves seqs up to it were once published, so an
      // idempotent cron re-run after a prior run fully vacuumed the feed
      // (live maxSeq back to -1) must no-op, not throw (review finding)
      require(consumedSeq <= math.max(maxSeq, changeHwm(fs, lakeDir)),
        s"vacuumChanges consumedSeq $consumedSeq exceeds the published " +
          s"feed range (max $maxSeq) — is this a commit-log seq? " +
          "vacuumChanges takes a change-feed seq")
      // persist the high-water mark BEFORE deleting: the marker's name
      // carries the value, so the create is the whole (atomic) write; a
      // crash between marker and deletes leaves commits the next run
      // re-vacuums. Older markers are consumed after the new one exists.
      if (maxSeq > changeHwm(fs, lakeDir)) {
        val marker = new Path(dir, s"_hwm-$maxSeq")
        val out = fs.create(marker, true)
        out.close()
        fs.listStatus(dir).toSeq.map(_.getPath)
          .filter(p => p.getName.startsWith("_hwm-") &&
            p.getName.stripPrefix("_hwm-").toLong < maxSeq)
          .foreach(p => fs.delete(p, false))
      }
      val victims = published
        .filter(_.getName.stripPrefix("seq=").toLong <= consumedSeq)
      victims.foreach(p => fs.delete(p, true))
      victims.length
    } finally releaseLease(fs, lakeDir, writerId)
  }

  /** Explicit pruned read of the named partitions: one read per affected
    * directory with the partition value restored as a literal — never a
    * full-lake scan, and immune to partition-column type inference
    * (a date-shaped string would otherwise read back as DATE and poison
    * the union with `updates`). Empty selection → empty frame shaped
    * like `updates` minus nothing (caller guards). */
  private def readPartitions(spark: SparkSession, lakeDir: String,
      partitionCol: String, values: Seq[String]): Option[DataFrame] = {
    val fs = hadoopFs(spark, lakeDir)
    // the stored schema (E178) makes mixed-vintage partitions uniform:
    // files older than a widening read back null-filled
    val schema = dirSchema(lakeSchema(fs, lakeDir), partitionCol)
    val existing = values.filter(v =>
      fs.exists(new Path(lakeDir, s"$partitionCol=$v")))
    if (existing.isEmpty) None
    else Some(existing.map { v =>
      readerFor(spark, schema)
        .parquet(escapeGlob(s"$lakeDir/$partitionCol=$v"))
        .withColumn(partitionCol, lit(v))
    }.reduce(_ unionByName _))
  }

  /** MERGE `updates` into the lake at `lakeDir`, keyed `keyCols` —
    * matched keys take the update row, unmatched insert. `updates` must
    * carry `partitionCol` (see [[withPartDate]]) and the lake's exact
    * column set. Returns per-merge stats; all counts ride parquet
    * footers / the staged write, never an extra data scan. Recovers any
    * interrupted prior merge first (see [[recover]]).
    * `captureChanges = true` additionally publishes this merge's
    * [[changeFeed]] at `_changes/seq=N` (read it back with
    * [[readChanges]]) — crash-atomic with the merge itself. */
  def merge(spark: SparkSession, lakeDir: String, updates: DataFrame,
      keyCols: Seq[String] = Seq("tms_id", "fgt", "time"),
      partitionCol: String = "part_date", seriesCol: String = "tms_id",
      timeCol: String = "time", filesPerPartition: Int = 4,
      requireUniqueKeys: Boolean = true,
      leaseStaleMs: Long = 15L * 60 * 1000,
      captureChanges: Boolean = false,
      retainHistory: Boolean = false,
      schemaEvolution: Boolean = false,
      occ: Boolean = false): MergeStats =
    mergeImpl(spark, lakeDir, updates, keyCols, partitionCol, seriesCol,
      timeCol, filesPerPartition, requireUniqueKeys, Int.MaxValue,
      leaseStaleMs, captureChanges = captureChanges,
      retainHistory = retainHistory, schemaEvolution = schemaEvolution,
      occ = occ)

  /** [[merge]] with crash injection (`crashAfterSwaps`) for
    * LakeMergeSpec's kill-between-renames cases, and an `externalLease`
    * hook for compound writers ([[IntegrityManifest.mergeAndMaintain]])
    * that must hold the lake's lease ACROSS the merge plus their own
    * follow-up work — the lease is not reentrant, so the outer holder
    * passes its writer id down and this merge heartbeats/identifies as
    * it instead of acquiring. */
  private[graft] def mergeImpl(spark: SparkSession, lakeDir: String,
      updates: DataFrame, keyCols: Seq[String], partitionCol: String,
      seriesCol: String, timeCol: String, filesPerPartition: Int,
      requireUniqueKeys: Boolean, crashAfterSwaps: Int,
      leaseStaleMs: Long = 15L * 60 * 1000,
      externalLease: Option[String] = None,
      captureChanges: Boolean = false,
      retainHistory: Boolean = false,
      schemaEvolution: Boolean = false,
      occ: Boolean = false,
      beforeOccCommit: () => Unit = () => ()): MergeStats = {
    require(updates.columns.contains(partitionCol),
      s"updates must carry the lake partition column '$partitionCol' " +
        "(derive it with LakeMerge.withPartDate)")
    val fsEntry = hadoopFs(spark, lakeDir)
    require(fsEntry.exists(new Path(lakeDir)),
      s"no lake at $lakeDir — initialize with LakeMerge.writeLake")
    // the whole merge — recovery included — runs under the single-writer
    // lease; the merge id doubles as the lease holder id, so a stuck
    // lease names the merge that held it
    require(!(occ && externalLease.nonEmpty),
      "optimistic merges manage their own commit-time lease — " +
        "externalLease is a pessimistic-writer hook")
    require(!(occ && schemaEvolution),
      "schema evolution is a lake-wide metadata write — run it under the " +
        "pessimistic writer (occ = false)")
    val mergeId =
      if (occ) "occ-" + java.util.UUID.randomUUID.toString
      else externalLease.getOrElse(java.util.UUID.randomUUID.toString)
    if (externalLease.isEmpty && !occ)
      acquireLease(fsEntry, lakeDir, mergeId, leaseStaleMs)
    // OCC SNAPSHOT (round 16): the newest commit visible before any input
    // is read. At commit time every commit above this seq that touches our
    // partitions is a conflict; a pending manifest counts as committed
    // (the manifest IS the commit point), hence its histSeq joins the max.
    // The snapshot read BOOTSTRAPS the commit log (see occSnapshotSeq) so
    // a concurrent pessimistic commit on a previously logless lake still
    // records itself and the conflict is visible.
    val snapshotSeq: Long =
      if (!occ) -1L else occSnapshotSeq(spark, fsEntry, lakeDir)
    try {
    if (!occ) // an OCC writer holds no lease here; recovery runs at commit
      recoverHeld(spark, lakeDir, mergeId)
    val allParts = partitionValues(spark, lakeDir, partitionCol)
    require(allParts.nonEmpty,
      s"no lake at $lakeDir — initialize with LakeMerge.writeLake")
    // SCHEMA EVOLUTION (E178): when enabled and the batch carries columns
    // the lake lacks, the authoritative schema WIDENS — new fields
    // appended nullable, so every reader (this merge's own partition
    // reads included) sees old rows null-filled. The widened schema is
    // COMPUTED here but WRITTEN only after the batch validations pass
    // (review finding: writing it first meant a refused batch — one
    // duplicate key — permanently widened the schema and bricked every
    // existing non-evolution writer on a column whose data never
    // landed); it still lands BEFORE the staging/commit work, because a
    // crash after a widening is harmless (an all-null column) where the
    // reverse order could commit new-column data that pre-widening
    // readers would silently DROP. Evolution only ADDS: updates must
    // still carry every existing lake column, and a same-name column
    // keeps its type (no widening/retyping here).
    val widenedSchema: Option[org.apache.spark.sql.types.StructType] =
      if (!schemaEvolution) None
      else {
        val curSchema = lakeSchema(fsEntry, lakeDir)
          .getOrElse(readLake(spark, lakeDir, partitionCol).schema)
        val curNames = curSchema.fieldNames.toSet
        val missing = curNames -- updates.columns.toSet
        require(missing.isEmpty,
          s"schema evolution ADDS columns; updates must still carry every " +
            s"lake column — missing ${missing.toSeq.sorted.mkString(", ")}")
        val extra = updates.schema.fields.filterNot(f => curNames(f.name))
        if (extra.isEmpty) None
        else Some(org.apache.spark.sql.types.StructType(
          curSchema.fields ++ extra.map(_.copy(nullable = true))))
      }
    val lakeCols = widenedSchema.map(_.fieldNames.toSeq)
      .orElse(lakeSchema(fsEntry, lakeDir).map(_.fieldNames.toSeq))
      .getOrElse(readLake(spark, lakeDir, partitionCol).columns.toSeq)
      .sorted
    require(updates.columns.sorted.toSeq == lakeCols,
      s"updates columns ${updates.columns.sorted.mkString(",")} must match " +
        s"lake columns ${lakeCols.mkString(",")} (pass schemaEvolution = " +
        "true to add new columns)")

    // evaluate the batch ONCE: the validation pass, the anti-join, the
    // staging write and (with capture on) the change feed all read this
    // checkpoint — an un-cached `updates` (typically the tail of an
    // extraction pipeline) would re-run its full lineage for each, and the
    // merge's cost must scale with the date span, not with the batch's
    // production cost times its readers (second-review finding).
    // Batch-sized by contract, released before return.
    val upd = updates.localCheckpoint(true)
    try {

    // ONE validation pass: a per-key aggregate folded into a single row
    // answers every batch check, the affected-partition list and the row
    // count — one action over the checkpoint instead of one per check
    // (FuseME's fusion of operators that read the same input). The
    // refusals below keep their messages and order:
    //  - NULL key columns break exactly-once-by-key at its root: the
    //    anti-join's EqualTo never matches NULL, so a re-applied batch
    //    would INSERT its null-key rows again every run (the JDBC sink's
    //    PRIMARY KEY rejects them loudly; so do we) — and a NULL timeCol
    //    would also pass the derivation check (=!= on NULL is NULL, which
    //    bool_or skips). Second-review finding.
    //  - duplicate keys have no defined winner (see the object scaladoc).
    //  - the partition value must agree with the layout's derivation: a
    //    mis-derived part_date (different session timezone, hand-set)
    //    would prune to the WRONG partition, miss the existing key in the
    //    anti-join and silently INSERT a duplicate (review-pass finding).
    //    Custom layouts whose partition column is not date_format(timeCol)
    //    pass requireUniqueKeys = false and own these checks themselves;
    //    their pass skips the per-key grouping.
    //  - a NULL partition value fails whatever requireUniqueKeys says, and
    //    before anything is written: the staging write would name it
    //    __HIVE_DEFAULT_PARTITION__ while the swap loop looks for
    //    'part_date=null', throwing only after other partitions already
    //    swapped (review-pass finding).
    val partStr = col(partitionCol).cast("string")
    val perKey =
      if (requireUniqueKeys)
        upd.groupBy(keyCols.map(col): _*).agg(
            count(lit(1)).as("__n"),
            bool_or(partStr =!= date_format(col(timeCol), "yyyy-MM-dd")).as("__drift"),
            collect_set(partStr).as("__parts"),
            bool_or(partStr.isNull).as("__pnull"))
          .withColumn("__knull", keyCols.map(col(_).isNull).reduce(_ || _))
      else
        upd.select(lit(1L).as("__n"), lit(false).as("__drift"),
          array(partStr).as("__parts"), partStr.isNull.as("__pnull"),
          lit(false).as("__knull"))
    val checks = perKey.agg(sum("__n"), bool_or(col("__knull")), max("__n"),
      bool_or(col("__drift")), bool_or(col("__pnull")),
      array_compact(array_distinct(flatten(collect_set("__parts"))))).head()
    // aggregates over ZERO rows are NULL: an empty batch passes every check
    def flagged(i: Int): Boolean = !checks.isNullAt(i) && checks.getBoolean(i)
    val rowsUpserted = if (checks.isNullAt(0)) 0L else checks.getLong(0)
    require(!flagged(1),
      s"updates contain NULL (${keyCols.mkString(", ")}) key values — " +
        "no upsert key may be NULL (re-applying the batch would " +
        "duplicate such rows: NULL never equi-joins)")
    require(checks.isNullAt(2) || checks.getLong(2) <= 1L,
      s"updates contain duplicate (${keyCols.mkString(", ")}) keys — " +
        "no upsert dialect defines a winner inside one batch")
    require(!flagged(3),
      s"updates carry a $partitionCol that disagrees with " +
        s"date_format($timeCol) — a mis-derived partition would upsert " +
        "into the wrong directory and duplicate its key")
    require(!flagged(4),
      s"updates contain NULL $partitionCol values — derive the partition " +
        "from a non-null event time before merging")

    // 1. PRUNE — the affected partitions are the updates' date span
    val affected = checks.getSeq[String](5).toSeq.sorted
    val fs = hadoopFs(spark, lakeDir)
    // an OCC writer reads live directories directly (no lease to recover
    // under); a manifest mid-swap on OUR partitions would make those
    // reads torn or stale — refuse up front. A DISJOINT pending commit
    // never intersects what we read and proceeds.
    if (occ) readManifest(fs, lakeDir).foreach { m =>
      val overlap = m.partitions.toSet.intersect(affected.toSet)
      require(overlap.isEmpty,
        s"optimistic merge: writer ${m.mergeId} is committing on " +
          s"${overlap.toSeq.sorted.mkString(", ")} — run recover() or " +
          "retry after its roll-forward")
    }

    // EVERY batch refusal is behind us — NOW the widening may land (see
    // the E178 ordering note above; the second review pass caught the
    // NULL-partition refusal still sitting after the first fix's write
    // point): readers from here on, including this merge's own
    // affected-partition reads, resolve through the widened schema
    widenedSchema.foreach(writeSchemaVersion(fsEntry, lakeDir, _))

    // an empty batch affects no partition: nothing to stage or commit (its
    // staging write would hold no file to read the row count back from)
    if (rowsUpserted == 0L)
      return MergeStats(allParts.length, 0, 0L, 0L, 0L, 0L, 0L, mergeId)

    // 2. REWRITE into staging (dot-prefixed: invisible to Spark readers)
    if (!occ) heartbeatLease(fs, lakeDir, mergeId) // validations done
    val staging = new Path(lakeDir, StagingPrefix + mergeId)
    // leaseless staging stays mtime-fresh for the whole write + commit
    // window, however long the write runs (see stagingHeartbeat)
    val stagingHb = if (occ) Some(stagingHeartbeat(fs, staging)) else None
    try {
    val current = readPartitions(spark, lakeDir, partitionCol, affected)
    val rowsBefore = current.map(_.count()).getOrElse(0L) // footer-count only
    val merged = current match {
      case Some(cur) =>
        // broadcast anti-join: the extraction batch is dimension-sized
        // next to the lake, so matched-row removal never shuffles the lake
        cur.join(broadcast(upd.select(keyCols.map(col): _*)),
            keyCols, "left_anti")
          .unionByName(upd.select(cur.columns.map(col): _*))
      case None => upd
    }
    merged.repartition(filesPerPartition, col(partitionCol), col(seriesCol))
      .sortWithinPartitions(partitionCol, seriesCol, timeCol)
      .write.mode("overwrite").partitionBy(partitionCol)
      .parquet(staging.toString)
    val rowsAfter =
      spark.read.parquet(staging.toString).count() // footer-count only

    if (!occ) heartbeatLease(fs, lakeDir, mergeId) // staging written

    // CHANGE FEED (optional, round 15): captured into staging BEFORE the
    // manifest write so the commit point covers it — a pre-commit crash
    // rolls the feed back with the rest of staging, a post-commit crash
    // publishes it during roll-forward ([[publishFeed]]). The preimage
    // side re-reads the affected partitions (still live here — the swap
    // has not run), one extra pruned scan that exists only when capture
    // is on.
    // rowsUpserted == 0 publishes nothing: an EMPTY commit's seq never
    // reaches a consumer as a row, so the feed's dense-seq contract
    // (FeedMaintain.foldInto's gap check) would read it as a hole
    val captureFeed = captureChanges && rowsUpserted > 0
    if (captureFeed)
      changeFeed(current, upd, keyCols).write.mode("overwrite")
        .parquet(new Path(staging, ChangeFeedStagedName).toString)
    // the feed seq is assigned UNDER the lease: a pessimistic writer
    // holds it here already; an OCC writer defers assignment to its
    // commit window below (two leaseless writers would race the number)
    val changeSeqOpt =
      if (captureFeed && !occ) Some(nextChangeSeq(fs, lakeDir)) else None

    // 3. COMMIT + 4. SWAP + 5. CLEAN — the shared tail: every staged
    // partition verified on disk BEFORE the manifest is written (the
    // manifest promises roll-forward can finish, so a missing staged
    // directory aborts pre-commit — live lake untouched, staging
    // garbage-collected by the next recover)
    if (occ) {
      // OPTIMISTIC COMMIT (round 16, Delta-style): the lease is held only
      // for this window — roll forward any pending writer, re-read the
      // commit log, succeed iff no commit since our snapshot touched our
      // partitions (else refuse NAMING the conflicting seq, staging
      // cleaned — the caller re-runs against the fresh lake)
      beforeOccCommit()
      acquireLeaseWaiting(fs, lakeDir, mergeId, leaseStaleMs)
      try {
        recoverHeld(spark, lakeDir, mergeId)
        val mine = affected.toSet
        val conflicts = LakeTimeTravel.readCommits(spark, lakeDir)
          .filter(c => c.seq > snapshotSeq && c.partitions.exists(mine))
        if (conflicts.nonEmpty) {
          fs.delete(staging, true)
          val named = conflicts.map(c => s"seq ${c.seq} (${c.op} on " +
            s"${c.partitions.filter(mine).sorted.mkString(",")})")
            .mkString("; ")
          throw new java.util.ConcurrentModificationException(
            s"optimistic merge conflicts with $named — committed since " +
              s"snapshot seq $snapshotSeq; re-run against the fresh lake")
        }
        val occSeq = if (captureFeed) Some(nextChangeSeq(fs, lakeDir)) else None
        commitStagedSwaps(fs, lakeDir, mergeId, "merge", partitionCol,
          staging, affected, occSeq, retainHistory, crashAfterSwaps,
          forceRecord = true)
      } finally releaseLease(fs, lakeDir, mergeId)
    } else
      commitStagedSwaps(fs, lakeDir, mergeId, "merge", partitionCol,
        staging, affected, changeSeqOpt, retainHistory, crashAfterSwaps)

    // updated = keys that existed before (rows replaced in place);
    // inserted = net new rows. Both derive from the three footer counts.
    val rowsUpdated = rowsBefore + rowsUpserted - rowsAfter
    // mergeId rides the stats so callers can stamp derived artifacts
    // (e.g. an incremental IntegrityManifest) with the lake state they
    // reflect (round 15)
    MergeStats(allParts.length, affected.length, rowsBefore, rowsUpserted,
      rowsUpdated, rowsUpserted - rowsUpdated, rowsAfter, mergeId)

    } finally stagingHb.foreach(_.close())
    // release the entry checkpoint — every action above has completed
    } finally upd.unpersist()
    } finally {
      if (externalLease.isEmpty && !occ)
        releaseLease(fsEntry, lakeDir, mergeId)
    }
  }

  // ---- keyed delete (round 15, E174) -------------------------------------

  final case class DeleteStats(partitionsTotal: Int, partitionsAffected: Int,
      partitionsDropped: Int, rowsBeforeAffected: Long, rowsDeleted: Long,
      rowsAfterAffected: Long, deleteId: String = "")

  /** DELETE every lake row whose key appears in `keys` — the GDPR /
    * right-to-be-forgotten purge, takedown compliance, and
    * contaminated-document removal primitive the upsert-only K2 surface
    * lacked (E174). Same copy-on-write discipline as [[merge]]: only the
    * affected partitions are rewritten (surviving rows re-staged under
    * the lake's clustering contract), the commit is the atomic manifest
    * write, a crash anywhere heals through the same [[recover]]
    * roll-forward, and the whole run holds the single-writer lease.
    *
    * A partition whose every row is purged is DROPPED: no staged
    * replacement exists, the manifest's `dropped` list records the fact,
    * the swap parks the pre-image (history when `retainHistory`, staging
    * trash otherwise) and leaves nothing — readers of the committed view
    * and time-travel snapshots treat it as empty/absent. A delete that
    * would drop EVERY partition is refused (an empty lake has no schema
    * to read back — remove the lake directory instead).
    *
    * Partition pruning, two modes — both rewrite only partitions that
    * actually HOLD a match, so a re-run of the same purge set finds
    * nothing and rewrites nothing:
    *  - `keys` carries `partitionCol`: only those partitions are
    *    examined (a key-column probe of the asserted directories, then
    *    the rewrite) — the caller ASSERTS where the keys live, mirroring
    *    the merge's partition-derivation contract (a key asserted into
    *    the wrong partition silently survives, exactly as a mis-derived
    *    merge would duplicate). The assertion scopes each key to ITS
    *    partition: with several partitions asserted, a key asserted into
    *    partition A never deletes a same-key row living in partition B
    *    (the probe and the rewrite both join on key+partition);
    *  - no `partitionCol`: a key-column-only pruned scan locates the
    *    affected partitions (parquet column pruning keeps the read to the
    *    key columns — text/payload never loads), so "purge these doc ids
    *    wherever they are" works without the caller knowing dates. At
    *    100 TB prefer the first mode when the partition is derivable.
    *
    * `captureChanges = true` publishes this delete's [[deleteFeed]] at
    * `_changes/seq=N`, crash-atomic with the delete itself;
    * `retainHistory = true` keeps every touched partition's pre-image
    * readable via [[LakeTimeTravel.readLakeAsOf]] (note the tension with
    * a true forget-me purge: retained history still HOLDS the purged
    * rows until [[LakeTimeTravel.vacuum]] passes the commit — run
    * retention-free deletes, or vacuum promptly, when erasure is the
    * point). Idempotent: re-running the same purge set finds no matches
    * and rewrites nothing. */
  def delete(spark: SparkSession, lakeDir: String, keys: DataFrame,
      keyCols: Seq[String] = Seq("tms_id", "fgt", "time"),
      partitionCol: String = "part_date", seriesCol: String = "tms_id",
      timeCol: String = "time", filesPerPartition: Int = 4,
      leaseStaleMs: Long = 15L * 60 * 1000,
      captureChanges: Boolean = false,
      retainHistory: Boolean = false,
      occ: Boolean = false): DeleteStats =
    deleteImpl(spark, lakeDir, keys, keyCols, partitionCol, seriesCol,
      timeCol, filesPerPartition, Int.MaxValue, leaseStaleMs,
      captureChanges, retainHistory, occ = occ)

  /** [[delete]] with crash injection (LakeDeleteSpec's kill-between-
    * renames cases, including a kill between a DROP's park and the next
    * partition's swap) and the `externalLease` hook for compound writers
    * ([[IntegrityManifest.deleteAndMaintain]]) — same contract as
    * [[mergeImpl]]'s. */
  private[io] def deleteImpl(spark: SparkSession, lakeDir: String,
      keys: DataFrame, keyCols: Seq[String], partitionCol: String,
      seriesCol: String, timeCol: String, filesPerPartition: Int,
      crashAfterSwaps: Int, leaseStaleMs: Long = 15L * 60 * 1000,
      captureChanges: Boolean = false,
      retainHistory: Boolean = false,
      externalLease: Option[String] = None,
      occ: Boolean = false,
      beforeOccCommit: () => Unit = () => ()): DeleteStats = {
    keyCols.foreach(c => require(keys.columns.contains(c),
      s"keys must carry every key column — missing '$c'"))
    require(!(occ && externalLease.nonEmpty),
      "optimistic deletes manage their own commit-time lease — " +
        "externalLease is a pessimistic-writer hook")
    val fs = hadoopFs(spark, lakeDir)
    require(fs.exists(new Path(lakeDir)),
      s"no lake at $lakeDir — initialize with LakeMerge.writeLake")
    val deleteId =
      if (occ) "occ-" + java.util.UUID.randomUUID.toString
      else externalLease.getOrElse(java.util.UUID.randomUUID.toString)
    if (externalLease.isEmpty && !occ)
      acquireLease(fs, lakeDir, deleteId, leaseStaleMs)
    // OCC snapshot (log-bootstrapping — see occSnapshotSeq): a GDPR purge
    // must not wait behind a long compaction touching OTHER partitions
    val snapshotSeq: Long =
      if (!occ) -1L else occSnapshotSeq(spark, fs, lakeDir)
    try {
      if (!occ) recoverHeld(spark, lakeDir, deleteId)
      val allParts = partitionValues(spark, lakeDir, partitionCol)
      require(allParts.nonEmpty,
        s"no lake at $lakeDir — initialize with LakeMerge.writeLake")
      // evaluate the purge batch ONCE (it is typically the tail of a
      // takedown/contamination pipeline); deduped — duplicate purge keys
      // are harmless to an anti-join but bloat the broadcast
      val hasPart = keys.columns.contains(partitionCol)
      val kCols = keyCols ++ (if (hasPart) Seq(partitionCol) else Nil)
      val k = keys.select(kCols.map(col): _*).distinct().localCheckpoint(true)
      // per-partition key scoping (review finding): when partitions are
      // asserted, the probe and the rewrite join on key+partition so a
      // key asserted into partition A cannot delete a matching key row
      // living in a different affected partition B. Cast the asserted
      // partition to string to match readPartitions' restored literal.
      val joinCols = if (hasPart) keyCols :+ partitionCol else keyCols
      val kScoped =
        if (hasPart) k.withColumn(partitionCol, col(partitionCol).cast("string"))
        else k
      try {
        // NULL keys never equi-join: such a row would silently SURVIVE
        // the purge — for a forget-me operation a silent miss is the
        // worst failure mode, so refuse loudly
        val nullKeys = k.filter(
          keyCols.map(col(_).isNull).reduce(_ || _)).limit(1).count()
        require(nullKeys == 0L,
          s"purge keys contain NULL (${keyCols.mkString(", ")}) values — " +
            "NULL never equi-joins, so those rows would silently survive " +
            "the delete")

        // PRUNE — asserted partitions, or a key-only scan to find them;
        // BOTH modes then keep only partitions actually HOLDING a match
        // (review finding: rewriting a matchless asserted partition broke
        // the documented re-run idempotence and, with captureChanges,
        // could publish an empty feed commit). The asserted mode's
        // match probe reads only the asserted partitions' key columns —
        // still partition-bounded, never a lake scan.
        def matchedPartitions(keysOnly: DataFrame): Seq[String] =
          keysOnly
            .join(broadcast(kScoped.select(joinCols.map(col): _*)),
              joinCols, "left_semi")
            .select(col(partitionCol).cast("string")).distinct()
            .collect().map(_.getString(0)).toSeq.sorted
        val affected: Seq[String] =
          if (hasPart) {
            val raw = k.select(col(partitionCol).cast("string"))
              .distinct().collect().map(r => Option(r.getString(0))).toSeq
            require(raw.forall(_.isDefined),
              s"purge keys contain NULL $partitionCol values — omit the " +
                "column entirely to let the delete locate partitions itself")
            val asserted = raw.flatten
              .filter(v => fs.exists(new Path(lakeDir, s"$partitionCol=$v")))
              .sorted
            readPartitions(spark, lakeDir, partitionCol, asserted)
              .map(cur => matchedPartitions(
                cur.select((keyCols :+ partitionCol).map(col): _*)))
              .getOrElse(Seq.empty)
          } else
            matchedPartitions(readLake(spark, lakeDir, partitionCol)
              .select((keyCols :+ partitionCol).map(col): _*))
        if (affected.isEmpty)
          return DeleteStats(allParts.length, 0, 0, 0L, 0L, 0L, deleteId)
        // OCC: refuse a mid-swap overlap up front (torn reads) — the
        // disjoint case proceeds; see mergeImpl
        if (occ) readManifest(fs, lakeDir).foreach { m =>
          val overlap = m.partitions.toSet.intersect(affected.toSet)
          require(overlap.isEmpty,
            s"optimistic delete: writer ${m.mergeId} is committing on " +
              s"${overlap.toSeq.sorted.mkString(", ")} — run recover() " +
              "or retry after its roll-forward")
        }
        if (!occ) heartbeatLease(fs, lakeDir, deleteId)

        // REWRITE the survivors into staging — the lake's clustering
        // contract unchanged; a partition whose every row is purged
        // writes NO staged directory (partitionBy emits nothing for an
        // empty partition), which is exactly the dropped signal
        val staging = new Path(lakeDir, StagingPrefix + deleteId)
        val stagingHb = if (occ) Some(stagingHeartbeat(fs, staging)) else None
        try {
        val current = readPartitions(spark, lakeDir, partitionCol, affected)
          .getOrElse(throw new IllegalStateException(
            s"affected partitions vanished mid-delete on $lakeDir"))
        val rowsBefore = current.count() // footer-count only
        val keyOnly = kScoped.select(joinCols.map(col): _*)
        current.join(broadcast(keyOnly), joinCols, "left_anti")
          .repartition(filesPerPartition, col(partitionCol), col(seriesCol))
          .sortWithinPartitions(partitionCol, seriesCol, timeCol)
          .write.mode("overwrite").partitionBy(partitionCol)
          .parquet(staging.toString)
        val dropped = affected.filterNot(v =>
          fs.exists(new Path(staging, s"$partitionCol=$v")))
        // the degenerate full-lake drop is refused PRE-commit: live lake
        // untouched, staging GC'd by the next recover()
        require(dropped.length < allParts.length,
          s"delete would remove every partition of $lakeDir — an empty " +
            "lake has no schema to read back; remove the lake directory " +
            "instead")
        val rowsAfter =
          if (dropped.length == affected.length) 0L
          else spark.read.parquet(staging.toString).count() // footers only
        if (!occ) heartbeatLease(fs, lakeDir, deleteId)

        // CHANGE FEED (optional): the purged pre-images, staged before
        // the manifest write so the commit point covers it — same
        // crash-atomicity as the merge's feed; under OCC the seq is
        // assigned inside the commit window (see mergeImpl)
        if (captureChanges)
          deleteFeed(current, keyOnly, joinCols).write.mode("overwrite")
            .parquet(new Path(staging, ChangeFeedStagedName).toString)
        val changeSeqOpt =
          if (captureChanges && !occ) Some(nextChangeSeq(fs, lakeDir))
          else None

        // COMMIT / SWAP / CLEAN — the shared tail; dropped partitions
        // park their pre-image and leave nothing
        if (occ) {
          beforeOccCommit()
          acquireLeaseWaiting(fs, lakeDir, deleteId, leaseStaleMs)
          try {
            recoverHeld(spark, lakeDir, deleteId)
            val mine = affected.toSet
            val conflicts = LakeTimeTravel.readCommits(spark, lakeDir)
              .filter(c => c.seq > snapshotSeq && c.partitions.exists(mine))
            if (conflicts.nonEmpty) {
              fs.delete(staging, true)
              val named = conflicts.map(c => s"seq ${c.seq} (${c.op} on " +
                s"${c.partitions.filter(mine).sorted.mkString(",")})")
                .mkString("; ")
              throw new java.util.ConcurrentModificationException(
                s"optimistic delete conflicts with $named — committed " +
                  s"since snapshot seq $snapshotSeq; re-run the purge " +
                  "against the fresh lake (erasure obligations make the " +
                  "retry mandatory, not optional)")
            }
            val occSeq =
              if (captureChanges) Some(nextChangeSeq(fs, lakeDir)) else None
            commitStagedSwaps(fs, lakeDir, deleteId, "delete", partitionCol,
              staging, affected, occSeq, retainHistory, crashAfterSwaps,
              dropped, forceRecord = true)
          } finally releaseLease(fs, lakeDir, deleteId)
        } else
          commitStagedSwaps(fs, lakeDir, deleteId, "delete", partitionCol,
            staging, affected, changeSeqOpt, retainHistory, crashAfterSwaps,
            dropped)

        DeleteStats(allParts.length, affected.length, dropped.length,
          rowsBefore, rowsBefore - rowsAfter, rowsAfter, deleteId)
        } finally stagingHb.foreach(_.close())
      } finally k.unpersist()
    } finally {
      if (externalLease.isEmpty && !occ) releaseLease(fs, lakeDir, deleteId)
    }
  }

  // ---- small-file compaction (round 15, E171) ---------------------------

  final case class CompactStats(partitionsTotal: Int,
      partitionsCompacted: Int, filesBefore: Long, filesAfter: Long,
      bytesCompacted: Long, compactId: String = "")

  /** Per-partition physical file stats: (value, dataFiles, bytes).
    * Driver-side metadata listing only — O(partitions) RPCs, never a data
    * read (the same budget a table-format OPTIMIZE planner spends). */
  private def partitionFileStats(fs: FileSystem, lakeDir: String,
      partitionCol: String, values: Seq[String]): Seq[(String, Int, Long)] =
    values.map { v =>
      val files = fs.listStatus(new Path(lakeDir, s"$partitionCol=$v"))
        .toSeq.filter { s =>
          val n = s.getPath.getName
          s.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
      (v, files.length, files.map(_.getLen).sum)
    }

  /** COMPACT partitions that have accumulated too many small files — the
    * table-format `OPTIMIZE` / bin-packing maintenance operation. At
    * 100 TB the scan tax of a fragmented lake is file-COUNT-shaped
    * (listing, footer reads, per-file task setup), so a partition is
    * selected iff its data-file count EXCEEDS the ideal for
    * `targetFileBytes` (`max(1, ceil(bytes/target))`); too-FEW-large-files
    * is deliberately not a trigger — Spark parallelizes large parquet
    * files by row group (`files.maxPartitionBytes`), so splitting them
    * buys nothing, and rewriting them risks never converging (a
    * partition with fewer distinct series than the ideal count can NEVER
    * produce the ideal — hash clustering leaves the surplus writers
    * empty). Selection > rewrite guarantees convergence: a compacted
    * partition has ≤ ideal files and is never re-selected (idempotence —
    * LakeCompactSpec pins run-twice-selects-zero).
    *
    * The rewrite is PHYSICAL only: per selected partition, one pruned
    * read → `repartition(ideal, seriesCol)` → the lake's sort contract →
    * staging; commit/swap/clean and crash recovery ride the merge's own
    * manifest machinery unchanged (a crashed compact heals exactly like
    * a crashed merge), the whole run under the single-writer lease. Rows
    * are bit-identical before/after — LakeCompactSpec proves it with
    * [[IntegrityManifest]] roots (content identity, not just counts).
    *
    * `maxPartitions` bounds one maintenance run (worst offenders first,
    * by surplus file count) — the operational knob that keeps a backlog
    * drain incremental. The per-partition writes are separate small jobs
    * by design: each selected partition needs its OWN ideal file count,
    * which one global `repartition` cannot express, and a maintenance
    * run's job count is already bounded by `maxPartitions`. */
  def compactPartitions(spark: SparkSession, lakeDir: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      partitionCol: String = "part_date", seriesCol: String = "tms_id",
      timeCol: String = "time", maxPartitions: Int = Int.MaxValue,
      leaseStaleMs: Long = 15L * 60 * 1000,
      retainHistory: Boolean = false,
      occ: Boolean = false): CompactStats =
    compactImpl(spark, lakeDir, targetFileBytes, partitionCol, seriesCol,
      timeCol, maxPartitions, leaseStaleMs, Int.MaxValue, retainHistory,
      occ = occ)

  /** [[compactPartitions]] with the crash-injection hook
    * (LakeCompactSpec's kill-between-renames case). */
  private[graft] def compactImpl(spark: SparkSession, lakeDir: String,
      targetFileBytes: Long, partitionCol: String, seriesCol: String,
      timeCol: String, maxPartitions: Int, leaseStaleMs: Long,
      crashAfterSwaps: Int, retainHistory: Boolean = false,
      occ: Boolean = false,
      beforeOccCommit: () => Unit = () => ()): CompactStats = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive")
    require(maxPartitions >= 1, s"maxPartitions must be >= 1")
    val fs = hadoopFs(spark, lakeDir)
    require(fs.exists(new Path(lakeDir)),
      s"no lake at $lakeDir — initialize with LakeMerge.writeLake")
    val compactId = (if (occ) "occ-" else "") +
      java.util.UUID.randomUUID.toString
    if (!occ) acquireLease(fs, lakeDir, compactId, leaseStaleMs)
    // OCC snapshot (log-bootstrapping — see occSnapshotSeq); compaction
    // conflicts exactly like a merge (it rewrites partitions), so the same
    // commit-window check applies. A long compaction no longer blocks
    // disjoint ingest merges.
    val snapshotSeq: Long =
      if (!occ) -1L else occSnapshotSeq(spark, fs, lakeDir)
    try {
      if (!occ) recoverHeld(spark, lakeDir, compactId)
      val all = partitionValues(spark, lakeDir, partitionCol)
      // an OCC compaction must not read (or rewrite) a partition some
      // pending manifest is mid-swap on — just skip it this run
      val pendingTouched: Set[String] =
        if (!occ) Set.empty
        else readManifest(fs, lakeDir).map(_.partitions.toSet)
          .getOrElse(Set.empty)
      val stats = partitionFileStats(fs, lakeDir, partitionCol,
        all.filterNot(pendingTouched))
      val totalFiles = stats.map(_._2.toLong).sum
      val candidates = stats.flatMap { case (v, files, bytes) =>
        val ideal = math.max(1L,
          (bytes + targetFileBytes - 1) / targetFileBytes).toInt
        if (files > ideal) Some((v, files, bytes, ideal)) else None
      }
      val selected = candidates
        .sortBy { case (v, files, _, ideal) => (-(files - ideal), v) }
        .take(maxPartitions)
        .sortBy(_._1)
      if (selected.isEmpty)
        return CompactStats(all.length, 0, totalFiles, totalFiles, 0L,
          compactId)
      if (!occ) heartbeatLease(fs, lakeDir, compactId)

      // REWRITE the selected partitions into staging — same clustering
      // contract as the merge (series-hashed files, sorted within), with
      // each partition's own ideal file count
      val staging = new Path(lakeDir, StagingPrefix + compactId)
      val stagingHb = if (occ) Some(stagingHeartbeat(fs, staging)) else None
      try {
      // the stored schema (E178) rides the rewrite: compacting a
      // pre-widening partition UPGRADES its files to the current schema
      // (null-filled new columns) — the table-format "schema migration
      // happens on rewrite" behavior
      val schemaE178 = dirSchema(lakeSchema(fs, lakeDir), partitionCol)
      selected.foreach { case (v, _, _, ideal) =>
        readerFor(spark, schemaE178)
          .parquet(escapeGlob(s"$lakeDir/$partitionCol=$v"))
          .repartition(ideal, col(seriesCol))
          .sortWithinPartitions(seriesCol, timeCol)
          .write.mode("overwrite")
          .parquet(new Path(staging, s"$partitionCol=$v").toString)
        if (!occ) heartbeatLease(fs, lakeDir, compactId)
      }

      // COMMIT / SWAP / CLEAN — the merge's shared tail verbatim, so a
      // crash anywhere here heals through the same recover() path (a
      // compact never CREATES partitions — the tail's created computation
      // is vacuously empty here — and records a commit under the same
      // once-a-log-exists rule so snapshot resolution sees every rewrite)
      if (occ) {
        beforeOccCommit()
        acquireLeaseWaiting(fs, lakeDir, compactId, leaseStaleMs)
        try {
          recoverHeld(spark, lakeDir, compactId)
          val mine = selected.map(_._1).toSet
          val conflicts = LakeTimeTravel.readCommits(spark, lakeDir)
            .filter(c => c.seq > snapshotSeq && c.partitions.exists(mine))
          if (conflicts.nonEmpty) {
            fs.delete(staging, true)
            val named = conflicts.map(c => s"seq ${c.seq} (${c.op} on " +
              s"${c.partitions.filter(mine).sorted.mkString(",")})")
              .mkString("; ")
            throw new java.util.ConcurrentModificationException(
              s"optimistic compaction conflicts with $named — committed " +
                s"since snapshot seq $snapshotSeq; re-run (the skipped " +
                "partitions stay fragmented, nothing is lost)")
          }
          commitStagedSwaps(fs, lakeDir, compactId, "compact", partitionCol,
            staging, selected.map(_._1), None, retainHistory,
            crashAfterSwaps, forceRecord = true)
        } finally releaseLease(fs, lakeDir, compactId)
      } else
        commitStagedSwaps(fs, lakeDir, compactId, "compact", partitionCol,
          staging, selected.map(_._1), None, retainHistory, crashAfterSwaps)

      val after = partitionFileStats(fs, lakeDir, partitionCol,
        selected.map(_._1)).map(_._2.toLong).sum
      val untouchedFiles = totalFiles - selected.map(_._2.toLong).sum
      CompactStats(all.length, selected.length, totalFiles,
        untouchedFiles + after, selected.map(_._3).sum, compactId)
      } finally stagingHb.foreach(_.close())
    } finally if (!occ) releaseLease(fs, lakeDir, compactId)
  }

  // ---- Z-order clustering maintenance (round 15) -------------------------

  /** Z-ORDER a lake's partitions in place — the `OPTIMIZE ZORDER BY`
    * half of the maintenance surface ([[compactPartitions]] is the
    * bin-packing half): each selected partition is rewritten with its
    * rows range-partitioned and sorted by the Morton interleave of
    * (`dimA`, `dimB`) ([[Layout.zOrderKey]]), so every output file
    * covers a small RECTANGLE in the two query dimensions and parquet
    * min-max skipping prunes on BOTH access paths at once — the layout
    * a lake queried by either of two dimensions needs, which no
    * single-column sort can provide. Dim columns must be integer-like
    * and bucketed into [0, 2^bits) for meaningful locality (the key
    * masks out-of-range values deterministically — see
    * [[Layout.zOrderKey]]).
    *
    * Unlike compaction this is a REQUESTED layout change, not a
    * converging repair: there is no selection trigger, so a re-run
    * rewrites again — scope it with `partitions` (must name existing
    * directories) and/or `maxPartitions` (worst-fragmented first, the
    * same backlog-drain knob). File counts follow `targetFileBytes`
    * exactly as in compaction; commit/swap/clean, crash recovery,
    * optional history retention, and the stored-schema upgrade all ride
    * the shared writer tail, the whole run under the single-writer
    * lease. NOTE: the rewrite replaces the lake's default
    * (series, time) sort within the touched partitions — series-scan
    * locality trades against two-dimensional pruning; choose per
    * workload. */
  def clusterPartitions(spark: SparkSession, lakeDir: String,
      dimA: String, dimB: String, bits: Int = 16,
      targetFileBytes: Long = 128L * 1024 * 1024,
      partitionCol: String = "part_date",
      partitions: Seq[String] = Seq.empty,
      maxPartitions: Int = Int.MaxValue,
      leaseStaleMs: Long = 15L * 60 * 1000,
      retainHistory: Boolean = false,
      curve: String = "zorder"): CompactStats =
    clusterImpl(spark, lakeDir, Seq(dimA, dimB), bits, targetFileBytes,
      partitionCol, partitions, maxPartitions, leaseStaleMs, Int.MaxValue,
      retainHistory, curve)

  /** [[clusterPartitions]] over d ∈ [2, 4] dimension columns (round 17):
    * the real-layout shape is 3–4 access paths (source × lang ×
    * time-bucket) — the `--curve-cols` surface. */
  def clusterPartitionsN(spark: SparkSession, lakeDir: String,
      dims: Seq[String], bits: Int = 16,
      targetFileBytes: Long = 128L * 1024 * 1024,
      partitionCol: String = "part_date",
      partitions: Seq[String] = Seq.empty,
      maxPartitions: Int = Int.MaxValue,
      leaseStaleMs: Long = 15L * 60 * 1000,
      retainHistory: Boolean = false,
      curve: String = "zorder"): CompactStats =
    clusterImpl(spark, lakeDir, dims, bits, targetFileBytes,
      partitionCol, partitions, maxPartitions, leaseStaleMs, Int.MaxValue,
      retainHistory, curve)

  /** [[clusterPartitions]] with the crash-injection hook. */
  private[io] def clusterImpl(spark: SparkSession, lakeDir: String,
      dims: Seq[String], bits: Int, targetFileBytes: Long,
      partitionCol: String, partitions: Seq[String], maxPartitions: Int,
      leaseStaleMs: Long, crashAfterSwaps: Int,
      retainHistory: Boolean, curve: String = "zorder"): CompactStats = {
    require(dims.length >= 2 && dims.length <= 4,
      s"clustering takes 2-4 dimension columns, got ${dims.mkString(", ")}")
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    require(maxPartitions >= 1, "maxPartitions must be >= 1")
    val fs = hadoopFs(spark, lakeDir)
    require(fs.exists(new Path(lakeDir)),
      s"no lake at $lakeDir — initialize with LakeMerge.writeLake")
    val clusterId = java.util.UUID.randomUUID.toString
    acquireLease(fs, lakeDir, clusterId, leaseStaleMs)
    try {
      recoverHeld(spark, lakeDir, clusterId)
      val all = partitionValues(spark, lakeDir, partitionCol)
      val unknown = partitions.filterNot(all.contains)
      require(unknown.isEmpty,
        s"no such partitions to z-order: ${unknown.mkString(", ")}")
      val scope = if (partitions.nonEmpty) partitions.sorted else all
      val stats = partitionFileStats(fs, lakeDir, partitionCol, scope)
      val totalFiles = partitionFileStats(fs, lakeDir, partitionCol, all)
        .map(_._2.toLong).sum
      val selected = stats
        .sortBy { case (v, files, _) => (-files, v) }
        .take(maxPartitions)
        .sortBy(_._1)
      if (selected.isEmpty)
        return CompactStats(all.length, 0, totalFiles, totalFiles, 0L,
          clusterId)
      heartbeatLease(fs, lakeDir, clusterId)

      val staging = new Path(lakeDir, StagingPrefix + clusterId)
      val schema = dirSchema(lakeSchema(fs, lakeDir), partitionCol)
      selected.foreach { case (v, _, bytes) =>
        val ideal = math.max(1L,
          (bytes + targetFileBytes - 1) / targetFileBytes).toInt
        Layout.writeClusteredN(
            readerFor(spark, schema)
              .parquet(escapeGlob(s"$lakeDir/$partitionCol=$v")),
            dims.map(col), bits, ideal, curve)
          .write.mode("overwrite")
          .parquet(new Path(staging, s"$partitionCol=$v").toString)
        heartbeatLease(fs, lakeDir, clusterId)
      }

      commitStagedSwaps(fs, lakeDir, clusterId, "zorder", partitionCol,
        staging, selected.map(_._1), None, retainHistory, crashAfterSwaps)

      val after = partitionFileStats(fs, lakeDir, partitionCol,
        selected.map(_._1)).map(_._2.toLong).sum
      val untouchedFiles = totalFiles - selected.map(_._2.toLong).sum
      CompactStats(all.length, selected.length, totalFiles,
        untouchedFiles + after, selected.map(_._3).sum, clusterId)
    } finally releaseLease(fs, lakeDir, clusterId)
  }
}
