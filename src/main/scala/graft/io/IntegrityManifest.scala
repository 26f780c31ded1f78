package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tamper-evident corpus FINGERPRINT — the dataset-versioning /
  * attestation artifact a 100 TB training corpus publishes alongside its
  * card: flip one byte of one document (or add, drop, or re-id a row)
  * and the root hash changes, so two parties can verify they trained on
  * the same bytes without shipping the bytes (the Merkle-manifest idea
  * behind Delta/Iceberg snapshot checksums and artifact registries).
  *
  *  - LEAF: `sha256(sha256(id) ∥ nullFlag ∥ sha256(text))` — binds
  *    identity AND content (a swap of two docs' texts changes two
  *    leaves), with NULL text distinguished from empty text by the flag.
  *    Every field is FIXED WIDTH (64 hex ∥ 1 char ∥ 64 hex), so the
  *    encoding is injective: no (id, text) pair can imitate another by
  *    moving bytes across a delimiter (the r14 `id ':' text` form was
  *    ambiguous when the id itself contained ':'). A NULL id refuses
  *    loudly (an `assert_true` folded into the leaf expression — zero
  *    extra scan), because a NULL routes nowhere honest and its leaf
  *    would silently vanish from a hash chain;
  *  - SUB-GROUP / GROUP (two-level Merkle): docs route by their IDENTITY
  *    hash — `grp` from hex digits 1–8 of `sha256(id)` (mod `groups`, so
  *    up to 2²⁴ groups), `sub` from digits 9–12 (mod `subGroups`) —
  *    uniform, so every chain buffer holds ~corpus/(groups·subGroups)
  *    leaves with tight concentration: the bounded-buffer contract that
  *    caps `collect_list` at 100 B docs. Routing by identity, NOT by the
  *    content-bearing leaf, is what makes the audit local: an EDIT
  *    changes one group's hash with its count intact, instead of reading
  *    as a drop in one group plus an add in another. Each sub-group's
  *    sorted leaves fold into a hash CHAIN
  *    (`h₀ = 64×'0'; hᵢ₊₁ = sha256(hᵢ ∥ leafᵢ)`), then each group's
  *    sub-chains fold — in sub order, sub id included — into the group
  *    hash. Sorting makes both levels pure functions of the leaf SET,
  *    independent of partitioning, insertion order, or cluster layout;
  *  - ROOT: the groups-sized manifest folds driver-side in group order
  *    ([[root]]) — one scalar to publish, compare, or sign.
  *
  * Incremental audit property: a mismatch localizes — compare the two
  * manifests' group rows ([[diff]]) to find WHICH ~1/groups slice of the
  * corpus diverged, then diff leaves only there. Incremental MAINTENANCE
  * ([[updated]]): after an upsert batch, only the groups the batch's ids
  * route to are recomputed and spliced into the previous manifest — the
  * publish-time fingerprint stops being a full-shuffle tax. Every hash
  * is a plain sha256 over hex strings, so DuckDB replays the manifest
  * verbatim (q_integrity_manifest). */
object IntegrityManifest {

  private val Zero64 = "0" * 64

  /** Identity hash of the id column — the routing AND leaf-prefix
    * primitive. One `sha2` subtree that Catalyst CSEs across grp/sub/leaf
    * within a projection. */
  private def idHash(id: Column): Column = sha2(id.cast("string"), 256)

  /** Group route: hex digits 1–8 of the identity hash, mod `groups`. */
  private def grpExpr(id: Column, groups: Int): Column =
    pmod(conv(substring(idHash(id), 1, 8), 16, 10).cast("long"),
      lit(groups.toLong))

  /** Sub-group route: hex digits 9–12 (independent of the group digits),
    * mod `subGroups`. */
  private def subExpr(id: Column, subGroups: Int): Column =
    pmod(conv(substring(idHash(id), 9, 4), 16, 10).cast("long"),
      lit(subGroups.toLong))

  /** The injective leaf. The NULL-id refusal rides the leaf expression
    * itself (`coalesce(assert_true(…), '')` prepends an empty string —
    * hash input unchanged) so column pruning can never drop the check
    * and it costs no extra scan. */
  private def leafExpr(id: Column, text: Column): Column =
    sha2(concat(
      coalesce(assert_true(id.isNotNull,
        lit("integrity manifest: NULL id — every doc must carry a " +
          "non-null identity")), lit("")),
      idHash(id),
      when(text.isNull, lit("1")).otherwise(lit("0")),
      sha2(coalesce(text, lit("")), 256)), 256)

  private def checkShape(groups: Int, subGroups: Int): Unit = {
    require(groups >= 1 && groups <= (1 << 24),
      s"groups must be in [1, ${1 << 24}] (8 hex digits route them; the " +
        s"driver-side root folds a groups-sized manifest), got $groups")
    require(subGroups >= 1 && subGroups <= 65536,
      s"subGroups must be in [1, 65536] (4 hex digits route them), " +
        s"got $subGroups")
  }

  /** One row per group: (grp, n_docs, group_hash). Two grouped
    * aggregates — the (grp, sub) level chains sorted leaves, the grp
    * level chains the sub-chains — with map-side partial counts; no
    * window, no join, nothing driver-side. */
  def manifest(docs: DataFrame, idCol: String, textCol: String,
      groups: Int = 256, subGroups: Int = 16): DataFrame = {
    checkShape(groups, subGroups)
    chainTwoLevel(docs.select(
      grpExpr(col(idCol), groups).as("grp"),
      subExpr(col(idCol), subGroups).as("sub"),
      leafExpr(col(idCol), col(textCol)).as("__leaf")))
  }

  /** The two-level chain over pre-routed (grp, sub, __leaf) rows — shared
    * by the corpus manifest and [[embeddingManifest]]. Level 1 buffers
    * only ONE sub-group's leaves per aggregation buffer
    * (~corpus/(groups·subGroups) — the scale ceiling the r14 single-level
    * fold hit); level 2 buffers subGroups-sized (sub, sub_hash) structs. */
  private def chainTwoLevel(routed: DataFrame): DataFrame = {
    val l1 = routed
      .groupBy(col("grp"), col("sub"))
      .agg(count(lit(1)).as("__n"),
        aggregate(array_sort(collect_list(col("__leaf"))),
          lit(Zero64),
          (acc, l) => sha2(concat(acc, l), 256)).as("__sub_hash"))
    l1.groupBy(col("grp"))
      .agg(sum(col("__n")).as("n_docs"),
        aggregate(
          array_sort(collect_list(struct(col("sub"), col("__sub_hash")))),
          lit(Zero64),
          (acc, s) => sha2(concat(acc,
            s.getField("sub").cast("string"), lit(":"),
            s.getField("__sub_hash")), 256)).as("group_hash"))
  }

  /** Incremental maintenance (round 15): splice a fresh recompute of ONLY
    * the groups touched by an upsert/delete batch into the previous
    * manifest. `changedIds` is the batch's id set — adds, edits AND drops
    * (a dropped id still routes to the group that must re-chain); `corpus`
    * is the POST-change corpus. Only the ~touched/groups slice of the
    * corpus is leaf-hashed and shuffled — the rest of the manifest rides
    * through untouched, so the publish-time fingerprint scales with the
    * batch, not the lake ([[graft.Scale]]'s `integrity_manifest_scale`
    * bounds groups-recomputed ≈ batch-distinct-groups ≪ groups). Hash-exact to a full recompute by
    * construction (IntegrityManifestSpec proves it on add/edit/drop
    * batches): group hashes are pure functions of the group's leaf set,
    * and untouched groups' leaf sets are untouched. A group emptied by
    * drops disappears from the fresh slice — exactly as it would from a
    * full recompute. `prev` may be a [[stamped]] published manifest —
    * only the (grp, n_docs, group_hash) triple rides through; re-stamp
    * the result. The returned plan references ONE batch-groups-sized
    * localCheckpoint (the touched-set frame), released when the result
    * is garbage-collected — the repo's standard checkpoint contract. */
  def updated(prev: DataFrame, corpus: DataFrame, changedIds: DataFrame,
      idCol: String, textCol: String,
      groups: Int = 256, subGroups: Int = 16): DataFrame = {
    checkShape(groups, subGroups)
    // the touched-groups set stays a (checkpointed, batch-groups-sized)
    // FRAME joined broadcast, never a driver collect spliced into isin()
    // literals: a production batch can touch 10⁵⁺ of 2²⁴ groups, and a
    // literal list that size serializes a multi-MB expression tree to
    // every task (review finding). A NULL id in the batch refuses loudly
    // — it routes nowhere honest (same contract as the manifest leaf).
    val touchedDf = changedIds
      .select(coalesce(grpExpr(col(idCol), groups),
        raiseNullId("update batch")).as("__touched_grp"))
      .distinct().localCheckpoint(true)
    if (touchedDf.isEmpty) { touchedDf.unpersist(); prev }
    else {
      // NULL-id corpus rows must refuse here exactly as a FULL recompute
      // would (the leaf's assert_true) — the group filter would otherwise
      // silently DROP them before the leaf ever evaluates, and the
      // incremental manifest would attest a corpus the full pipeline
      // rejects (review finding)
      // sha2(id) is computed once per corpus row for routing and once
      // more per SURVIVOR inside manifest() — deliberately NOT fused:
      // projecting (grp, sub, leaf) before the semi-join would either be
      // rewritten by PushDownLeftSemiAntiJoin back into this exact shape
      // (same hash count) or, if the push-down ever declined, hash the
      // full TEXT of every corpus row pre-filter — catastrophically
      // worse. The extra survivor-side id-hash is the price of routing;
      // sha256(text) stays strictly post-filter.
      val routed = corpus.withColumn("__grp",
        coalesce(grpExpr(col(idCol), groups), raiseNullId("corpus")))
      val fresh = manifest(
        routed.join(broadcast(touchedDf),
            routed("__grp") === touchedDf("__touched_grp"), "left_semi")
          .drop("__grp"),
        idCol, textCol, groups, subGroups)
      // tolerate a stamped()/decorated prev: only the manifest triple
      // rides through (a published as_of column would break unionByName —
      // review finding); the caller re-stamps the result
      prev.select(col("grp"), col("n_docs"), col("group_hash"))
        .join(broadcast(touchedDf),
          col("grp") === col("__touched_grp"), "left_anti")
        .unionByName(fresh)
    }
  }

  /** The loud NULL-id refusal, foldable into a long-typed expression:
    * `assert_true` throws at evaluation when the id was NULL, and the
    * surrounding `coalesce` keeps the type checker happy (the repo-wide
    * zero-extra-scan contract-enforcement shape). */
  private def raiseNullId(where: String): Column =
    assert_true(lit(false),
      lit(s"integrity manifest: NULL id in the $where — every doc must " +
        "carry a non-null identity")).cast("long")

  /** Stamp a manifest with the merge/batch id it reflects — the
    * provenance column a published fingerprint carries so a verifier
    * knows WHICH lake state it attests (pair with
    * [[LakeMerge.MergeStats.mergeId]]). */
  def stamped(manifest: DataFrame, asOf: String): DataFrame =
    manifest.withColumn("as_of", lit(asOf))

  /** Integrity manifest over an EMBEDDING lake ([[EmbeddingLake]]):
    * vectors are training inputs too. The group IS the `ivf_cell`
    * partition — the lake's audit unit, so a [[EmbeddingLake.compactCells]]
    * run must change exactly the touched cells' group hashes and leave
    * every other row of the manifest byte-identical (EmbeddingLakeSpec
    * measures that, upgrading the "untouched partitions byte-identical"
    * contract from spec-only to manifest-attested). The leaf binds the id
    * to the vector's CANONICAL IEEE-754 bit encoding
    * ([[graft.functions.VectorFunctions.bitsHex]] — fixed 8 hex chars per
    * float, so the encoding is injective and bit-exact; quantized/PQ
    * columns can be manifested the same way by passing them as `vecCol`
    * after a cast). Replay note: DuckDB has no float→IEEE-bits primitive,
    * so this variant is SPEC-GATED (no SQL oracle row) — the corpus
    * manifest's oracle covers the chain arithmetic, and the float-bit
    * leaf is pinned by round-trip specs instead. */
  def embeddingManifest(lake: DataFrame, idCol: String, vecCol: String,
      subGroups: Int = 16): DataFrame = {
    require(subGroups >= 1 && subGroups <= 65536,
      s"subGroups must be in [1, 65536], got $subGroups")
    val leaf = sha2(concat(
      coalesce(assert_true(col(idCol).isNotNull,
        lit("embedding manifest: NULL id")), lit("")),
      idHash(col(idCol)),
      when(col(vecCol).isNull, lit("1")).otherwise(lit("0")),
      coalesce(graft.functions.VectorFunctions.bitsHex(col(vecCol)),
        lit(""))), 256)
    chainTwoLevel(lake.select(
      col("ivf_cell").cast("long").as("grp"),
      subExpr(col(idCol), subGroups).as("sub"),
      leaf.as("__leaf")))
  }

  /** Incremental [[embeddingManifest]] maintenance — the per-cell
    * analogue of [[updated]], STRONGER at scale because the group IS the
    * `ivf_cell` partition: the recompute's cell filter is a partition
    * filter, so only the touched cells' DIRECTORIES are ever read (file-
    * listing-level pruning — EmbeddingLakeSpec measures it with
    * [[EmbeddingLake.filesRead]]), where the corpus variant still scans
    * ids lake-wide to route. `touchedCells` is an append's assigned cell
    * set or a compact's flagged+added set; a cell emptied by the change
    * disappears, exactly as it would from a full recompute. */
  def embeddingManifestUpdated(prev: DataFrame, lake: DataFrame,
      touchedCells: Seq[Int], idCol: String, vecCol: String,
      subGroups: Int = 16): DataFrame =
    if (touchedCells.isEmpty) prev
    else {
      val fresh = embeddingManifest(
        lake.filter(col("ivf_cell").isin(touchedCells: _*)),
        idCol, vecCol, subGroups)
      // cells are dimension-sized, so isin literals are fine HERE (unlike
      // updated()'s group sets); prev projects to the manifest triple so
      // a stamped() published manifest round-trips
      prev.select(col("grp"), col("n_docs"), col("group_hash"))
        .filter(!col("grp").isin(touchedCells.map(_.toLong): _*))
        .unionByName(fresh)
    }

  // ---- the manifest MAINTAINED INSIDE a lake (round 15, E170) ----------

  private val LiveDirName = "_integrity"
  private val PendingPrefix = "._integrity_pending-"

  /** The corpus-integrity manifest maintained inside the lake at
    * `lakeDir`, resolved through any mid-replacement state without
    * mutating (reader discipline — [[LakeMerge.resolveReplacedDir]]).
    * None when the lake has never been manifested. Schema:
    * (grp, n_docs, group_hash, as_of) — `as_of` names the merge whose
    * post-state the manifest attests. */
  def readLakeManifest(spark: SparkSession, lakeDir: String)
      : Option[DataFrame] = {
    val root = new org.apache.hadoop.fs.Path(lakeDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val dir = LakeMerge.resolveReplacedDir(fs,
      new org.apache.hadoop.fs.Path(lakeDir, LiveDirName))
    if (fs.exists(dir)) Some(spark.read.parquet(dir.toString)) else None
  }

  /** MERGE an update batch into a documents lake AND maintain its
    * integrity manifest, under ONE writer lease — the fingerprint
    * becomes a live lake artifact (`_integrity/`, underscore-prefixed:
    * invisible to plain reads) instead of a side-channel the caller must
    * remember to recompute. Incremental by construction: only the groups
    * the batch's ids route to re-chain ([[updated]]); the first call on
    * an unmanifested lake computes the full [[manifest]].
    *
    * Crash consistency — the UNION-REPAIR contract: before the merge,
    * the batch's distinct ids persist to a uniquely named
    * `._integrity_pending-*` marker. The maintenance step recomputes the
    * groups of EVERY pending marker's ids (all crashed predecessors plus
    * this batch) and deletes the markers only after the refreshed
    * manifest swapped in ([[LakeMerge.atomicReplaceDir]] — same
    * tmp/parked-old discipline as the codebook). Any crash interleave
    * therefore heals: a marker whose maintenance never ran keeps its
    * groups on the repair list until some run completes them, and a
    * repair set that is a SUPERSET of the truly-stale groups is still
    * hash-exact (recomputing an untouched group is the identity). The
    * stored manifest lags the lake by AT MOST the markers present, and
    * its `as_of` stamp names exactly the merge state it attests.
    *
    * The lake must carry (`idCol`, `textCol`) among its columns; `keyCols`
    * defaults to the document id. Returns the merge stats (whose
    * `mergeId` equals the stored manifest's `as_of` on success). */
  def mergeAndMaintain(spark: SparkSession, lakeDir: String,
      updates: DataFrame, idCol: String, textCol: String,
      keyCols: Seq[String] = Seq.empty, partitionCol: String = "part_date",
      seriesCol: String = "", timeCol: String = "",
      filesPerPartition: Int = 4, requireUniqueKeys: Boolean = false,
      groups: Int = 256, subGroups: Int = 16,
      leaseStaleMs: Long = 15L * 60 * 1000): LakeMerge.MergeStats = {
    checkShape(groups, subGroups)
    val keys = if (keyCols.nonEmpty) keyCols else Seq(idCol)
    val series = if (seriesCol.nonEmpty) seriesCol else idCol
    val time = if (timeCol.nonEmpty) timeCol else idCol
    val fs = new org.apache.hadoop.fs.Path(lakeDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    LakeMerge.withLease(spark, lakeDir, leaseStaleMs) { lease =>
      val writerId = lease.id
      // heal a torn manifest replacement from a crashed predecessor
      // (writer-side — we hold the lease)
      LakeMerge.recoverReplacedDir(fs,
        new org.apache.hadoop.fs.Path(lakeDir, LiveDirName))
      // persist THIS batch's ids as a fresh marker (unique name — never
      // replaces a crashed predecessor's marker, so no repair id is ever
      // lost to a delete/rename window)
      val marker = new org.apache.hadoop.fs.Path(
        lakeDir, PendingPrefix + writerId)
      updates.select(col(idCol)).distinct()
        .write.mode("overwrite").parquet(marker.toString)

      val stats = LakeMerge.mergeImpl(spark, lakeDir, updates, keys,
        partitionCol, series, time, filesPerPartition, requireUniqueKeys,
        Int.MaxValue, leaseStaleMs, externalLease = Some(writerId))

      repairPendingGroups(spark, fs, lakeDir, partitionCol, idCol, textCol,
        groups, subGroups, asOf = stats.mergeId)
      stats
    }
  }

  /** DELETE a purge batch from a documents lake AND maintain its
    * integrity manifest — the erasure-side twin of [[mergeAndMaintain]],
    * closing the loop a GDPR purge would otherwise leave open: the lake
    * forgets the rows while the published fingerprint still attests them.
    * Same union-repair contract (the purged ids persist to a pending
    * marker BEFORE the delete; a dropped id still routes to the group
    * that must re-chain, and a group emptied by the purge disappears from
    * the manifest exactly as a full recompute would drop it), same single
    * writer lease across delete + refresh. `keys` must carry `idCol`
    * among its key columns. Returns the delete stats (whose `deleteId`
    * equals the stored manifest's `as_of` on success). */
  def deleteAndMaintain(spark: SparkSession, lakeDir: String,
      keys: DataFrame, idCol: String, textCol: String,
      keyCols: Seq[String] = Seq.empty, partitionCol: String = "part_date",
      seriesCol: String = "", timeCol: String = "",
      filesPerPartition: Int = 4, groups: Int = 256, subGroups: Int = 16,
      leaseStaleMs: Long = 15L * 60 * 1000,
      captureChanges: Boolean = false,
      retainHistory: Boolean = false): LakeMerge.DeleteStats = {
    checkShape(groups, subGroups)
    val keyset = if (keyCols.nonEmpty) keyCols else Seq(idCol)
    require(keyset.contains(idCol),
      s"the purge key columns (${keyset.mkString(", ")}) must include the " +
        s"manifest id column '$idCol' — the manifest routes repairs by id")
    val series = if (seriesCol.nonEmpty) seriesCol else idCol
    val time = if (timeCol.nonEmpty) timeCol else idCol
    val fs = new org.apache.hadoop.fs.Path(lakeDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    LakeMerge.withLease(spark, lakeDir, leaseStaleMs) { lease =>
      val writerId = lease.id
      LakeMerge.recoverReplacedDir(fs,
        new org.apache.hadoop.fs.Path(lakeDir, LiveDirName))
      val marker = new org.apache.hadoop.fs.Path(
        lakeDir, PendingPrefix + writerId)
      keys.select(col(idCol)).distinct()
        .write.mode("overwrite").parquet(marker.toString)

      val stats = LakeMerge.deleteImpl(spark, lakeDir, keys, keyset,
        partitionCol, series, time, filesPerPartition, Int.MaxValue,
        leaseStaleMs, captureChanges, retainHistory,
        externalLease = Some(writerId))

      repairPendingGroups(spark, fs, lakeDir, partitionCol, idCol, textCol,
        groups, subGroups, asOf = stats.deleteId)
      stats
    }
  }

  /** The union-repair tail shared by [[mergeAndMaintain]] and
    * [[deleteAndMaintain]]: recompute the groups of EVERY pending
    * marker's ids (crashed predecessors plus the current batch), swap the
    * refreshed manifest in atomically, and consume the markers only after
    * the swap landed. ONE definition so the crash-consistency contract
    * cannot drift between the two writers. Caller holds the lease. */
  private def repairPendingGroups(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, lakeDir: String,
      partitionCol: String, idCol: String, textCol: String,
      groups: Int, subGroups: Int, asOf: String): Unit = {
    val markers = fs.listStatus(new org.apache.hadoop.fs.Path(lakeDir))
      .toSeq.filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(PendingPrefix)).map(_.getPath)
    val repairIds = markers.map(p => spark.read.parquet(p.toString))
      .reduce(_ unionByName _).distinct()
    val now = LakeMerge.readLake(spark, lakeDir, partitionCol)
    val refreshed = readLakeManifest(spark, lakeDir) match {
      case Some(prev) =>
        // the stored manifest REMEMBERS its routing shape: splicing a
        // fresh slice routed mod `groups` into rows routed mod a
        // DIFFERENT modulus would silently corrupt the fingerprint
        // (same ids, different grp buckets) — refuse, naming the shape
        // to pass. Manifests stored before the shape columns existed
        // cannot be checked and are accepted as-is.
        if (prev.columns.contains("grp_mod")) {
          val shape = prev.select(col("grp_mod"), col("sub_mod"))
            .distinct().head()
          require(shape.getInt(0) == groups && shape.getInt(1) == subGroups,
            s"the stored manifest at $lakeDir was built with groups = " +
              s"${shape.getInt(0)}, subGroups = ${shape.getInt(1)} — " +
              s"maintenance must pass the same shape (got $groups, " +
              s"$subGroups)")
        }
        updated(prev, now, repairIds, idCol, textCol, groups, subGroups)
      case None => manifest(now, idCol, textCol, groups, subGroups)
    }
    val toStore = stamped(refreshed, asOf)
      .withColumn("grp_mod", lit(groups))
      .withColumn("sub_mod", lit(subGroups))
      .localCheckpoint(true) // the swap must not re-read _integrity mid-replace
    try {
      LakeMerge.atomicReplaceDir(fs,
          new org.apache.hadoop.fs.Path(lakeDir, LiveDirName)) { tmp =>
        toStore.write.mode("overwrite").parquet(tmp.toString)
      }
    } finally toStore.unpersist()
    markers.foreach(p => fs.delete(p, true))
  }

  /** The localization step of an integrity audit: which groups diverge
    * between two manifests (two snapshots, or publisher-vs-verifier).
    * One row per divergent group with both sides' counts/hashes and a
    * verdict — `group_added` / `group_dropped` (present on one side
    * only), `count_changed` (docs added or removed within the group),
    * `content_changed` (same count, different bytes — an in-place
    * edit). Empty result == identical corpora. Both inputs are
    * groups-sized, so this is a broadcast-trivial full-outer join; the
    * expensive leaf-level diff then runs only over the named groups'
    * ~1/groups slices. */
  def diff(a: DataFrame, b: DataFrame): DataFrame = {
    val l = a.select(col("grp"), col("n_docs").as("n_a"),
      col("group_hash").as("hash_a"))
    val r = b.select(col("grp"), col("n_docs").as("n_b"),
      col("group_hash").as("hash_b"))
    l.join(r, Seq("grp"), "full_outer")
      .filter(col("hash_a").isNull || col("hash_b").isNull ||
        col("hash_a") =!= col("hash_b"))
      .select(col("grp"), col("n_a"), col("n_b"),
        when(col("hash_a").isNull, "group_added")
          .when(col("hash_b").isNull, "group_dropped")
          .when(col("n_a") =!= col("n_b"), "count_changed")
          .otherwise("content_changed").as("verdict"))
  }

  /** Fold a [[manifest]] to the ONE publishable scalar: the group chains
    * re-chained in group order (driver-side — the manifest is
    * groups-sized by construction; practical to ~2²⁰ groups, beyond
    * which publish the manifest parquet itself and compare with
    * [[diff]]). Missing groups (no leaf routed there) are skipped, not
    * zero-filled: the group ID participates in the chain, so the same
    * set of present groups in the same order is part of what the root
    * attests. */
  def root(manifest: DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def sha(s: String): String = {
      md.reset()
      md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"${b & 0xFF}%02x").mkString
    }
    manifest.select(col("grp").cast("long"), col("group_hash"))
      .collect().sortBy(_.getLong(0))
      .foldLeft(Zero64) { (acc, r) =>
        sha(acc + r.getLong(0).toString + ":" + r.getString(1))
      }
  }
}
