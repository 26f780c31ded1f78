package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.io.{FeedMaintain, IntegrityManifest, LakeMerge, LakeTimeTravel}

/** Lake ADMINISTRATION — the operational surface of the copy-on-write
  * lake's maintenance quartet (merge is the pipelines' job; everything
  * an operator runs by hand or cron lives here), one `--op` per duty:
  *
  *   - `recover`   roll an interrupted writer forward / GC pre-commit
  *                 debris ([[LakeMerge.recover]])
  *   - `compact`   small-file OPTIMIZE, worst offenders first
  *                 (E171 [[LakeMerge.compactPartitions]])
  *   - `zorder`    OPTIMIZE ZORDER BY (`--dim-a/--dim-b` or
  *                 `--curve-cols a,b[,c[,d]]` for 3-4 dims, `[--bits]
  *                 [--partitions v1,v2] [--curve zorder|hilbert]`,
  *                 [[LakeMerge.clusterPartitions]])
  *   - `keeper-seed`/`keeper-fold`  seed the exact-dedup keeper state
  *                 from a lake snapshot / fold the published feed into it
  *                 (E183 [[graft.dedup.Dedup.seedKeeperState]]/
  *                 [[graft.dedup.Dedup.foldKeeperStateInto]])
  *   - `vacuum`    drop pre-images older snapshots need
  *                 (E173 [[LakeTimeTravel.vacuum]])
  *   - `vacuum-changes` drop feed commits every consumer has passed
  *                 (E172 [[LakeMerge.vacuumChanges]], `--consumed-seq`)
  *   - `delete`    keyed purge, keys from a parquet file
  *                 (E174 [[LakeMerge.delete]] — GDPR/takedown batches
  *                 arrive as files, not code; add `--maintain-integrity
  *                 <idCol>,<textCol>` to refresh the lake's stored
  *                 fingerprint under the same lease,
  *                 [[IntegrityManifest.deleteAndMaintain]])
  *   - `log`       print the commit log as JSON lines
  *                 ([[LakeTimeTravel.readCommits]])
  *   - `snapshot`  export the lake as of a commit seq
  *                 ([[LakeTimeTravel.readLakeAsOf]] → `--out`)
  *   - `changes`   export the change feed since a seq
  *                 (E172 [[LakeMerge.readChanges]] → `--out`)
  *   - `integrity` print the stored manifest's root + as_of stamp
  *                 (E170 [[IntegrityManifest.readLakeManifest]])
  *   - `schema`    print the effective column set + whether (and how
  *                 often) the schema has evolved (E178)
  *
  * Every op prints ONE summary JSON line (the cron-log contract shared
  * by the other CLIs); mutating ops ride the writers' own lease/
  * manifest machinery, so concurrent admin vs pipeline runs fail fast
  * instead of corrupting.
  *
  * `runMain graft.cli.LakeAdmin --op <op> --lake <dir>
  *   [--partition-col part_date] [--series-col tms_id] [--time-col time]
  *   [--target-file-mb 128] [--max-partitions N] [--retain-history true]
  *   [--oldest-asof N] [--consumed-seq N] [--keys <parquet>] [--key-cols a,b,c]
  *   [--capture-changes true] [--asof N] [--since N] [--out <dir>]`
  */
object LakeAdmin {

  def run(spark: SparkSession, args: Map[String, String]): Map[String, String] = {
    val lake = args.getOrElse("lake",
      throw new IllegalArgumentException("--lake <dir> is required"))
    val partCol = args.getOrElse("partition-col", "part_date")
    val seriesCol = args.getOrElse("series-col", "tms_id")
    val timeCol = args.getOrElse("time-col", "time")
    val retain = args.get("retain-history").exists(_.toBoolean)
    val op = args.getOrElse("op",
      throw new IllegalArgumentException("--op <recover|compact|vacuum|" +
        "vacuum-changes|delete|log|snapshot|changes|integrity|schema|" +
        "keeper-seed|keeper-fold> is required"))

    val result: Map[String, String] = op match {
      case "recover" =>
        Map("recovered" -> LakeMerge.recover(spark, lake).toString)

      case "compact" =>
        val s = LakeMerge.compactPartitions(spark, lake,
          targetFileBytes =
            args.getOrElse("target-file-mb", "128").toLong * 1024 * 1024,
          partitionCol = partCol, seriesCol = seriesCol, timeCol = timeCol,
          maxPartitions = args.get("max-partitions").map(_.toInt)
            .getOrElse(Int.MaxValue),
          retainHistory = retain)
        Map("partitions_total" -> s.partitionsTotal.toString,
          "partitions_compacted" -> s.partitionsCompacted.toString,
          "files_before" -> s.filesBefore.toString,
          "files_after" -> s.filesAfter.toString)

      case "zorder" =>
        // --curve-cols a,b,c (2-4 columns, round 17) supersedes the 2-D
        // --dim-a/--dim-b pair; both remain accepted
        val dims: Seq[String] = args.get("curve-cols") match {
          case Some(cs) => cs.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          case None => Seq(
            args.getOrElse("dim-a", throw new IllegalArgumentException(
              "--dim-a <column> (or --curve-cols a,b[,c[,d]]) is required " +
                "for zorder")),
            args.getOrElse("dim-b", throw new IllegalArgumentException(
              "--dim-b <column> (or --curve-cols a,b[,c[,d]]) is required " +
                "for zorder")))
        }
        val s = LakeMerge.clusterPartitions(spark, lake, dims,
          bits = args.getOrElse("bits", "16").toInt,
          targetFileBytes =
            args.getOrElse("target-file-mb", "128").toLong * 1024 * 1024,
          partitionCol = partCol,
          partitions = args.get("partitions")
            .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
            .getOrElse(Seq.empty),
          maxPartitions = args.get("max-partitions").map(_.toInt)
            .getOrElse(Int.MaxValue),
          retainHistory = retain,
          curve = args.getOrElse("curve", "zorder"))
        Map("partitions_total" -> s.partitionsTotal.toString,
          "partitions_clustered" -> s.partitionsCompacted.toString,
          "files_after" -> s.filesAfter.toString)

      case "keeper-seed" =>
        val stateDir = args.getOrElse("state",
          throw new IllegalArgumentException(
            "--state <dir> is required for keeper-seed"))
        val idCol = args.getOrElse("id-col", "doc_id")
        val textCol = args.getOrElse("text-col", "text")
        val asOf = args.getOrElse("as-of-seq", "-1").toLong
        graft.dedup.Dedup.seedKeeperState(
          LakeMerge.readLake(spark, lake, partCol), stateDir,
          idCol, textCol, asOf)
        Map("seeded" -> "true", "as_of_seq" -> asOf.toString,
          "digests" -> graft.dedup.Dedup.readKeeperState(spark, stateDir)
            .count().toString)

      case "keeper-fold" =>
        val stateDir = args.getOrElse("state",
          throw new IllegalArgumentException(
            "--state <dir> is required for keeper-fold"))
        val idCol = args.getOrElse("id-col", "doc_id")
        val textCol = args.getOrElse("text-col", "text")
        graft.dedup.Dedup.foldKeeperStateInto(
          LakeMerge.readChanges(spark, lake), stateDir, idCol, textCol)
        val st = graft.dedup.Dedup.readKeeperState(spark, stateDir)
        Map("digests" -> st.count().toString,
          "as_of_seq" -> st.agg(org.apache.spark.sql.functions
            .max(org.apache.spark.sql.functions.col("as_of_seq")))
            .head().getLong(0).toString)

      case "vacuum" =>
        val oldest = args.getOrElse("oldest-asof",
          throw new IllegalArgumentException(
            "--oldest-asof <commit seq> is required for vacuum")).toLong
        Map("history_dirs_removed" ->
          LakeTimeTravel.vacuum(spark, lake, oldest).toString)

      case "vacuum-changes" =>
        val consumed = args.getOrElse("consumed-seq",
          throw new IllegalArgumentException(
            "--consumed-seq <feed seq> is required for vacuum-changes")).toLong
        Map("feed_commits_removed" ->
          LakeMerge.vacuumChanges(spark, lake, consumed).toString)

      case "delete" =>
        val keysPath = args.getOrElse("keys",
          throw new IllegalArgumentException(
            "--keys <parquet of purge keys> is required for delete"))
        val keyCols = args.getOrElse("key-cols", "tms_id,fgt,time")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val capture = args.get("capture-changes").exists(_.toBoolean)
        // --maintain-integrity <idCol>,<textCol>: the purge refreshes the
        // lake's stored fingerprint under the SAME lease (E170 x E174) —
        // a purge that leaves the published manifest attesting the
        // forgotten rows has not finished forgetting
        val s = args.get("maintain-integrity") match {
          case Some(spec) =>
            val parts = spec.split(",").map(_.trim).filter(_.nonEmpty)
            require(parts.length == 2,
              "--maintain-integrity takes <idCol>,<textCol>")
            IntegrityManifest.deleteAndMaintain(spark, lake,
              spark.read.parquet(keysPath), parts(0), parts(1),
              keyCols = keyCols, partitionCol = partCol,
              seriesCol = seriesCol, timeCol = timeCol,
              groups = args.getOrElse("integrity-groups", "256").toInt,
              subGroups = args.getOrElse("integrity-subgroups", "16").toInt,
              captureChanges = capture, retainHistory = retain)
          case None =>
            LakeMerge.delete(spark, lake,
              spark.read.parquet(keysPath), keyCols,
              partitionCol = partCol, seriesCol = seriesCol,
              timeCol = timeCol,
              captureChanges = capture, retainHistory = retain)
        }
        Map("partitions_affected" -> s.partitionsAffected.toString,
          "partitions_dropped" -> s.partitionsDropped.toString,
          "rows_deleted" -> s.rowsDeleted.toString,
          "delete_id" -> s.deleteId)

      case "log" =>
        val commits = LakeTimeTravel.readCommits(spark, lake)
        commits.foreach { c =>
          println(s"""{"seq":${c.seq},"op":"${c.op}",""" +
            s""""merge_id":"${c.mergeId}","retained":${c.retained},""" +
            s""""partitions":${c.partitions.length},""" +
            s""""created":${c.created.length},""" +
            s""""dropped":${c.dropped.length}}""")
        }
        Map("commits" -> commits.length.toString)

      case "snapshot" =>
        val asOf = args.getOrElse("asof",
          throw new IllegalArgumentException(
            "--asof <commit seq> is required for snapshot")).toLong
        val out = args.getOrElse("out",
          throw new IllegalArgumentException("--out <dir> is required"))
        val snap = LakeTimeTravel.readLakeAsOf(spark, lake, asOf, partCol)
        snap.write.mode("errorifexists").partitionBy(partCol).parquet(out)
        Map("asof" -> asOf.toString,
          "rows" -> spark.read.parquet(out).count().toString)

      case "changes" =>
        val out = args.getOrElse("out",
          throw new IllegalArgumentException("--out <dir> is required"))
        val since = args.getOrElse("since", "-1").toLong
        val feed = LakeMerge.readChanges(spark, lake, since)
        feed.write.mode("errorifexists").parquet(out)
        Map("since" -> since.toString,
          "rows" -> spark.read.parquet(out).count().toString)

      case "schema" =>
        val versions = LakeMerge.schemaVersions(spark, lake)
        val cols = LakeMerge.readLake(spark, lake, partCol).schema.fields
          .map(f => s"${f.name}:${f.dataType.simpleString}")
        Map("schema_versions" -> versions.length.toString,
          "evolved" -> versions.nonEmpty.toString,
          "columns" -> cols.mkString(","))

      case "integrity" =>
        val m = IntegrityManifest.readLakeManifest(spark, lake)
          .getOrElse(throw new IllegalArgumentException(
            s"no maintained integrity manifest at $lake/_integrity — " +
              "write one with IntegrityManifest.mergeAndMaintain/" +
              "deleteAndMaintain"))
        val asOf = m.select(col("as_of")).distinct()
          .collect().map(_.getString(0)).toSeq
        Map("integrity_root" -> IntegrityManifest.root(m),
          "as_of" -> asOf.mkString(","),
          "groups" -> m.count().toString)

      case other =>
        throw new IllegalArgumentException(s"unknown --op '$other'")
    }
    val json = result.toSeq.sortBy(_._1)
      .map { case (k, v) =>
        val quoted =
          if (v.forall(c => c.isDigit || c == '-') && v.nonEmpty) v
          else "\"" + v + "\""
        s""""$k":$quoted"""
      }
      .mkString(s"""{"op":"$op",""", ",", "}")
    println(json)
    result
  }

  def main(args: Array[String]): Unit =
    CliArgs.withSession("lake-admin")(s => run(s, CliArgs.parse(args)))
}
