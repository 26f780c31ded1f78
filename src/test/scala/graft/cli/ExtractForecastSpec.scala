package graft.cli

import java.nio.file.{Files, Paths}
import java.sql.{DriverManager, Timestamp}

import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

import graft.SparkSpec
import graft.io.FcstDims

/** The CLIs' cron posture: an extraction evaluates its enriched batch once
  * and releases it whether the bookkeeping succeeds or throws, and no run
  * leaves a temp file or an open file handle behind. */
class ExtractForecastSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:extractforecastdb;create=true"
  private val model = "flo2d_150_v2"

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def exec(ignoreErrors: Boolean, sqls: String*): Unit = {
    val conn = DriverManager.getConnection(url)
    try sqls.foreach { s =>
      val st = conn.createStatement()
      try st.execute(s)
      catch { case _: java.sql.SQLException if ignoreErrors => () }
      finally st.close()
    } finally conn.close()
  }

  private def count(sql: String): Long = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      rs.next()
      rs.getLong(1)
    } finally conn.close()
  }

  /** A forecast store whose station dim holds `stations` (name = element +
    * "_" + label, as InitDims registers them). */
  private def resetStore(stations: Seq[String]): Unit = {
    exec(ignoreErrors = true, "DROP TABLE data", "DROP TABLE run",
      "DROP TABLE station", "DROP TABLE run_metadata")
    exec(ignoreErrors = false,
      "CREATE TABLE data (tms_id VARCHAR(64), fgt TIMESTAMP, time TIMESTAMP, " +
        "value DOUBLE, PRIMARY KEY (tms_id, fgt, time))",
      "CREATE TABLE run (tms_id VARCHAR(64) PRIMARY KEY, sim_tag VARCHAR(64), " +
        "station_id BIGINT, source_id BIGINT, unit_id BIGINT, variable_id BIGINT, " +
        "latest_fgt TIMESTAMP, start_date TIMESTAMP)",
      "CREATE TABLE station (id BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
        "name VARCHAR(128), latitude VARCHAR(16), longitude VARCHAR(16), " +
        "station_type VARCHAR(64), description VARCHAR(128), " +
        "CONSTRAINT uq_station UNIQUE (name, station_type))",
      "CREATE TABLE run_metadata (source_id BIGINT, variable_id BIGINT, " +
        "sim_tag VARCHAR(32), fgt TIMESTAMP, metadata CLOB, template BLOB)")
    FcstDims.ensureStations(url, stations.map(n =>
      FcstDims.StationRow(n, "6.900000", "79.900000", model, "spec")))
  }

  /** HYCHAN with two mapped channel elements and one unmapped; TIMDEP with
    * 40 cells in each of 3 blocks, of which 2 are flood-plain stations. */
  private def writeReports(dir: String): Unit = {
    val hychan = new StringBuilder(" FLO-2D CHANNEL HYDROGRAPHS\n")
    Seq(250, 369, 999).foreach { el =>
      hychan ++= s"     CHANNEL HYDROGRAPH FOR ELEMENT NO:    $el\n"
      hychan ++= "   TIME      ELEV     DEPTH   VELOC   DISCHARGE\n"
      (1 to 3).foreach(h => hychan ++= s"   $h.00    ${el / 10 + h}.25    0.00   0.00   1.00\n")
    }
    val timdep = new StringBuilder
    (1 to 3).foreach { h =>
      timdep ++= s"   $h.00\n"
      (1 to 40).foreach(c => timdep ++= s"    $c   0.00   0.00   0.00   0.00   $c.$h\n")
    }
    Files.writeString(Paths.get(s"$dir/HYCHAN.OUT"), hychan)
    Files.writeString(Paths.get(s"$dir/TIMDEP.OUT"), timdep)
    Files.writeString(Paths.get(s"$dir/chan_map.json"),
      """{"250": "Hanwella", "369": "Glencourse"}""")
    Files.writeString(Paths.get(s"$dir/fp_map.json"), """{"5": "fp_a", "17": "fp_b"}""")
  }

  private val allStations = Seq("250_Hanwella", "369_Glencourse", "5_fp_a", "17_fp_b")

  private def extractArgs(dir: String): Map[String, String] = Map(
    "hychan" -> s"$dir/HYCHAN.OUT", "base" -> "2024-01-01 00:00:00",
    "cellmap" -> s"$dir/chan_map.json", "timdep" -> s"$dir/TIMDEP.OUT",
    "floodmap" -> s"$dir/fp_map.json", "fgt" -> "2024-01-01 06:00:00",
    "m" -> model, "url" -> url, "table" -> "data", "run-table" -> "run",
    "station-type" -> model)

  private def cachedEntries: Int = org.apache.spark.sql.CacheProbe.entries(spark)

  /** Runs `body` and asserts it left the session cache and the persisted
    * RDDs as it found them. The parsers' local checkpoints are lineage cuts
    * that stay registered until the ContextCleaner collects their frames;
    * a GC lets the weakly held registry drop them. */
  private def assertReleases(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val rddsBefore = sc.getPersistentRDDs.keySet
    val cachedBefore = cachedEntries
    body
    def leaked = sc.getPersistentRDDs.keySet -- rddsBefore
    val deadline = System.currentTimeMillis() + 10000
    while (leaked.nonEmpty && System.currentTimeMillis() < deadline) {
      System.gc()
      Thread.sleep(100)
    }
    assertIsolated(cachedEntries == cachedBefore,
      s"the session cache grew from $cachedBefore to $cachedEntries entries")
    assertIsolated(leaked.isEmpty,
      s"persisted RDDs left behind: ${leaked.map(id => sc.getPersistentRDDs(id))}")
  }

  test("an extraction upserts and registers every station and leaves no cache behind") {
    val dir = tmp("extractforecast")
    writeReports(dir)
    resetStore(allStations)
    assertReleases(ExtractForecast.run(spark, extractArgs(dir)))
    // 4 stations × 3 hours; element 999 is not in the channel map
    assert(count("SELECT COUNT(*) FROM data") === 12L)
    assert(count("SELECT COUNT(*) FROM run WHERE station_id IS NOT NULL") === 4L)
    assert(count("SELECT COUNT(*) FROM data WHERE value = -999") === 0L)
  }

  test("an unregistered station fails the extraction and still releases the batch") {
    val dir = tmp("extractforecast")
    writeReports(dir)
    resetStore(allStations.filterNot(_ == "17_fp_b"))
    assertReleases {
      val e = intercept[IllegalArgumentException] {
        ExtractForecast.run(spark, extractArgs(dir))
      }
      assert(e.getMessage.contains("no registered output station: 17"), e.getMessage)
    }
    assert(count("SELECT COUNT(*) FROM run") === 0L)
  }

  private def templateFiles: Set[String] =
    Using.resource(Files.list(Paths.get(System.getProperty("java.io.tmpdir")))) {
      _.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("template") && n.endsWith(".tar.gz")).toSet
    }

  /** Open descriptors of this JVM that point at `path` (Linux /proc). */
  private def openHandles(path: String): Int = {
    val target = Paths.get(path).toRealPath()
    Using.resource(Files.list(Paths.get("/proc/self/fd"))) {
      _.iterator().asScala.count(fd => Try(Files.readSymbolicLink(fd)).toOption.contains(target))
    }
  }

  test("--archive-dir/--archive-list leave no temp archive and no open handle") {
    assume(Files.isDirectory(Paths.get("/proc/self/fd")), "needs /proc/self/fd")
    val dir = tmp("extractarchive")
    writeReports(dir)
    resetStore(allStations)
    val decks = tmp("extractdecks")
    Files.writeString(Paths.get(s"$decks/RAIN.DAT"), "R 0.0\n")
    Files.writeString(Paths.get(s"$decks/CHAN.DAT"), "C 0.01\n")
    Files.writeString(Paths.get(s"$dir/archive.txt"), "RAIN.DAT\n\n CHAN.DAT \n")
    val templatesBefore = templateFiles
    ExtractForecast.run(spark, extractArgs(dir) ++ Map(
      "archive-dir" -> decks, "archive-list" -> s"$dir/archive.txt",
      "meta-table" -> "run_metadata"))
    assert(templateFiles -- templatesBefore === Set.empty[String])
    assert(openHandles(s"$dir/archive.txt") === 0)
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery("SELECT template FROM run_metadata")
      assert(rs.next())
      val blob = rs.getBytes(1)
      assert(blob.length > 2 && blob(0) == 0x1f.toByte && blob(1) == 0x8b.toByte,
        "the stored template must be the gzip archive")
    } finally conn.close()
  }

  test("CliArgs.readLines closes the file it reads") {
    assume(Files.isDirectory(Paths.get("/proc/self/fd")), "needs /proc/self/fd")
    val p = s"${tmp("readlines")}/list.txt"
    Files.writeString(Paths.get(p), "RAIN.DAT\r\n\nCHAN.DAT")
    assert(CliArgs.readLines(p) === Seq("RAIN.DAT", "", "CHAN.DAT"))
    // checked at once: a handle left open would otherwise only close when
    // a GC happens to collect its stream
    assert(openHandles(p) === 0)
  }

  test("GenChan reads --head and --tail into the deck and leaves them closed") {
    assume(Files.isDirectory(Paths.get("/proc/self/fd")), "needs /proc/self/fd")
    val dir = tmp("genchan")
    Files.writeString(Paths.get(s"$dir/body.csv"),
      "pair_idx,up,up_default,down,down_default\n0,250,1.5,369,2.5\n1,369,2.0,412,3.0\n")
    Files.writeString(Paths.get(s"$dir/cond.csv"),
      "grid_id,up,down,wl_id,wl_id_dwn\nflo2d_150_v2_250_369,250,369,wl_0,wl_1\n")
    Files.writeString(Paths.get(s"$dir/head.txt"), "0 0 0 0\nC 0.010 0.5\n")
    Files.writeString(Paths.get(s"$dir/tail.txt"), "S 1 100\nE\n")
    Seq(("wl_0", Timestamp.valueOf("2024-01-01 00:30:00"), 1.25),
      ("wl_1", Timestamp.valueOf("2024-01-01 00:30:00"), 2.5))
      .toDF("id", "time", "value").write.parquet(s"$dir/obs.parquet")
    GenChan.run(spark, Map("body" -> s"$dir/body.csv", "conditions" -> s"$dir/cond.csv",
      "obs" -> s"$dir/obs.parquet", "head" -> s"$dir/head.txt", "tail" -> s"$dir/tail.txt",
      "s" -> "2024-01-01 00:00:00", "e" -> "2024-01-01 06:00:00", "m" -> model,
      "d" -> dir))
    val deck = Files.readAllLines(Paths.get(s"$dir/CHAN.DAT")).asScala.toSeq
    assert(deck.size === 2 + 2 * 2 + 2)
    assert(deck.take(2) === Seq("0 0 0 0", "C 0.010 0.5") && deck.takeRight(2) === Seq("S 1 100", "E"))
    assert(openHandles(s"$dir/head.txt") === 0 && openHandles(s"$dir/tail.txt") === 0)
  }
}
