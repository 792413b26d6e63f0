package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.scalatest.funsuite.AnyFunSuite

import graft.cli.{GraftConfig, ReloadSpec, TableOpts, Warehouse}
import graft.warehouse.DuckDbBackend

/** The reference's e2e pytest shapes (test_postgres.py:88-187) against a
  * REAL warehouse engine: the in-process DuckDB backend
  * (duckdb_backend.py), not Derby. Proves count parity for
  * extract/load/reload/sync, warehouse-side watermarks, cell-level
  * `INSERT OR REPLACE` upserts, and the no-PK reload-only degraded path —
  * through the CLI controller's actual chunk plumbing (gzip CSV + schema
  * capture files), exactly as a user would run `graft sync --backend
  * duckdb`.
  *
  * The DuckDB JDBC driver lives on the TEST classpath only (build.sbt
  * pulls it from the local cache when present); the whole suite
  * self-cancels if the driver is absent so `sbt test` stays green on a
  * driverless classpath.
  */
class DuckDbSyncE2ESpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val driverPresent =
    try { Class.forName("org.duckdb.DuckDBDriver"); true }
    catch { case _: ClassNotFoundException => false }

  private val sourceDir = TestSpark.tmpDir("ducksrc")
  private val dataDir = TestSpark.tmpDir("duckdata")
  private val warehouseDir = TestSpark.tmpDir("duckwh")
  private val dbPath = s"$warehouseDir/duck.db"

  private def cfg() = GraftConfig(
    sourceDir, warehouseDir, dataDir, None,
    scala.collection.immutable.ListMap(
      "dusers" -> TableOpts(primaryKey = Some("id")),
      "dorders" -> TableOpts(primaryKey = Some("id"),
        lastModified = Some("order_updated")),
      "dparks" -> TableOpts(reload = ReloadSpec.Always),
      "devents" -> TableOpts(primaryKey = Some("site,seq"),
        lastModified = Some("updated")),
      "dkeys" -> TableOpts(primaryKey = Some("code")),
      "dver" -> TableOpts(primaryKey = Some("id"),
        lastModified = Some("updated")),
      "dpair" -> TableOpts(primaryKey = Some("id"),
        lastModified = Some("updated")),
      "dcomp" -> TableOpts(primaryKey = Some("site,seq"))),
    duckdbPath = Some(dbPath))

  private def wh() = new Warehouse(spark, cfg())
  private def duck() = new DuckDbBackend(dbPath)

  private def writeSource(name: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(s"$sourceDir/$name.parquet")

  private def ts(s: String) = Timestamp.valueOf(s)

  private def users(n: Int, from: Int = 1): DataFrame =
    (from until from + n).map(i =>
      (i.toLong, s"user$i", s"u$i@example.com", 20 + i % 50))
      .toDF("id", "name", "email", "age")

  private def orders(rows: Seq[(Long, Double, String)]): DataFrame =
    rows.map { case (id, amount, upd) => (id, amount, ts(upd)) }
      .toDF("id", "order_amount", "order_updated")

  private val baseOrders: Seq[(Long, Double, String)] =
    (1L to 30L).map(i =>
      (i, 10.0 * i, s"2022-11-0${1 + i % 9} 08:00:00.00000${i % 10}"))

  test("d1 basic sync bootstraps all strategies to count parity in DuckDB") {
    assume(driverPresent, "DuckDB JDBC driver not on test classpath")
    writeSource("dusers", users(20))
    writeSource("dorders", orders(baseOrders))
    writeSource("dparks", Seq(("Golden Gate", 1017), ("Central", 843))
      .toDF("park_name", "park_size"))
    val w = wh()
    val d = duck()
    assert(w.syncDuck("dusers", d) == "bootstrap")
    assert(w.syncDuck("dorders", d) == "bootstrap")
    assert(w.syncDuck("dparks", d) == "reload")
    assert(d.count("dusers") == 20L)
    assert(d.count("dorders") == 30L)
    assert(d.count("dparks") == 2L)
    assert(d.listTables() == Seq("dorders", "dparks", "dusers"))
  }

  test("d2 incremental pk sync appends ONLY rows above the warehouse-side " +
    "watermark; a no-news resync is a noop") {
    assume(driverPresent, "DuckDB JDBC driver not on test classpath")
    val w = wh()
    val d = duck()
    assert(w.syncDuck("dusers", d) == "noop", "nothing new after d1")
    writeSource("dusers", users(22)) // ids 1..22: 2 new past the max(id)=20
    assert(w.syncDuck("dusers", d) == "append")
    assert(d.count("dusers") == 22L)
    // the delta extract must carry ONLY the 2 new rows (watermark filter
    // pushed to the source), visible in the archived chunk row count via
    // the warehouse count delta asserted above; re-running is a noop again
    assert(w.syncDuck("dusers", d) == "noop")
    assert(d.count("dusers") == 22L)
  }

  test("d3 last-modified sync upserts changed CELLS via INSERT OR REPLACE " +
    "and appends the new row (reference test_last_modified_sync)") {
    assume(driverPresent, "DuckDB JDBC driver not on test classpath")
    val w = wh()
    val d = duck()
    // mutate rows 18/19 (amount := id, bumped order_updated) + 1 new row,
    // exactly the reference's update shape
    val mutated = baseOrders.map {
      case (id, _, _) if id == 18L || id == 19L =>
        (id, id.toDouble, "2022-12-01 09:00:00.000000")
      case other => other
    } :+ (31L, 9999.9, "2022-12-01 09:00:00.000000")
    writeSource("dorders", orders(mutated))
    assert(w.syncDuck("dorders", d) == "merge")
    assert(d.count("dorders") == 31L, "30 + the inserted row")
    val byId = d.selectAll("dorders", "id")
      .map(r => r.head.asInstanceOf[java.lang.Number].longValue() ->
        r(1).asInstanceOf[java.lang.Number].doubleValue()).toMap
    assert(byId(18L) == 18.0 && byId(19L) == 19.0,
      "updated cells replaced in place, not duplicated")
    assert(byId(17L) == 170.0, "untouched rows keep their values")
    assert(byId(31L) == 9999.9, "new row landed")
  }

  test("d4 reload drops and fully reloads; load replays pending chunks " +
    "with schema pinned from the capture file") {
    assume(driverPresent, "DuckDB JDBC driver not on test classpath")
    val w = wh()
    val d = duck()
    assert(w.reloadDuck("dusers", d) == 22L, "reload keeps count parity")
    // two-phase extract → load, warehouse table dropped in between
    // (reference test_extract_load drops via the backend, then loads)
    w.extract("dorders")
    d.dropTable("dorders")
    assert(w.loadDuck("dorders", d) == 31L)
    // replaying load with zero pending chunks is a no-op, not a wipe
    assert(w.loadDuck("dorders", d) == 31L)
    // a REPEATED extract+load replaces, matching the parquet path —
    // pre-fix the second COPY appended onto the existing rows (2× count
    // on a no-PK table, duplicate-key abort on a keyed one)
    w.extract("dorders")
    assert(w.loadDuck("dorders", d) == 31L,
      "full extract+load is idempotent, not additive")
  }

  test("d4b load --mode append COPYs into the existing table (the " +
    "reference's drop_table=False default, pgwarehouse.py:176-184) " +
    "instead of replacing it") {
    assume(driverPresent, "DuckDB JDBC driver not on test classpath")
    val w = wh()
    val d = duck()
    assert(d.count("dparks") == 2L, "d1 left the 2-row no-PK table live")
    w.extract("dparks")
    assert(w.loadDuck("dparks", d, append = true) == 4L,
      "append mode adds the extracted chunks on top of the existing rows")
    // the default stays full-replace: the same extract becomes the table
    w.extract("dparks")
    assert(w.loadDuck("dparks", d) == 2L,
      "default mode replaces, restoring count parity with the source")
  }

  test("d5 composite-key upsert round-trips through a table-level PRIMARY " +
    "KEY (an upgrade the reference rejects, duckdb_backend.py:143-144)") {
    assume(driverPresent, "DuckDB JDBC driver not on test classpath")
    val w = wh()
    val d = duck()
    def ev(rows: Seq[(String, Long, Double, String)]): DataFrame =
      rows.map { case (s, q, v, u) => (s, q, v, ts(u)) }
        .toDF("site", "seq", "value", "updated")
    writeSource("devents", ev(Seq(
      ("a", 1L, 1.0, "2023-01-01 00:00:00.000000"),
      ("a", 2L, 2.0, "2023-01-01 00:00:00.000000"),
      ("b", 1L, 3.0, "2023-01-01 00:00:00.000000"))))
    assert(w.syncDuck("devents", d) == "bootstrap")
    assert(d.count("devents") == 3L)
    writeSource("devents", ev(Seq(
      ("a", 1L, 10.0, "2023-02-01 00:00:00.000000"), // updated cell
      ("a", 2L, 2.0, "2023-01-01 00:00:00.000000"),
      ("b", 1L, 3.0, "2023-01-01 00:00:00.000000"),
      ("b", 2L, 4.0, "2023-02-01 00:00:00.000000")))) // new key
    assert(w.syncDuck("devents", d) == "merge")
    assert(d.count("devents") == 4L)
    val cells = d.selectAll("devents", "site").map(r =>
      (r.head.toString, r(1).asInstanceOf[java.lang.Number].longValue()) ->
        r(2).asInstanceOf[java.lang.Number].doubleValue()).toMap
    assert(cells(("a", 1L)) == 10.0, "composite-keyed cell replaced")
    assert(cells(("b", 2L)) == 4.0, "new composite key inserted")
  }

  test("d6 catalog surface: exists/count/drop against the live engine") {
    assume(driverPresent, "DuckDB JDBC driver not on test classpath")
    val d = duck()
    assert(d.tableExists("dusers") && !d.tableExists("no_such"))
    intercept[IllegalArgumentException] { d.count("bad-name; drop") }
    d.dropTable("dparks")
    assert(!d.tableExists("dparks"))
  }

  test("d8 string-PK append-only sync: the warehouse-side max() watermark " +
       "works on VARCHAR native ordering (the reference calls non-numeric " +
       "PKs fragile, README.md:258-260)") {
    assume(driverPresent, "DuckDB JDBC driver not on test classpath")
    val w = wh()
    val d = duck()
    def keys(codes: Seq[String]): DataFrame =
      codes.map(c => (c, s"payload-$c")).toDF("code", "payload")
    writeSource("dkeys", keys(Seq("k001", "k002", "k007")))
    assert(w.syncDuck("dkeys", d) == "bootstrap")
    assert(d.count("dkeys") == 3L)
    assert(d.maxScalar("dkeys", "code").contains("k007"),
      "VARCHAR watermark reads back from the live warehouse")
    // two rows past the string watermark, one below it: strict '>' on
    // native string ordering appends only the two new ones (the below-
    // watermark insert is the documented fragility both tools share)
    writeSource("dkeys", keys(Seq("k001", "k002", "k007", "k010", "k011",
      "k005")))
    assert(w.syncDuck("dkeys", d) == "append")
    assert(d.count("dkeys") == 5L,
      "only codes > 'k007' landed; k005 is below the watermark by design")
    val codes = d.selectAll("dkeys", "code").map(_.head.toString)
    assert(codes == Seq("k001", "k002", "k007", "k010", "k011"))
    assert(w.syncDuck("dkeys", d) == "noop", "re-sync finds nothing new")
  }

  test("d9 keyed watch --backend duckdb lands via INSERT OR REPLACE: an " +
       "updated key replaces in place in the live table") {
    assume(driverPresent, "DuckDB JDBC driver not on test classpath")
    val landing = new java.io.File(s"$sourceDir/dkfeed.parquet")
    assert(landing.mkdirs() || landing.isDirectory)
    def land(name: String, rows: Seq[(Long, String, String)]): Unit = {
      val df = rows.map { case (id, pl, u) => (id, pl, ts(u)) }
        .toDF("id", "payload", "updated_at")
      val stage = TestSpark.tmpDir(s"dkwatch_$name")
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(landing, s"$name.parquet").toPath)
    }
    val w = new Warehouse(spark, cfg().copy(tables =
      scala.collection.immutable.ListMap(
        "dkfeed" -> TableOpts(primaryKey = Some("id"),
          lastModified = Some("updated_at")))))
    val d = duck()
    land("b1", Seq((1L, "v1", "2024-01-01 00:00:00"),
      (2L, "w1", "2024-01-01 00:00:00")))
    assert(w.watchDuck("dkfeed", d) == 2L)
    land("b2", Seq((1L, "v2", "2024-02-01 00:00:00"),
      (3L, "x1", "2024-02-01 00:00:00")))
    assert(w.watchDuck("dkfeed", d) == 2L)
    assert(d.count("dkfeed") == 3L, "PK conflict replaced, not duplicated")
    val cells = d.selectAll("dkfeed", "id")
      .map(r => r.head.asInstanceOf[java.lang.Number].longValue ->
        r(1).toString).toMap
    assert(cells == Map(1L -> "v2", 2L -> "w1", 3L -> "x1"), s"got $cells")
  }

  test("d7 watch --backend duckdb: two invocations over a growing landing " +
       "zone yield exactly-once counts in the live table") {
    assume(driverPresent, "DuckDB JDBC driver not on test classpath")
    // a directory-source landing zone, as in the parquet watch (t15)
    val landing = new java.io.File(s"$sourceDir/dfeed.parquet")
    assert(landing.mkdirs() || landing.isDirectory)
    def land(name: String, df: DataFrame): Unit = {
      val stage = TestSpark.tmpDir(s"duckwatch_$name")
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(landing, s"$name.parquet").toPath)
    }
    val w = wh()
    val d = duck()
    land("w1", users(5))
    assert(w.watchDuck("dfeed", d) == 5L, "first drain lands the first file")
    assert(d.count("dfeed") == 5L)
    assert(w.watchDuck("dfeed", d) == 0L,
      "no new files → checkpoint drains nothing, live count unchanged")
    assert(d.count("dfeed") == 5L)
    land("w2", users(3, from = 200))
    assert(w.watchDuck("dfeed", d) == 3L,
      "second drain lands ONLY the new file")
    assert(d.count("dfeed") == 8L, "live table holds the exactly-once union")
    // a replayed batch id is a committed no-op, not a double append
    val claimed = d.selectAll("_graft_watch_log", "batch_id")
      .collect { case Seq("dfeed", id: java.lang.Long) => id.longValue }
    assert(claimed.nonEmpty, "watch batches were logged")
    val chunks = TestSpark.tmpDir("duckwatch_replay")
    graft.io.Tables.writeCsvChunks(
      spark.read.parquet(s"$sourceDir/dfeed.parquet/w2.parquet"), chunks)
    assert(!d.appendBatchIdempotent("dfeed", claimed.max, chunks),
      "an already-claimed batch id is skipped whole")
    assert(d.count("dfeed") == 8L, "replay added no rows")
  }

  // ── one last-writer rule on both warehouses ───────────────────────────
  // Source tables below are directories of single-file parquet parts, one
  // part per landed transaction, with every version of a key kept — the
  // shape a CDC feed (and the benchmark's generator) produces.

  private def versions(rows: Seq[(Long, String, String)]): DataFrame =
    rows.map { case (id, payload, u) => (id, payload, ts(u)) }
      .toDF("id", "payload", "updated")

  /** Land `df` as ONE parquet file named `part` in the table's source dir. */
  private def landPart(table: String, part: String, df: DataFrame): Unit = {
    val dir = new java.io.File(s"$sourceDir/$table.parquet")
    assert(dir.mkdirs() || dir.isDirectory)
    val stage = TestSpark.tmpDir(s"dpart_${table}_$part")
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(stage)
    val file = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(file.toPath,
      new java.io.File(dir, s"$part.parquet").toPath)
  }

  /** A cell as both engines can agree on it: numbers by value, naive
    * timestamps as UTC instants (the session time zone is UTC). */
  private def cell(v: Any): Any = v match {
    case n: java.lang.Number => BigDecimal(n.toString)
    case t: java.sql.Timestamp => t.toInstant
    case t: java.time.LocalDateTime => t.toInstant(java.time.ZoneOffset.UTC)
    case other => other
  }

  /** The DuckDB table equals the parquet warehouse table, cell for cell. */
  private def assertSameCells(table: String, d: DuckDbBackend): Unit = {
    val parquet = spark.read.parquet(s"$warehouseDir/$table.parquet")
      .orderBy("id").collect().map(_.toSeq.map(cell)).toSeq
    // DuckDB hands naive TIMESTAMPs back as wall-clock Timestamps in the
    // JVM zone; read them as UTC wall-clock like the parquet side
    val duckRows = d.selectAll(table, "id").map(_.map {
      case t: java.sql.Timestamp => cell(t.toLocalDateTime)
      case other => cell(other)
    })
    assert(duckRows == parquet, s"duck $duckRows != parquet $parquet")
  }

  private def payloadOf(d: DuckDbBackend, table: String, id: Long): String =
    d.selectAll(table, "id")
      .find(_.head.asInstanceOf[java.lang.Number].longValue == id)
      .map(_(1).toString).get

  test("d10 a key that changes on two consecutive upsert ticks lands its " +
       "newest version in DuckDB, cell for cell with the parquet warehouse") {
    assume(driverPresent, "DuckDB JDBC driver not on test classpath")
    val w = wh()
    val d = duck()
    def tick(expect: String): Unit = {
      assert(w.syncDuck("dver", d) == expect)
      w.sync("dver")
      assertSameCells("dver", d)
    }
    landPart("dver", "base", versions((1L to 30L).map(i =>
      (i, s"v0-$i", f"2024-01-01 00:00:$i%02d"))))
    tick("bootstrap")
    // tick 1: key 5 changes (a one-row transaction)
    landPart("dver", "t1", versions(Seq((5L, "v1", "2024-01-02 00:00:00"))))
    tick("merge")
    // tick 2: key 5 changes again beside ten new keys. The `>=` watermark
    // re-extracts tick 1's boundary row, so the delta holds both versions
    // of key 5 in different source files
    landPart("dver", "t2", versions((5L, "v2", "2024-01-03 00:00:00") +:
      (31L to 40L).map(i => (i, s"v0-$i", "2024-01-03 00:00:00"))))
    tick("merge")
    assert(payloadOf(d, "dver", 5L) == "v2", "the newest version wins")
    assert(d.count("dver") == 40L)
  }

  test("d11 one upsert delta holding two versions of each changed key " +
       "lands the newer ones") {
    assume(driverPresent, "DuckDB JDBC driver not on test classpath")
    val w = wh()
    val d = duck()
    landPart("dpair", "base", versions((1L to 30L).map(i =>
      (i, s"v0-$i", f"2024-01-01 00:00:$i%02d"))))
    assert(w.syncDuck("dpair", d) == "bootstrap")
    w.sync("dpair")
    // one transaction file holds keys 1..10 twice each, plus new keys
    landPart("dpair", "t1", versions(
      (1L to 10L).map(i => (i, s"new-$i", "2024-01-03 00:00:00")) ++
        (31L to 33L).map(i => (i, s"n$i", "2024-01-02 00:00:00")) ++
        (1L to 10L).map(i => (i, s"old-$i", "2024-01-02 00:00:00"))))
    assert(w.syncDuck("dpair", d) == "merge")
    w.sync("dpair")
    assertSameCells("dpair", d)
    assert((1L to 10L).forall(i => payloadOf(d, "dpair", i) == s"new-$i"))
    assert(d.count("dpair") == 33L)
  }

  test("d12 keyed watch --backend duckdb: two versions of a key landed " +
       "before one drain resolve to the last writer") {
    assume(driverPresent, "DuckDB JDBC driver not on test classpath")
    val w = new Warehouse(spark, cfg().copy(tables =
      scala.collection.immutable.ListMap(
        "dkfeed2" -> TableOpts(primaryKey = Some("id"),
          lastModified = Some("updated")))))
    val d = duck()
    landPart("dkfeed2", "b1", versions(Seq(
      (1L, "v1", "2024-01-01 00:00:00"), (2L, "w1", "2024-01-01 00:00:00"))))
    assert(w.watchDuck("dkfeed2", d) == 2L)
    landPart("dkfeed2", "b2", versions(Seq(
      (1L, "v3", "2024-01-03 00:00:00"),
      (4L, "x4", "2024-01-02 00:00:00"),
      (5L, "x5", "2024-01-02 00:00:00"),
      (6L, "x6", "2024-01-02 00:00:00"),
      (1L, "v2", "2024-01-02 00:00:00"))))
    assert(w.watchDuck("dkfeed2", d) == 5L)
    assert(d.count("dkfeed2") == 5L)
    assert(payloadOf(d, "dkfeed2", 1L) == "v3", "last writer by `updated`")
  }

  test("d13 composite-key append-only sync is rejected on DuckDB before " +
       "anything lands (its anti-join delta would read the table back)") {
    assume(driverPresent, "DuckDB JDBC driver not on test classpath")
    val w = wh()
    val d = duck()
    val rows = Seq(("a", 1L), ("a", 2L), ("b", 1L))
    writeSource("dcomp", rows.toDF("site", "seq"))
    assert(w.syncDuck("dcomp", d) == "bootstrap")
    writeSource("dcomp", (rows :+ (("b", 2L))).toDF("site", "seq"))
    val e = intercept[IllegalArgumentException](w.syncDuck("dcomp", d))
    assert(e.getMessage.contains("single-column pk"), e.getMessage)
    assert(d.count("dcomp") == 3L)
  }
}
