package graft

import java.io.File
import java.sql.Timestamp

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.scalatest.funsuite.AnyFunSuite

import graft.cli.{GraftConfig, TableOpts, Warehouse}
import graft.warehouse.DuckDbBackend

/** One plan, landed on both warehouses: `sync` bootstraps an upsert table
  * with one row per key, and `watch` / `watch --backend duckdb` drain one
  * landing zone to the same table, cell for cell, for each table kind —
  * unkeyed (raw append), append-only keyed (a landed key keeps its row)
  * and upsert (last writer per key) — also when Spark replays a batch.
  */
class WatchLandingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val driverPresent =
    try { Class.forName("org.duckdb.DuckDBDriver"); true }
    catch { case _: ClassNotFoundException => false }

  private def ts(s: String) = Timestamp.valueOf(s)

  private def rows(rs: Seq[(Long, String, String)]): DataFrame =
    rs.map { case (id, payload, u) => (id, payload, ts(u)) }
      .toDF("id", "payload", "updated")

  /** A source/warehouse pair with one table of each kind, all three over
    * the same columns. */
  private final class Fixture(tag: String) {
    val src: String = TestSpark.tmpDir(s"wl_src_$tag")
    val wh: String = TestSpark.tmpDir(s"wl_wh_$tag")
    val data: String = TestSpark.tmpDir(s"wl_data_$tag")
    val w = new Warehouse(spark, GraftConfig(src, wh, data, None, ListMap(
      "raw" -> TableOpts(),
      "app" -> TableOpts(primaryKey = Some("id")),
      "ups" -> TableOpts(primaryKey = Some("id"), lastModified = Some("updated"))),
      duckdbPath = Some(s"$wh/duck.db")))
    val duck = new DuckDbBackend(s"$wh/duck.db")
    val tables = Seq("raw", "app", "ups")

    /** Land `df` as ONE parquet file named `part` in the table's source dir. */
    def landPart(table: String, part: String, df: DataFrame): Unit = {
      val dir = new File(s"$src/$table.parquet")
      assert(dir.mkdirs() || dir.isDirectory)
      val stage = TestSpark.tmpDir(s"wl_stage_${tag}_${table}_$part")
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(stage)
      val file = new File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(file.toPath, new File(dir, s"$part.parquet").toPath)
    }

    def parquetRows(table: String): Seq[Seq[Any]] =
      spark.read.parquet(s"$wh/$table.parquet").collect()
        .map(_.toSeq.map(cell)).toSeq.sortBy(_.mkString("|"))

    // DuckDB hands naive TIMESTAMPs back as wall-clock Timestamps in the
    // JVM zone; read them as UTC wall-clock like the parquet side
    def duckRows(table: String): Seq[Seq[Any]] =
      duck.selectAll(table, "id").map(_.map {
        case t: Timestamp => cell(t.toLocalDateTime)
        case other => cell(other)
      }).sortBy(_.mkString("|"))
  }

  /** A cell as both engines can agree on it: numbers by value, naive
    * timestamps as UTC instants (the session time zone is UTC). */
  private def cell(v: Any): Any = v match {
    case n: java.lang.Number => BigDecimal(n.toString)
    case t: Timestamp => t.toInstant
    case t: java.time.LocalDateTime => t.toInstant(java.time.ZoneOffset.UTC)
    case other => other
  }

  private def row(id: Long, payload: String, u: String): Seq[Any] =
    Seq(cell(id), payload, cell(ts(u)))

  // ── an upsert bootstrap lands one row per key ─────────────────────────

  /** An upsert source that keeps two versions of keys 2 and 3: a base
    * file and a later transaction file. */
  private def versionedSource(f: Fixture): Unit = {
    f.landPart("ups", "base", rows((1L to 4L).map(i => (i, s"v0-$i", "2024-01-01 00:00:00"))))
    f.landPart("ups", "t1", rows(Seq((2L, "v1-2", "2024-01-02 00:00:00"),
      (3L, "v1-3", "2024-01-02 00:00:00"))))
  }

  /** One row per key: the last writer. */
  private val bootstrapped: Seq[Seq[Any]] = Seq(
    row(1L, "v0-1", "2024-01-01 00:00:00"), row(2L, "v1-2", "2024-01-02 00:00:00"),
    row(3L, "v1-3", "2024-01-02 00:00:00"), row(4L, "v0-4", "2024-01-01 00:00:00"))

  test("an upsert bootstrap from a source holding two versions of a key " +
    "lands the last writer per key in the parquet warehouse") {
    val f = new Fixture("boot")
    versionedSource(f)
    assert(f.w.sync("ups") == "bootstrap")
    assert(f.parquetRows("ups") == bootstrapped)
  }

  test("an upsert bootstrap from a source holding two versions of a key " +
    "lands the last writer per key in DuckDB") {
    assume(driverPresent, "DuckDB JDBC driver not on test classpath")
    val f = new Fixture("bootduck")
    versionedSource(f)
    assert(f.w.syncDuck("ups", f.duck) == "bootstrap")
    assert(f.duckRows("ups") == bootstrapped)
  }

  // ── watch and watchDuck drain one landing zone alike ──────────────────

  /** Three files, each drained on its own by both `watch` paths. File 2
    * re-delivers key 2 and holds key 4 twice; file 3 re-delivers key 1. */
  private val files: Seq[Seq[(Long, String, String)]] = Seq(
    Seq((1L, "a1", "2024-01-01 00:00:00"), (2L, "a2", "2024-01-01 00:00:00"),
      (3L, "a3", "2024-01-01 00:00:00")),
    Seq((2L, "b2", "2024-01-02 00:00:00"), (4L, "b4y", "2024-01-03 00:00:00"),
      (5L, "b5", "2024-01-02 00:00:00"), (4L, "b4x", "2024-01-02 00:00:00")),
    Seq((1L, "c1", "2024-01-04 00:00:00"), (6L, "c6", "2024-01-04 00:00:00")))

  /** The fixture after each file was landed and drained by both paths. */
  private lazy val drained: Fixture = {
    val f = new Fixture("watch")
    files.zipWithIndex.foreach { case (file, i) =>
      f.tables.foreach { t =>
        f.landPart(t, s"f$i", rows(file))
        assert(f.w.watch(t) == file.size, s"$t file $i via watch")
        if (driverPresent)
          assert(f.w.watchDuck(t, f.duck) == file.size, s"$t file $i via watchDuck")
      }
    }
    f
  }

  test("watch and watchDuck drain one landing zone to equal warehouses: " +
    "unkeyed appends all, append-only keeps a landed key, upsert keeps " +
    "the last writer") {
    val f = drained
    def expect(rs: (Long, String, String)*) =
      rs.map { case (id, p, u) => row(id, p, u) }.sortBy(_.mkString("|"))
    val want = Map(
      "raw" -> expect(files.flatten: _*),
      // a re-delivered key keeps its landed row; of key 4's two rows in
      // one batch the greatest by (id, payload, updated) lands
      "app" -> expect((1L, "a1", "2024-01-01 00:00:00"), (2L, "a2", "2024-01-01 00:00:00"),
        (3L, "a3", "2024-01-01 00:00:00"), (4L, "b4y", "2024-01-03 00:00:00"),
        (5L, "b5", "2024-01-02 00:00:00"), (6L, "c6", "2024-01-04 00:00:00")),
      "ups" -> expect((1L, "c1", "2024-01-04 00:00:00"), (2L, "b2", "2024-01-02 00:00:00"),
        (3L, "a3", "2024-01-01 00:00:00"), (4L, "b4y", "2024-01-03 00:00:00"),
        (5L, "b5", "2024-01-02 00:00:00"), (6L, "c6", "2024-01-04 00:00:00")))
    f.tables.foreach { t =>
      assert(f.parquetRows(t) == want(t), s"parquet $t")
      if (driverPresent) assert(f.duckRows(t) == f.parquetRows(t), s"duck $t")
    }
  }

  test("a late file carrying an older version of a landed key leaves the " +
    "newer row on both warehouses; its other rows still land") {
    val f = new Fixture("late")
    Seq(
      Seq((1L, "new", "2024-02-01 00:00:00"), (2L, "two", "2024-01-01 00:00:00")),
      Seq((1L, "old", "2024-01-01 00:00:00"), (2L, "two-b", "2024-01-01 00:00:00"),
        (3L, "three", "2024-01-01 00:00:00"))
    ).zipWithIndex.foreach { case (file, i) =>
      f.landPart("ups", s"f$i", rows(file))
      assert(f.w.watch("ups") == file.size, s"file $i via watch")
      if (driverPresent)
        assert(f.w.watchDuck("ups", f.duck) == file.size, s"file $i via watchDuck")
    }
    // key 2 ties on its last-modified value: the later file's row lands
    val want = Seq(row(1L, "new", "2024-02-01 00:00:00"),
      row(2L, "two-b", "2024-01-01 00:00:00"), row(3L, "three", "2024-01-01 00:00:00"))
    assert(f.parquetRows("ups") == want)
    if (driverPresent) assert(f.duckRows("ups") == want)
  }

  test("a batch Spark replays (its commit deleted from the checkpoint) " +
    "leaves both warehouses unchanged") {
    val f = drained
    /** Delete the newest commit of a checkpoint, so the next drain replays
      * that batch id. */
    def uncommitLast(ckpt: String): Unit = {
      val commits = new File(s"$ckpt/commits")
      val last = commits.listFiles().map(_.getName).filter(_.forall(_.isDigit))
        .map(_.toLong).max
      assert(new File(commits, last.toString).delete())
      new File(commits, s".$last.crc").delete()
    }
    val before = f.tables.map(t => t -> f.parquetRows(t)).toMap
    val beforeDuck: Map[String, Seq[Seq[Any]]] =
      if (driverPresent) f.tables.map(t => t -> f.duckRows(t)).toMap else Map.empty
    f.tables.foreach { t =>
      uncommitLast(s"${f.data}/${t}_watch_ckpt")
      assert(f.w.watch(t) == files.last.size, s"$t: watch replays the last batch")
      assert(f.parquetRows(t) == before(t), s"parquet $t after replay")
      if (driverPresent) {
        uncommitLast(s"${f.data}/${t}_watch_duck_ckpt")
        assert(f.w.watchDuck(t, f.duck) == files.last.size,
          s"$t: watchDuck replays the last batch")
        assert(f.duckRows(t) == beforeDuck(t), s"duck $t after replay")
      }
    }
  }
}
