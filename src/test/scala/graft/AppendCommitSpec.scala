package graft

import java.io.File

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cli.{GraftConfig, TableOpts, Warehouse}

/** The parquet warehouse's append commit: an append-only sync writes only
  * the delta to `<table>.parquet.__append` and moves its part files into
  * the live directory. A crash at any boundary — staged but uncommitted,
  * committed but not moved, half moved — must settle, on the next command,
  * to the same warehouse a run with no crash gives; and every reader of
  * the live path settles it before reading.
  */
class AppendCommitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def users(n: Int, from: Int = 1): DataFrame =
    (from until from + n).map(i => (i.toLong, s"user$i", 20 + i % 50))
      .toDF("id", "name", "age")

  /** A fresh source/warehouse pair with one append-only table `ev`. */
  private final class Fixture(tag: String) {
    val srcDir: String = TestSpark.tmpDir(s"ac_src_$tag")
    val whDir: String = TestSpark.tmpDir(s"ac_wh_$tag")
    val w = new Warehouse(spark, GraftConfig(srcDir, whDir,
      TestSpark.tmpDir(s"ac_data_$tag"), None,
      ListMap("ev" -> TableOpts(primaryKey = Some("id")))))
    val live = new File(s"$whDir/ev.parquet")
    val stage = new File(s"$whDir/ev.parquet.__append")
    def addSource(df: DataFrame): Unit =
      df.write.mode(SaveMode.Append).parquet(s"$srcDir/ev.parquet")
    def rows: Seq[Row] =
      spark.read.parquet(live.toString).orderBy("id").collect().toSeq
    def dataFiles: Set[String] = live.listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
  }

  /** Bootstrap from 20 rows, then land 10 new source rows in 2 files. */
  private def bootstrapped(tag: String): Fixture = {
    val f = new Fixture(tag)
    f.addSource(users(20))
    assert(f.w.sync("ev") == "bootstrap")
    f.addSource(users(10, from = 21).repartition(2))
    f
  }

  /** The warehouse a crash-free append sync leaves. */
  private lazy val clean: Seq[Row] = {
    val f = bootstrapped("clean")
    assert(f.w.sync("ev") == "append")
    f.rows
  }

  /** What an append sync leaves when it dies after its stage write: the
    * delta written by the same Spark write, so `_SUCCESS` is present. */
  private def crashAfterStageWrite(f: Fixture): Seq[File] = {
    spark.read.parquet(s"${f.srcDir}/ev.parquet").where($"id" > 20)
      .repartition(2).write.mode("overwrite").parquet(f.stage.toString)
    assert(new File(f.stage, "_SUCCESS").exists(), "the job commit marks the stage")
    val parts = f.stage.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
    assert(parts.size == 2, "test setup: two part files to move")
    parts
  }

  private def assertSettled(f: Fixture): Unit = {
    assert(f.rows == clean, "same warehouse as the crash-free run")
    assert(f.rows.size == 30 && f.rows.map(_.getLong(0)).distinct.size == 30)
    assert(!f.stage.exists(), "no stage left behind")
  }

  test("an append sync writes only the delta: the table's files stay " +
    "untouched, and a zero-row delta adds no file") {
    val f = bootstrapped("delta")
    val before = f.live.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(x => x.getName -> x.lastModified()).toMap
    assert(f.w.sync("ev") == "append")
    val after = f.live.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(x => x.getName -> x.lastModified()).toMap
    assert(before.forall { case (n, t) => after.get(n).contains(t) },
      "every pre-existing file kept as it was")
    val added = after.keySet -- before.keySet
    assert(added.nonEmpty && added.forall { n =>
      spark.read.parquet(s"${f.live}/$n").count() > 0 }, "no empty file added")
    assert(spark.read.parquet(added.map(n => s"${f.live}/$n").toSeq: _*)
      .count() == 10, "the added files hold exactly the delta")
    assert(f.rows == clean)
    assert(!f.stage.exists())
    val files = f.dataFiles
    assert(f.w.sync("ev") == "append")
    assert(f.dataFiles == files, "zero-row delta: the table gains no file")
    assert(f.rows == clean)
  }

  test("crash with the stage written but not committed: the rerun drops " +
    "the stage and appends the delta once") {
    val f = bootstrapped("uncommitted")
    // a job commit cut short: no marker, and only the part file holding
    // the delta's top key made it out of the task attempt directories —
    // landing it would raise the watermark past the rows it lacks
    val (top, rest) = crashAfterStageWrite(f)
      .partition(p => spark.read.parquet(p.toString).where($"id" === 30).count() == 1)
    assert(top.size == 1 && rest.forall(_.delete()))
    assert(new File(f.stage, "_SUCCESS").delete())
    assert(f.w.sync("ev") == "append")
    assertSettled(f)
  }

  test("crash after the commit, before any move: the rerun completes the " +
    "append and finds no further delta") {
    val f = bootstrapped("committed")
    crashAfterStageWrite(f)
    val files = f.dataFiles
    assert(f.w.sync("ev") == "append")
    assertSettled(f)
    assert(f.dataFiles.size == files.size + 2, "the two staged files, nothing more")
  }

  test("crash halfway through the moves: the rerun moves the rest") {
    val f = bootstrapped("halfmoved")
    val parts = crashAfterStageWrite(f)
    assert(parts.head.renameTo(new File(f.live, parts.head.getName)))
    assert(f.w.sync("ev") == "append")
    assertSettled(f)
  }

  test("compact recovers a committed append before it reads the table") {
    val f = bootstrapped("compact")
    crashAfterStageWrite(f)
    val (_, after, rows) = f.w.compact("ev")
    assert(rows == 30, "the pending delta is part of the compacted table")
    assert(after == 1)
    assertSettled(f)
  }

  test("snapshotPublish recovers a committed append before it reads the table") {
    val f = bootstrapped("snapshot")
    crashAfterStageWrite(f)
    val v = f.w.snapshotPublish("ev")
    assert(f.w.snapshotRead("ev", Some(v)).count() == 30,
      "the snapshot holds the pending delta")
    assertSettled(f)
  }

  test("watch on an append-only keyed table lands each batch's new keys " +
    "through the append commit, leaving landed files untouched") {
    val f = new Fixture("watch")
    val landing = new File(s"${f.srcDir}/ev.parquet")
    assert(landing.mkdirs())
    def land(name: String, df: DataFrame): Unit = {
      val stage = TestSpark.tmpDir(s"ac_watch_$name")
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(stage)
      val part = new File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, new File(landing, s"$name.parquet").toPath)
    }
    land("b1", users(5))
    assert(f.w.watch("ev") == 5L)
    val first = f.live.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(x => x.getName -> x.lastModified()).toMap
    // keys 4 and 5 were landed already: only 6..8 are new
    land("b2", users(5, from = 4))
    assert(f.w.watch("ev") == 5L)
    val now = f.live.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(x => x.getName -> x.lastModified()).toMap
    assert(first.forall { case (n, t) => now.get(n).contains(t) },
      "the first batch's files were not rewritten")
    assert(f.rows.map(_.getLong(0)) == (1L to 8L), "each key once")
    assert(!f.stage.exists())
  }
}
