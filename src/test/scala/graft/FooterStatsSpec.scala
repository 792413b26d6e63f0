package graft

import java.sql.{Date, Timestamp}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, LongType,
  ShortType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.Catalog
import graft.cli.{GraftConfig, TableOpts, Warehouse}
import graft.io.Tables
import graft.sync.{Sink, Watermark}

/** `Tables.footerMax` and `Tables.rowCount` answer `max(col)` and
  * `count()` from parquet footers. Where the footers answer, the answer
  * must be the aggregate job's and no job may start; in every other case
  * the footers must decline, so `Sink.of` runs the job.
  */
class FooterStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import TestSpark.jobPhases

  private val sf = "/root/testdata/sf0.01"

  private val footerTypes: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType, DateType, TimestampType)

  /** The footers answer every integer, date and timestamp column of `df`
    * with the job's max, and count its rows as the job does. */
  private def footersAgree(df: DataFrame, what: String): Unit = {
    val cols = df.schema.fields.filter(f => footerTypes(f.dataType)).map(_.name)
    assert(cols.nonEmpty, what)
    cols.foreach(c =>
      assert(Tables.footerMax(df, c) == Some(Watermark.maxOf(df, c)), s"$what.$c"))
    assert(Tables.rowCount(df) == df.count(), what)
  }

  /** The footers decline `c`, and the sink answers as the job does. */
  private def declines(df: DataFrame, c: String): Unit = {
    assert(Tables.footerMax(df, c).isEmpty, c)
    assert(Sink.of(df).max(c) == Watermark.maxOf(df, c), c)
  }

  test("every sf0.01 corpus table: the footer max of each integer and " +
    "timestamp column and the footer row count equal the jobs'") {
    Catalog.corpusTables.foreach(t => footersAgree(Tables.table(spark, sf, t), t))
  }

  test("every sf0.01 corpus table after a writeAtomic round trip: the " +
    "footers still answer as the jobs do") {
    val wh = TestSpark.tmpDir("fst_rt")
    val w = new Warehouse(spark, GraftConfig(sf, wh, TestSpark.tmpDir("fst_rt_data"),
      None, ListMap(Catalog.corpusTables.map(_ -> TableOpts()): _*)))
    Catalog.corpusTables.foreach { t =>
      assert(w.sync(t) == "reload", t)
      footersAgree(Tables.table(spark, wh, t), s"warehouse $t")
    }
  }

  /** One parquet table written by Spark from `df` as `files` files, with
    * the session's parquet timestamp type set to `tsType`. */
  private def written(tag: String, df: DataFrame, files: Int = 2,
                      tsType: String = "TIMESTAMP_MICROS",
                      options: Map[String, String] = Map.empty): DataFrame = {
    val path = TestSpark.tmpDir(s"fst_$tag") + "/t.parquet"
    val key = "spark.sql.parquet.outputTimestampType"
    val before = spark.conf.get(key)
    spark.conf.set(key, tsType)
    try df.repartition(files).write.options(options).parquet(path)
    finally spark.conf.set(key, before)
    Tables.parquet(spark, path)
  }

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Rows of every type the footers answer, nulls included. */
  private lazy val typed: DataFrame = (1 to 40).map { i =>
    (i.toByte, (i * 100).toShort, -i * 1000, i.toLong << 33,
      Date.valueOf(s"2024-01-${i % 28 + 1}"), ts(s"2024-02-01 00:00:${i % 60}.123456"),
      if (i % 3 == 0) None else Some(i.toLong))
  }.toDF("b", "s", "i", "l", "d", "t", "sparse")

  test("byte, short, int, long, date and µs and ms timestamps over several " +
    "files: the footers answer as the jobs do") {
    footersAgree(written("typed", typed), "micros")
    val millis = written("millis", typed, tsType = "TIMESTAMP_MILLIS")
    footersAgree(millis, "millis")
    assert(Tables.footerMax(millis, "t") ==
      Some(Some(ts("2024-02-01 00:00:40.123"))))
  }

  test("an empty table and an all-null column answer None; rows count 0") {
    val empty = written("empty", typed.limit(0), files = 1)
    Seq("l", "t", "d").foreach(c => assert(Tables.footerMax(empty, c) == Some(None), c))
    assert(Tables.rowCount(empty) == 0L && empty.count() == 0L)
    val nulls = written("nulls", (1 to 5).map(i =>
      (i.toLong, Option.empty[Long], Option.empty[Timestamp])).toDF("id", "n", "t"))
    Seq("n", "t").foreach { c =>
      assert(Tables.footerMax(nulls, c) == Some(None), c)
      assert(Watermark.maxOf(nulls, c).isEmpty, c)
    }
    assert(Tables.footerMax(nulls, "id") == Some(Some(5L)))
  }

  test("INT96 timestamps, a file without statistics, a repaired " +
    "TIMESTAMP(NANOS) column and float, double, decimal and string " +
    "columns: the footers decline and the sink runs the job") {
    declines(written("int96", typed, tsType = "INT96"), "t")

    val bare = written("nostats", typed,
      options = Map("parquet.column.statistics.enabled" -> "false"))
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(bare.inputFiles.head).getParent
    dir.getFileSystem(conf).listStatus(dir).filter(_.getPath.getName.endsWith(".parquet"))
      .foreach(f => Tables.footer(conf, f).getBlocks.asScala.foreach(b =>
        assert(b.getColumns.asScala.forall(c =>
          Option(c.getStatistics).forall(!_.hasNonNullValue)),
          "the writer kept statistics")))
    Seq("l", "t", "d").foreach(declines(bare, _))

    val nsDir = TestSpark.tmpDir("fst_ns")
    TestSpark.writeNs(s"$nsDir/ns.parquet/part-0.parquet",
      (1 to 3).map(i => (i.toLong, i * 1000000000L + 7)))
    val ns = Tables.table(spark, nsDir, "ns")
    assert(ns.schema("ts").dataType == TimestampType)
    declines(ns, "ts")
    assert(Tables.footerMax(ns, "id") == Some(Some(3L)))
    // unrepaired, the column is a TIMESTAMP(NANOS) long: not answered either
    declines(Tables.parquet(spark, s"$nsDir/ns.parquet"), "ts")

    val other = written("other", (1 to 20).map(i => (i.toLong, i * 0.5f, i * 0.25,
      BigDecimal(i) / 4, s"s$i")).toDF("id", "f", "x", "dec", "str"))
    Seq("f", "x", "dec", "str").foreach(declines(other, _))
  }

  test("dates and timestamps before the calendar switch, written in the " +
    "legacy hybrid calendar: the footers decline, since the read rebases") {
    val key = "spark.sql.parquet.datetimeRebaseModeInWrite"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "LEGACY")
    val old =
      try written("legacy", Seq((Date.valueOf("1500-03-01"), ts("1500-03-01 12:00:00")),
        (Date.valueOf("1400-03-01"), ts("1400-03-01 12:00:00"))).toDF("d", "t"), files = 1)
      finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    Seq("d", "t").foreach(declines(old, _))
    assert(Watermark.maxOf(old, "d") == Some(Date.valueOf("1500-03-01")))
  }

  test("a DataFrame that is not a plain parquet scan, a computed column " +
    "and a partition column: the footers decline") {
    val t = written("plan", typed)
    declines(t.filter(col("b") > 31), "l")
    assert(Tables.rowCount(t.filter(col("b") > 31)) == 9L)
    declines(t.withColumn("l2", col("l") + 1), "l2")
    assert(Tables.footerMax(t.withColumn("l2", col("l") + 1), "l") ==
      Some(Watermark.maxOf(t, "l")))
    declines(t.union(t), "l")
    val path = TestSpark.tmpDir("fst_part") + "/p.parquet"
    (1 to 12).map(i => (i.toLong, i % 3)).toDF("id", "k")
      .write.partitionBy("k").parquet(path)
    val part = Tables.parquet(spark, path)
    declines(part, "k")
    assert(Tables.footerMax(part, "id") == Some(Some(12L)))
    assert(Tables.rowCount(part) == 12L)
  }

  /** A warehouse with an upsert table `up` (merged by `writeAtomic`), an
    * append-only table `ap` (its delta landed by `appendAtomic`) and an
    * unkeyed table `raw` drained by `watch` (the `b<id>-` prefix commit). */
  private lazy val synced: (Warehouse, String) = {
    val src = TestSpark.tmpDir("fst_src")
    val wh = TestSpark.tmpDir("fst_wh")
    val w = new Warehouse(spark, GraftConfig(src, wh, TestSpark.tmpDir("fst_data"),
      None, ListMap(
        "up" -> TableOpts(primaryKey = Some("id"), lastModified = Some("ts")),
        "ap" -> TableOpts(primaryKey = Some("id")),
        "raw" -> TableOpts())))
    def land(ids: Range, day: Int): Unit = Seq("up", "ap", "raw").foreach { t =>
      ids.map(i => (i.toLong, s"v$i", ts(s"2024-03-0$day 00:00:${i % 60}")))
        .toDF("id", "v", "ts").write.mode(SaveMode.Append).parquet(s"$src/$t.parquet")
    }
    land(1 to 10, 1)
    assert(w.sync("up") == "bootstrap" && w.sync("ap") == "bootstrap")
    assert(w.watch("raw") == 10L)
    land(11 to 15, 2)
    assert(w.sync("up") == "merge" && w.sync("ap") == "append")
    assert(w.watch("raw") == 5L)
    (w, wh)
  }

  test("timestamps the warehouse writes through writeAtomic, appendAtomic " +
    "and the watch prefix commit are INT64 TIMESTAMP(MICROS) with min/max " +
    "statistics in every row group") {
    val (_, wh) = synced
    val conf = spark.sparkContext.hadoopConfiguration
    def files(t: String) = {
      val p = new Path(s"$wh/$t.parquet")
      p.getFileSystem(conf).listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
    }
    assert(files("ap").length > 1, "the append added a file")
    assert(files("raw").exists(_.getPath.getName.startsWith("b1-")),
      "the second batch landed under its prefix")
    for (t <- Seq("up", "ap", "raw"); f <- files(t)) {
      val footer = Tables.footer(conf, f)
      val field = footer.getFileMetaData.getSchema.getFields.asScala.find(_.getName == "ts").get.asPrimitiveType
      assert(field.getPrimitiveTypeName == PrimitiveType.PrimitiveTypeName.INT64, s"$t $f")
      assert(field.getLogicalTypeAnnotation ==
        LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS),
        s"$t $f")
      footer.getBlocks.asScala.foreach(b => assert(b.getColumns.asScala
        .find(_.getPath.toDotString == "ts").get.getStatistics.hasNonNullValue, s"$t $f"))
    }
  }

  test("footer answers, the sink's watermark reads and a load with no " +
    "pending chunks start no Spark job") {
    val (w, wh) = synced
    val up = Tables.table(spark, wh, "up")
    val ap = Tables.table(spark, wh, "ap")
    var got = Seq.empty[Any]
    val phases = jobPhases(
      "footers" -> { () =>
        got = Seq(Tables.footerMax(up, "ts"), Tables.footerMax(ap, "id"),
          Sink.of(up).max("ts"), Sink.of(ap).max("id"),
          Tables.rowCount(up), Tables.rowCount(Tables.parquet(spark, s"$wh/ap.parquet")),
          w.load("up"), w.load("ap"))
      },
      // the probe sees jobs: the aggregate the footers replace runs some
      "control" -> (() => Watermark.maxOf(up, "ts")))
    assert(!phases.contains("footers"), s"jobs started for footer answers: $phases")
    assert(phases.contains("control") && phases.last == "sentinel", phases)
    assert(got == Seq(Some(Watermark.maxOf(up, "ts")), Some(Some(15L)),
      Watermark.maxOf(up, "ts"), Some(15L), 15L, 15L, 15L, 15L))
  }
}
