package graft

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{AnalysisException, SaveMode}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.Catalog
import graft.cli.{GraftConfig, TableOpts, Warehouse}
import graft.io.Tables
import graft.warehouse.DuckDbBackend

/** Tables reads a parquet table's schema from one driver-side footer read
  * instead of Spark's inference job. The schema must be the one Spark
  * infers, and building the DataFrame must start no job.
  */
class FooterSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import TestSpark.{jobPhases, writeNs}

  private val sf = "/root/testdata/sf0.01"

  /** Columns that any footer under `path` marks TIMESTAMP(NANOS), read
    * with parquet's own reader. */
  private def nsCols(path: String): Set[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(p).isFile) Seq(fs.getFileStatus(p))
      else fs.listStatus(p).toSeq.filter(_.getPath.getName.endsWith(".parquet"))
    files.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try r.getFooter.getFileMetaData.getSchema.getFields.asScala.collect {
        case c if (c.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
          case _ => false
        }) => c.getName
      } finally r.close()
    }.toSet
  }

  /** Spark's inferred schema with Tables.table's two repairs applied:
    * footer-marked ns longs and NTZ columns become TimestampType. */
  private def repaired(path: String): StructType = {
    val ns = nsCols(path)
    StructType(spark.read.parquet(path).schema.map { f =>
      if ((ns(f.name) && f.dataType == LongType) || f.dataType == TimestampNTZType)
        f.copy(dataType = TimestampType)
      else f
    })
  }

  /** A warehouse table built by a bootstrap and three append syncs. */
  private lazy val appended: (String, String) = {
    val src = TestSpark.tmpDir("fs_src")
    val wh = TestSpark.tmpDir("fs_wh")
    val w = new Warehouse(spark, GraftConfig(src, wh, TestSpark.tmpDir("fs_data"),
      None, ListMap("t" -> TableOpts(primaryKey = Some("id")))))
    (0 until 4).foreach { k =>
      (k * 10 + 1 to k * 10 + 10).map(i => (i.toLong, s"v$i", i * 0.5,
        java.sql.Timestamp.valueOf(s"2024-01-01 00:00:${i % 60}")))
        .toDF("id", "v", "x", "ts").repartition(2)
        .write.mode(SaveMode.Append).parquet(s"$src/t.parquet")
      w.sync("t")
    }
    (wh, s"$wh/t.parquet")
  }

  test("every sf0.01 corpus table: the footer schema is Spark's inferred " +
    "schema, and Tables.table repairs it as Spark's read would be") {
    for (t <- Catalog.corpusTables) {
      val path = s"$sf/$t.parquet"
      assert(Tables.parquet(spark, path).schema == spark.read.parquet(path).schema, t)
      assert(Tables.table(spark, sf, t).schema == repaired(path), t)
    }
  }

  test("a TIMESTAMP(NANOS) table: the footer schema keeps Spark's long, " +
    "and Tables.table repairs it to microseconds") {
    val dir = TestSpark.tmpDir("fs_ns")
    writeNs(s"$dir/ns.parquet/part-0.parquet",
      (1 to 3).map(i => (i.toLong, i * 1000000000L)))
    val path = s"$dir/ns.parquet"
    assert(Tables.parquet(spark, path).schema == spark.read.parquet(path).schema)
    assert(spark.read.parquet(path).schema("ts").dataType == LongType)
    assert(nsCols(path) == Set("ts"))
    val t = Tables.table(spark, dir, "ns")
    assert(t.schema == repaired(path))
    assert(t.orderBy("id").collect().map(_.getTimestamp(1).getTime).toSeq ==
      Seq(1000L, 2000L, 3000L), "ns since epoch become the same instants")
  }

  test("a warehouse table after several appends: same schema and rows as " +
    "Spark's own read") {
    val (wh, path) = appended
    assert(new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet")) > 1)
    val inferred = spark.read.parquet(path)
    assert(Tables.parquet(spark, path).schema == inferred.schema)
    assert(Tables.table(spark, wh, "t").schema == repaired(path))
    assert(Tables.parquet(spark, path).except(inferred).isEmpty &&
      Tables.parquet(spark, path).count() == 40)
  }

  test("an empty directory fails as Spark's read fails") {
    val dir = TestSpark.tmpDir("fs_empty") + "/e.parquet"
    assert(new java.io.File(dir).mkdirs())
    val want = intercept[AnalysisException](spark.read.parquet(dir))
    val got = intercept[AnalysisException](Tables.parquet(spark, dir))
    assert(got.getCondition == want.getCondition)
  }

  test("a partitioned directory keeps Spark's inferred partition columns") {
    val dir = TestSpark.tmpDir("fs_part") + "/p.parquet"
    (1 to 12).map(i => (i.toLong, s"v$i", i % 3)).toDF("id", "v", "k")
      .write.partitionBy("k").parquet(dir)
    val schema = Tables.parquet(spark, dir).schema
    assert(schema == spark.read.parquet(dir).schema)
    assert(schema.fieldNames.toSeq == Seq("id", "v", "k"))
  }

  test("building Tables.table and Catalog.describe starts no Spark job") {
    val (wh, path) = appended
    val phases = jobPhases(
      "build" -> { () =>
        Catalog.corpusTables.foreach(t => Tables.table(spark, sf, t))
        Tables.table(spark, wh, "t")
        Catalog.describe(spark, sf, "events").collect()
        Catalog.describe(spark, wh, "t").collect()
      },
      // the probe sees jobs: Spark's own inference of the same table runs one
      "control" -> (() => spark.read.parquet(path)))
    assert(!phases.contains("build"), s"jobs started while building: $phases")
    assert(phases.contains("control") && phases.last == "sentinel", phases)
  }

  test("building a stream source through Tables.read and reading a " +
    "snapshot version start no Spark job") {
    val (_, path) = appended
    val ns = TestSpark.tmpDir("fs_nsstream") + "/ns.parquet"
    writeNs(s"$ns/part-0.parquet", Seq((1L, 1000L)))
    val versions = TestSpark.tmpDir("fs_versions") + "/t.snapshots"
    Tables.publishVersion(spark, spark.read.parquet(path), versions)
    val phases = jobPhases(
      "build" -> { () =>
        val stream = Tables.read(spark, path, Tables.Scan.Stream(path))
        assert(stream.isStreaming)
        assert(Tables.read(spark, ns, Tables.Scan.Stream(ns))
          .schema("ts").dataType == TimestampType)
        Tables.readVersion(spark, versions)
      },
      "control" -> (() => spark.read.parquet(s"$versions/v=1")))
    assert(!phases.contains("build"), s"jobs started while building: $phases")
    assert(phases.contains("control") && phases.last == "sentinel", phases)
  }

  /** Two landing zones of TIMESTAMP(NANOS) files: `ap` syncs append-only
    * on `id`, `up` upserts on `id` by `ts`. Each holds ids 1-3; `land`
    * adds a second file with ids 4-6. The ns values carry a sub-µs part
    * that the repair drops. */
  private class NsLanding(duck: Boolean) {
    val src = TestSpark.tmpDir("fs_lsrc")
    val wh = TestSpark.tmpDir("fs_lwh")
    val w = new Warehouse(spark, GraftConfig(src, wh, TestSpark.tmpDir("fs_ldata"),
      None, ListMap(
        "ap" -> TableOpts(primaryKey = Some("id")),
        "up" -> TableOpts(primaryKey = Some("id"), lastModified = Some("ts"))),
      duckdbPath = if (duck) Some(s"$wh/duck.db") else None))
    def ns(id: Long): Long = id * 1000000000L + id * 1000L + 7L
    def micros(id: Long): Long = ns(id) / 1000
    private def write(t: String, part: Int, ids: Seq[Long]): Unit =
      writeNs(s"$src/$t.parquet/part-$part.parquet", ids.map(i => (i, ns(i))))
    Seq("ap", "up").foreach(write(_, 0, 1L to 3L))
    def land(): Unit = Seq("ap", "up").foreach(write(_, 1, 4L to 6L))
  }

  test("a TIMESTAMP(NANOS) landing zone: sync bootstraps, watch lands the " +
    "next file, and ts stays a timestamp with the repaired instants") {
    val z = new NsLanding(duck = false)
    Seq("ap", "up").foreach(t => assert(z.w.sync(t) == "bootstrap", t))
    z.land()
    Seq("ap", "up").foreach { t =>
      assert(z.w.watch(t) == 6L, t)
      val got = Tables.table(spark, z.wh, t)
      assert(got.schema("ts").dataType == TimestampType, t)
      assert(got.select(col("id"), unix_micros(col("ts"))).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted ==
        (1L to 6L).map(i => (i, z.micros(i))), t)
    }
  }

  private lazy val duckDriver =
    try { Class.forName("org.duckdb.DuckDBDriver"); true }
    catch { case _: ClassNotFoundException => false }

  test("a TIMESTAMP(NANOS) landing zone on DuckDB: syncDuck bootstraps, " +
    "watchDuck lands the next file, and ts stays a TIMESTAMP with the " +
    "repaired instants") {
    assume(duckDriver, "DuckDB JDBC driver not on test classpath")
    val z = new NsLanding(duck = true)
    val duck = new DuckDbBackend(s"${z.wh}/duck.db")
    Seq("ap", "up").foreach(t => assert(z.w.syncDuck(t, duck) == "bootstrap", t))
    z.land()
    Seq("ap", "up").foreach { t =>
      assert(z.w.watchDuck(t, duck) == 6L, t)
      val c = java.sql.DriverManager.getConnection(s"jdbc:duckdb:${duck.dbPath}")
      val got = try {
        val rs = c.createStatement().executeQuery(
          s"SELECT id, typeof(ts), epoch_us(ts) FROM $t ORDER BY id")
        Iterator.continually(rs).takeWhile(_.next())
          .map(r => (r.getLong(1), r.getString(2), r.getLong(3))).toList
      } finally c.close()
      assert(got == (1L to 6L).map(i => (i, "TIMESTAMP", z.micros(i))), t)
    }
  }
}
