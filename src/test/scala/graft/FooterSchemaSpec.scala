package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, SaveMode}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.Catalog
import graft.cli.{GraftConfig, TableOpts, Warehouse}
import graft.io.Tables

/** Tables reads a parquet table's schema from one driver-side footer read
  * instead of Spark's inference job. The schema must be the one Spark
  * infers, and building the DataFrame must start no job.
  */
class FooterSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.01"

  /** Spark's inferred schema with Tables.table's two repairs applied:
    * footer-marked ns longs and NTZ columns become TimestampType. */
  private def repaired(path: String): StructType = {
    val ns = Tables.nsTimestampCols(spark, path).toSet
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
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = TestSpark.tmpDir("fs_ns")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/ns.parquet/part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val rows = new SimpleGroupFactory(schema)
    try (1 to 3).foreach(i =>
      writer.write(rows.newGroup().append("id", i.toLong).append("ts", i * 1000000000L)))
    finally writer.close()
    val path = s"$dir/ns.parquet"
    assert(Tables.parquet(spark, path).schema == spark.read.parquet(path).schema)
    assert(spark.read.parquet(path).schema("ts").dataType == LongType)
    assert(Tables.nsTimestampCols(spark, path) == Seq("ts"))
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
    val sc = spark.sparkContext
    val key = "graft.test.jobprobe"
    val tag = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .filter(_.startsWith(tag)).foreach(seen.add)
    }
    val (wh, path) = appended
    sc.addSparkListener(listener)
    try {
      def as[A](phase: String)(body: => A): A = {
        sc.setLocalProperty(key, s"$tag:$phase")
        body
      }
      as("build") {
        Catalog.corpusTables.foreach(t => Tables.table(spark, sf, t))
        Tables.table(spark, wh, "t")
        Catalog.describe(spark, sf, "events").collect()
        Catalog.describe(spark, wh, "t").collect()
      }
      // the probe sees jobs: Spark's own inference of the same table runs one
      as("control")(spark.read.parquet(path))
      as("sentinel")(sc.parallelize(1 to 2).count())
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(s"$tag:sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    val phases = seen.asScala.toSeq.map(_.stripPrefix(s"$tag:"))
    assert(!phases.contains("build"), s"jobs started while building: $phases")
    assert(phases.contains("control") && phases.last == "sentinel", phases)
  }
}
