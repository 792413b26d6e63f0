package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM (Test/fork=true):
  * Spark session startup is ~5s, so suites must not each build their own.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val s = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      // mirror LocalSession (r15): serialized shuffle writer — the bypass
      // writer's per-reduce-partition file creates dominated executor CPU
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      // mirror LocalSession (r15): let AQE coalesce below defaultParallelism
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // mirror LocalSession: naive parquet timestamps read as TimestampType
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // mirror LocalSession: timestamps written as INT64 TIMESTAMP(MICROS),
      // which carry the min/max statistics footer watermarks read
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // mirror LocalSession: interchange gzip at BEST_SPEED
      .config("spark.hadoop.zlib.compress.level", "BEST_SPEED")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    graft.io.Scratch.deleteAtEnd(s, warehouse)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One parquet file of (id, ts) rows, ts a TIMESTAMP(NANOS) column,
    * written with parquet's example writer: Spark itself never writes ns. */
  def writeNs(file: String, rows: Seq[(Long, Long)]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter.builder(new Path(file))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, ns) =>
      writer.write(groups.newGroup().append("id", id).append("ts", ns))
    } finally writer.close()
  }

  /** The phases in which Spark jobs started, each body run under its own
    * tag; a trailing sentinel job proves the listener saw them all. */
  def jobPhases(phases: (String, () => Any)*): Seq[String] = {
    val sc = spark.sparkContext
    val key = "graft.test.jobprobe"
    val tag = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .filter(_.startsWith(tag)).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      (phases :+ ("sentinel" -> (() => sc.parallelize(1 to 2).count())))
        .foreach { case (phase, body) =>
          sc.setLocalProperty(key, s"$tag:$phase")
          body()
        }
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(s"$tag:sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    seen.asScala.toSeq.map(_.stripPrefix(s"$tag:"))
  }

  /** Fresh temp dir under the JVM's tmpdir, deleted when the test session
    * ends (deleteOnExit would keep every non-empty one). */
  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_test_$prefix").toString
    graft.io.Scratch.deleteAtEnd(spark, d)
    d
  }
}
