package graft

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.scalatest.funsuite.AnyFunSuite

/** `graft sync all` run through `cli.Main` as a user runs it. Each run is
  * its own JVM on the test classpath: Main builds its session through
  * `LocalSession.build` and stops it on exit, which in this JVM would stop
  * the shared [[TestSpark]] session every other suite uses.
  */
class CliMainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val root = TestSpark.tmpDir("cli")
  private val sourceDir = s"$root/src"
  private val warehouseDir = s"$root/wh"
  private val config = s"$root/graft_config.yaml"

  private def writeSource(name: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$sourceDir/$name.parquet")

  /** Run `graft <args>` in a fresh JVM; returns its stdout lines. */
  private def graft(args: String*): Seq[String] = {
    // the module opens sbt gives the test JVM, with a small heap
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx")).toSeq
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ jvmArgs ++
      Seq("-Xmx1g", "-cp", sys.props("java.class.path"), "graft.cli.Main") ++
      args
    val stderr = new File(root, "graft.stderr")
    val pb = new ProcessBuilder(cmd: _*)
      .redirectError(ProcessBuilder.Redirect.to(stderr))
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    pb.environment().remove("GRAFT_MASTER")
    val proc = pb.start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream, "UTF-8")
      .getLines().toList
    assert(proc.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
      "graft did not exit")
    if (proc.exitValue() != 0) {
      val tail = Files.readAllLines(stderr.toPath).asScala.takeRight(40)
      fail(s"graft ${args.mkString(" ")} exited ${proc.exitValue()}:\n" +
        tail.mkString("\n"))
    }
    out
  }

  private def orders(rows: Seq[(Long, String, String)]): DataFrame =
    rows.map { case (id, s, u) => (id, s, Timestamp.valueOf(u)) }
      .toDF("id", "status", "updated")

  test("graft sync all, run twice through Main: bootstrap, then the " +
       "incremental step of each strategy") {
    writeSource("users", (1L to 20L).map(i => (i, s"user$i")).toDF("id", "name"))
    writeSource("orders", orders((1L to 10L).map(i =>
      (i, "new", "2024-01-01 00:00:00"))))
    writeSource("parks", Seq(("Golden Gate", 1017)).toDF("park_name", "size"))
    Files.writeString(new File(config).toPath,
      s"""source:
         |  dir: $sourceDir
         |warehouse:
         |  dir: $warehouseDir
         |tables:
         |  users:
         |    primary_key: id
         |  orders:
         |    primary_key: id
         |    last_modified: updated
         |  parks:
         |    reload: true
         |""".stripMargin)
    val first = graft("sync", "all", "--config", config)
    assert(first.filter(_.contains("sync action=")) == Seq(
      "users: sync action=bootstrap", "orders: sync action=bootstrap",
      "parks: sync action=reload"), first.mkString("\n"))

    writeSource("users", (1L to 25L).map(i => (i, s"user$i")).toDF("id", "name"))
    writeSource("orders", orders((1L to 10L).map(i =>
      (i, "new", "2024-01-01 00:00:00")) :+ (3L, "shipped", "2024-01-02 00:00:00")))
    val second = graft("sync", "all", "--config", config)
    assert(second.filter(_.contains("sync action=")) == Seq(
      "users: sync action=append", "orders: sync action=merge",
      "parks: sync action=reload"), second.mkString("\n"))

    def warehouse(t: String) = spark.read.parquet(s"$warehouseDir/$t.parquet")
    assert(warehouse("users").count() == 25L)
    val status = warehouse("orders").as[(Long, String, Timestamp)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(status.size == 10 && status(3L) == "shipped" && status(4L) == "new")
    assert(warehouse("parks").count() == 1L)
  }
}
