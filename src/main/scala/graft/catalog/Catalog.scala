package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Functions
import graft.io.Tables

/** Catalog operations (reference S8-S13, SURVEY §2.1): table listing with
  * sizes, existence probes, row counts, drops — over `spark.catalog` plus
  * file-system metadata for path-addressed parquet tables.
  *
  * The reference's `list` joins pg_class/pg_namespace and computes
  * pg_total_relation_size + pretty sizes (pgwarehouse.py:218-237); here the
  * equivalent for a parquet corpus is file metadata (cheap, no scan) plus an
  * exact `count()`. All filesystem access goes through the Hadoop
  * `FileSystem` API so the same code runs on local disk, HDFS, or S3.
  */
object Catalog {

  val corpusTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def fsFor(spark: SparkSession, path: Path) =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Total bytes under a table path (file or directory), from filesystem
    * metadata only — no data scan.
    */
  def tableBytes(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = fsFor(spark, p)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** S9: list source tables with byte sizes, sorted desc — mirrors the
    * reference's `order by table_bytes desc` (pgwarehouse.py:231).
    */
  def listWithSizes(spark: SparkSession, sfDir: String,
                    names: Seq[String] = corpusTables): DataFrame = {
    import spark.implicits._
    names.map { t =>
      val bytes = tableBytes(spark, s"$sfDir/$t.parquet")
      (t, bytes, Functions.pgSizePretty(bytes))
    }.toDF("table_name", "total_bytes", "pretty_size")
      .orderBy(desc("total_bytes"), asc("table_name"))
  }

  /** S10 over a plain directory: the parquet tables actually present,
    * sorted (reference `all_table_names`, pgwarehouse.py:242-246).
    */
  def listTables(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = fsFor(spark, p)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted.toSeq
  }

  /** S9/A1: exact row counts per table (the reference's parity check,
    * `count_table`) — one unioned distributed job, not one action per table;
    * each leg is a metadata-only parquet count (row-group stats), so this
    * stays one cheap job even at 100 TB.
    */
  def rowCounts(spark: SparkSession, sfDir: String): DataFrame =
    corpusTables.map { t =>
      Tables.parquet(spark, s"$sfDir/$t.parquet")
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(t).as("table_name"), col("n_rows"),
          // the reference's to_char(reltuples,'FM999,999,999,999') column
          // (pgwarehouse.py:220)
          Functions.formatCount(col("n_rows")).as("n_pretty"))
    }.reduce(_.unionByName(_)).orderBy("table_name")

  /** S10/S11: bare name list, sorted (pgwarehouse.py:242-246). */
  def tableNames(sfDir: String): Seq[String] = corpusTables.sorted

  /** S12: existence probe via the Hadoop filesystem. */
  def tableExists(spark: SparkSession, sfDir: String, name: String): Boolean = {
    val p = new Path(s"$sfDir/$name.parquet")
    fsFor(spark, p).exists(p)
  }

  /** S13: schema introspection — on parquet, the footer schema, read on
    * the driver (no scan, no job). */
  def describe(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    import spark.implicits._
    Tables.parquet(spark, s"$sfDir/$name.parquet").schema.fields.toSeq
      .map(f => (f.name, f.dataType.simpleString, f.nullable))
      .toDF("column_name", "data_type", "nullable")
  }

  /** Freshness report — which synced tables lag the freshest one and by
    * how much, the staleness monitor a watch/sync deployment reads before
    * trusting a cross-table join (a join between a fresh and a stale
    * table silently produces partial results; the reference leaves this
    * to the operator's eyeball). Lag is measured against the corpus-wide
    * max event time, not wall clock, so the report is deterministic and
    * re-checkable. Each table contributes ONE scalar aggregate row
    * (max over its event-time column + count); the global max rides a
    * single-partition window over the table-count-sized report.
    */
  def freshness(tables: Seq[(String, org.apache.spark.sql.DataFrame,
                             String)]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    tables.map { case (name, df, tsCol) =>
      df.agg(count(lit(1)).as("n_rows"),
          max(unix_micros(col(tsCol).cast("timestamp"))).as("max_ts_us"))
        .select(lit(name).as("table_name"), col("n_rows"), col("max_ts_us"))
    }.reduce(_ unionByName _)
      .withColumn("lag_us",
        max("max_ts_us").over(Window.partitionBy()) - col("max_ts_us"))
      .withColumn("fresh", col("lag_us") === 0L)
      .orderBy("table_name")
  }

  /** S8: drop a managed table / delete a path-addressed one. */
  def dropTable(spark: SparkSession, name: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS `$name`")

  /** S8 path form: delete a path-addressed parquet table. */
  def dropPath(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fsFor(spark, p).delete(p, true)
  }
}
