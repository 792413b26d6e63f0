package graft.io

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Observation, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{count, expr, lit, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Sources & sinks (reference operators S1-S6, SURVEY §2.1).
  *
  * The reference moves rows as chunked gzip CSV between a Postgres `\copy`
  * subprocess and a warehouse bulk loader (pgwarehouse.py:254-303). Here the
  * same roles are played by Spark's distributed readers/writers:
  *   - parquet tables for the driver's test corpus (the primary path),
  *   - schema-pinned gzip CSV for interchange-format fidelity (S2/S3),
  *   - JDBC kept behind the same surface for real-Postgres parity (S1/S4),
  *     not exercised by the test corpus.
  *
  * Scale notes (100 TB): all readers return unmaterialized DataFrames so
  * Catalyst pushes filters/column pruning into the scan; CSV reads pin an
  * explicit StructType (never infer — inference is a full extra pass over
  * the data); `maxRecordsPerFile` bounds output file size like the
  * reference's 1 GiB chunk rollover (pgwarehouse.py:261,286-291).
  */
object Tables {

  /** The footer Spark's schema inference reads for a parquet table: the
    * file itself, or the first data file by path of a flat directory
    * (ParquetUtils.inferSchema touches `data.headOption` of the sorted
    * leaf files). Read here on the driver, it costs one file open; Spark's
    * inference runs a job for the same read. None when the path is
    * missing, or is a directory with no visible data file or with
    * partition subdirectories, or when the session merges schemas across
    * files: Spark infers (or rejects) those itself.
    */
  private def schemaFooter(spark: SparkSession, path: String): Option[Footer] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val status =
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
      else try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    val file = status.flatMap { st =>
      if (st.isFile) Some(st)
      else {
        val visible = fs.listStatus(p).filterNot { f =>
          val n = f.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }
        if (visible.exists(_.isDirectory)) None
        else visible.sortBy(_.getPath.toString).headOption
      }
    }
    file.map(f => new Footer(f.getPath, footer(conf, f)))
  }

  /** One parquet file's footer, row groups included. */
  private[graft] def footer(conf: org.apache.hadoop.conf.Configuration,
                            file: FileStatus): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    try reader.getFooter finally reader.close()
  }

  /** How [[read]] reads a parquet path: one batch read, or a file-source
    * stream of `dir` (the path, or a directory exposing it) whose
    * micro-batches `graft.stream.maxFilesPerTrigger` caps. */
  sealed trait Scan
  object Scan {
    case object Batch extends Scan
    final case class Stream(dir: String) extends Scan
  }

  /** A parquet table read with its schema from [[schemaFooter]], converted
    * as Spark's own inference converts it, so building the DataFrame
    * starts no Spark job. Unlike [[read]], no column is repaired.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    open(spark, path, schemaFooter(spark, path), Scan.Batch)

  /** A parquet path as a DataFrame, its schema from [[schemaFooter]] and
    * every timestamp flavor a TimestampType. Sessions read
    * TIMESTAMP(NANOS) as nanos-since-epoch longs (`nanosAsLong`); those
    * become µs timestamps (`div 1000`, the truncation DuckDB's `epoch_us`
    * applies). An inferTimestampNTZ session's TIMESTAMP_NTZ is cast; the
    * session time zone is UTC, so the instant equals the wall-clock.
    */
  def read(spark: SparkSession, path: String, scan: Scan): DataFrame = {
    val footer = schemaFooter(spark, path)
    val ns = footer.fold(Seq.empty[String])(nsCols).toSet
    val df = open(spark, path, footer, scan)
    df.schema.fields.foldLeft(df) { (d, f) =>
      val c = s"`${f.name}`"
      f.dataType match {
        case LongType if ns(f.name) =>
          d.withColumn(f.name, timestamp_micros(expr(s"$c div 1000")))
        case TimestampNTZType => d.withColumn(f.name, d(c).cast(TimestampType))
        case _ => d
      }
    }
  }

  private def open(spark: SparkSession, path: String, footer: Option[Footer],
                   scan: Scan): DataFrame = {
    val schema = footer.map(f => ParquetFileFormat.readSchemaFromFooter(f,
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
    scan match {
      case Scan.Batch => schema.fold(spark.read)(spark.read.schema).parquet(path)
      case Scan.Stream(dir) =>
        val reader = spark.readStream
          .schema(schema.getOrElse(spark.read.parquet(path).schema))
        spark.conf.getOption("graft.stream.maxFilesPerTrigger")
          .foreach(reader.option("maxFilesPerTrigger", _))
        reader.parquet(dir)
    }
  }

  /** Columns a parquet footer marks TIMESTAMP(NANOS). */
  private def nsCols(footer: Footer): Seq[String] =
    footer.getParquetMetadata.getFileMetaData.getSchema.getFields.asScala.collect {
      case f if f.isPrimitive && (f.getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
        case _ => false
      }) => f.getName
    }.toSeq

  /** S1 on the test corpus: the path-addressed parquet table, read and
    * repaired by [[read]].
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    read(spark, s"$sfDir/$name.parquet", Scan.Batch)

  /** S1 real-source path: filtered JDBC scan. The `filter` lands inside the
    * pushed-down query exactly like the reference injects its incremental
    * predicate into `\copy (select * from t {filter})` (pgwarehouse.py:275).
    * partitionColumn parallelizes the scan — an upgrade over the reference's
    * single psql pipe.
    */
  def jdbcTable(spark: SparkSession, url: String, dbtable: String,
                filter: Option[String] = None,
                partitionColumn: Option[(String, Long, Long, Int)] = None): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", filter.fold(dbtable)(f => s"(select * from $dbtable where $f) q"))
    partitionColumn.fold(base) { case (col, lo, hi, n) =>
      base.option("partitionColumn", col).option("lowerBound", lo)
        .option("upperBound", hi).option("numPartitions", n)
    }.load()
  }

  /** Read an observed job-side count without risking a hang: `Observation
    * .get` blocks until the listener delivers the observed job's metrics —
    * forever, if the plan collapsed to zero tasks or the job was cancelled
    * between the action returning and the event firing (round-9 advice
    * ask: the extract path must not be able to hang a sync on an edge
    * case). The write action has already returned when this is called, so
    * the metric is normally available within one listener dispatch; await
    * the observation's completion future with a bounded timeout, then fall
    * back to counting the written output (a second scan ONLY on the
    * degenerate path — never on the source, which may be a full-table
    * JDBC read).
    */
  private[graft] def observedCount(obs: Observation,
                                   fallback: => Long,
                                   timeoutSec: Int = 30): Long =
    try {
      val row = scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(timeoutSec.toLong, "s"))
      row.getAs[Long]("n")
    } catch {
      case _: java.util.concurrent.TimeoutException => fallback
    }

  /** Widen a narrow input before a compressed chunk write. The encode
    * (gzip/zlib) is CPU-bound, so write throughput = partitions × one
    * core's codec rate — and a table read from one or two parquet files
    * (the corpus layout; likewise a single-connection JDBC scan) carries
    * that narrowness into the write, encoding nearly serially however
    * many cores the cluster has. One round-robin exchange of exactly the
    * rows being written buys cores× encode parallelism; when the input is
    * already as wide as the session's parallelism the write stays
    * shuffle-free (at 100 TB a wide scan must not pick up a gratuitous
    * exchange — only genuinely narrow inputs pay the repartition, and for
    * those the shuffle is the price of using the cluster at all). The 2×
    * guard keeps near-wide inputs (e.g. 28 partitions on 32 cores)
    * shuffle-free: a <2× encode speedup never pays for re-shuffling
    * everything being written.
    */
  private[graft] def widenForEncode(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    // Width must be read WITHOUT executing the plan: on a plan with
    // shuffles, df.rdd forces AQE's final physical plan, eagerly
    // EXECUTING every upstream shuffle stage that the subsequent write's
    // fresh QueryExecution then re-runs — a full duplicate source pass,
    // violating the one-scan contract documented at observedCount. So:
    // an explicit repartition's width is read off the logical node
    // (statically known), a leaf-rooted project/filter/limit chain — the
    // extract-path call sites — gets the df.rdd probe (pure planning
    // there: file listing, no job), and any other shape keeps its layout
    // (it already ends shuffle.partitions wide).
    import org.apache.spark.sql.catalyst.plans.logical
    @annotation.tailrec
    def core(p: logical.LogicalPlan): logical.LogicalPlan = p match {
      case q @ (_: logical.Project | _: logical.Filter |
                _: logical.GlobalLimit | _: logical.LocalLimit) =>
        core(q.children.head)
      case other => other
    }
    val width: Option[Int] = core(df.queryExecution.optimizedPlan) match {
      case r: logical.Repartition if r.shuffle => Some(r.numPartitions)
      case r: logical.RepartitionByExpression => r.optNumPartitions
      case _: logical.LeafNode => Some(df.rdd.getNumPartitions)
      case _ => None
    }
    width match {
      case Some(n) if n * 2 <= want => df.repartition(want)
      case _ => df
    }
  }

  /** S2: chunked gzip CSV sink with header, mirroring the reference's rollover
    * writer (pgwarehouse.py:259-295). maxRecordsPerFile plays the role of the
    * 1 GiB size cap; Spark writes one chunk per partition in parallel rather
    * than sequentially off a pipe. `maxRecords` is the reference's extract
    * row cap (`postgres.max_records`, pgwarehouse.py:211,286-294): stop after
    * N rows total.
    *
    * Returns the number of rows written, counted by an observed metric
    * INSIDE the write job — so callers (e.g. `extract`) get the count
    * without a second source scan, which on a JDBC source would be a second
    * full table read.
    */
  def writeCsvChunks(df: DataFrame, dir: String,
                     maxRecordsPerFile: Long = 1000000L,
                     maxRecords: Option[Long] = None): Long =
    observedWrite(df, "gzip", maxRecordsPerFile, maxRecords)(
      _.option("header", "true").option("timestampFormat", TimestampFormat).csv(dir))(
      readCsvChunks(df.sparkSession, dir, df.schema))

  /** Cap, widen and count inside the write job; `write` makes the
    * format's own call, `written` is read back only if no count arrives. */
  private def observedWrite(df: DataFrame, compression: String,
                            maxRecordsPerFile: Long, maxRecords: Option[Long])
                           (write: DataFrameWriter[Row] => Unit)
                           (written: => DataFrame): Long = {
    val capped = maxRecords.fold(df)(n =>
      df.limit(math.min(n, Int.MaxValue.toLong).toInt))
    val obs = Observation()
    write(widenForEncode(capped).observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite")
      .option("compression", compression)
      .option("maxRecordsPerFile", maxRecordsPerFile))
    observedCount(obs, written.count())
  }

  private val TimestampFormat = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** S3: CSV chunk source. Schema is pinned (the reference trusts DDL, never
    * infers: duckdb_backend.py:107 `COPY ... (HEADER)`); chunk file order is
    * irrelevant under set semantics.
    */
  def readCsvChunks(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("header", "true")
      .option("timestampFormat", TimestampFormat)
      .csv(dir)

  /** ORC twin of the parquet sink — the second columnar interchange format
    * warehouses speak natively (built into Spark; zlib-compressed). Same
    * observed-count contract as the chunk writers.
    */
  def writeOrc(df: DataFrame, dir: String,
               maxRecordsPerFile: Long = 1000000L): Long =
    observedWrite(df, "zlib", maxRecordsPerFile, None)(_.orc(dir))(
      readOrc(df.sparkSession, dir))

  def readOrc(spark: SparkSession, dir: String): DataFrame =
    spark.read.orc(dir)

  /** Hive-style partitioned parquet sink: one directory per distinct value
    * of `partitionCols` (`col=value/...`), so a reader filtering on those
    * columns scans ONLY the matching directories — partition pruning, the
    * first-order I/O lever at 100 TB (PlanAuditSpec asserts the pruned
    * scan). Cardinality discipline is the caller's: partition by
    * low-cardinality routing columns (type, date, lang), never by an id.
    */
  def writePartitioned(df: DataFrame, dir: String,
                       partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(dir)

  /** Partition-selective refresh — the scale alternative to `reload:` for
    * partitioned sinks: rewrite ONLY the partitions whose CONTENT changed.
    * At 100 TB a daily-partitioned table almost never changes outside a
    * few recent partitions; a full reload rewrites everything, this
    * rewrites the diff.
    *
    * Both sides reduce to one fingerprint row per partition — (count,
    * order-independent sum of xxhash64 over the non-partition columns,
    * taken in sorted-name order so projection order cannot flip the
    * hash) — so the comparison shuffles partition-count rows, never data
    * rows. Changed + new partitions rewrite through Spark's DYNAMIC
    * partition overwrite (untouched sibling directories keep their
    * files); partitions absent from the source are deleted (reload
    * semantics: deletes propagate). Partition values are compared as
    * strings on both sides because the sink's directory round-trip
    * re-infers types. Partition VALUES needing Hive path-escaping
    * (slashes, '=', ':') are out of scope — partition by clean routing
    * values (dates, types, langs), which is the sink's documented
    * discipline anyway.
    *
    * Returns the per-partition report: (partition, status ∈
    * changed | new | removed | unchanged) — the audit line a scheduled
    * refresh logs.
    */
  def refreshPartitions(spark: SparkSession, source: DataFrame, dir: String,
                        partitionCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, concat_ws, count,
      lit, struct, sum, when, xxhash64, concat => fconcat}
    val dataCols = source.columns.filterNot(partitionCols.contains).sorted
    // NULL partition values take Hive's on-disk sentinel, NOT null: a
    // null key component would make concat NULL and concat_ws silently
    // DROP it — a removed null-partition then built key "" and
    // fs.delete(dir + "/", recursive) destroyed the WHOLE table (or,
    // multi-col, a whole parent subtree). The sentinel is also what the
    // sink read-back yields for such directories, so both sides agree.
    def key(df: DataFrame) = concat_ws("/", partitionCols.map(c =>
      fconcat(lit(c + "="), coalesce(col(c).cast("string"),
        lit("__HIVE_DEFAULT_PARTITION__")))): _*)
    def fp(df: DataFrame) = df
      .groupBy(key(df).as("pkey"))
      // decimal(38,0) accumulator: order-independent, exact, and immune
      // to ANSI long-sum overflow however many rows a partition holds
      .agg(count(lit(1)).as("n"),
        sum(xxhash64(struct(dataCols.map(col): _*)).cast("decimal(38,0)"))
          .as("fp"))
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    if (!fs.exists(p)) {
      writePartitioned(source, dir, partitionCols)
      return source.select(key(source).as("partition")).distinct()
        .withColumn("status", lit("new"))
    }
    // Partition-type inference OFF for the sink read: a string source
    // value like "01" writes dir c=01 but re-infers as int 1, so the
    // sink key ("c=1") never matches the source key ("c=01") — the
    // partition churns as new+removed every refresh, and a genuine
    // delete targets the non-existent c=1 while stale c=01 survives
    // forever. Inference happens eagerly at spark.read, so scoping the
    // conf around this one call is safe.
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val inferPrev = spark.conf.get(inferKey)
    spark.conf.set(inferKey, "false")
    val sink =
      try spark.read.parquet(dir)
      finally spark.conf.set(inferKey, inferPrev)
    val diff = fp(source).as("s").join(fp(sink).as("t"),
        $"s.pkey" === $"t.pkey", "full_outer")
      .select(
        coalesce($"s.pkey", $"t.pkey").as("partition"),
        when($"t.pkey".isNull, "new")
          .when($"s.pkey".isNull, "removed")
          .when($"s.n" =!= $"t.n" || $"s.fp" =!= $"t.fp", "changed")
          .otherwise("unchanged").as("status"))
    // materialize the report BEFORE mutating the sink (the plan reads it);
    // the set is partition-count-sized — a bounded driver list by the
    // sink's own low-cardinality partitioning discipline
    val report = diff.collect().map(r => (r.getString(0), r.getString(1)))
    val toWrite = report.collect { case (k, s) if s == "new" || s == "changed" => k }
    if (toWrite.nonEmpty)
      source.where(key(source).isin(toWrite.toSeq: _*))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionCols: _*)
        .parquet(dir)
    report.collect { case (k, "removed") => k }.foreach { k =>
      // defense in depth behind the sentinel above: a delete may only
      // ever target a strict per-partition child of the sink
      require(k.nonEmpty && partitionCols.forall(c => k.contains(c + "=")),
        s"refusing non-partition delete target '$k' under $dir")
      fs.delete(new Path(dir + "/" + k), true)
    }
    report.toSeq.toDF("partition", "status")
  }

  /** JSONL interchange twin of the CSV chunk sink: gzip-compressed
    * newline-delimited JSON with the same rollover, row-cap, and
    * observed-count contract. JSONL survives schema evolution better than
    * CSV (self-describing field names, no quoting ambiguity) at ~2× the
    * bytes — the right interchange when the consumer is another engine's
    * JSON reader rather than a COPY command.
    */
  def writeJsonlChunks(df: DataFrame, dir: String,
                       maxRecordsPerFile: Long = 1000000L,
                       maxRecords: Option[Long] = None): Long =
    observedWrite(df, "gzip", maxRecordsPerFile, maxRecords)(
      _.option("timestampFormat", TimestampFormat).json(dir))(
      readJsonlChunks(df.sparkSession, dir, df.schema))

  /** JSONL chunk source, schema pinned like the CSV twin. */
  def readJsonlChunks(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("timestampFormat", TimestampFormat)
      .json(dir)

  /** S4-S6 generalized: bulk append into a warehouse table over JDBC. */
  def jdbcAppend(df: DataFrame, url: String, dbtable: String): Unit =
    df.write.format("jdbc").option("url", url).option("dbtable", dbtable)
      .mode("append").save()

  // ── Versioned snapshots: poor-man's time travel without a lakehouse
  //    format. Every publish stages a new immutable `v=N` directory and
  //    RENAMES it into place — rename is the atomic primitive, so readers
  //    either see a whole version or none, and a crashed publish leaves
  //    only a stage dir the next publish overwrites. Version discovery is
  //    a directory listing (no manifest); readers pin a version or take
  //    the latest; vacuum keeps the newest `keep`. Storage is the cost —
  //    the Delta/Iceberg tradeoff minus their manifest machinery. Single
  //    writer per table, matching the reference's one-sync-process model
  //    (pgwarehouse.py runs one sync per config) ─────────────────────────

  private val VersionDir = "^v=(\\d+)$".r

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Published versions of a snapshot table root, ascending; empty if the
    * root does not exist yet. */
  def listVersions(spark: SparkSession, root: String): Seq[Long] = {
    val p = new Path(root)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.collect {
      case st if st.isDirectory =>
        st.getPath.getName match {
          case VersionDir(n) => Some(n.toLong)
          case _             => None
        }
    }.flatten.sorted
  }

  /** Publish the frame as the next version; returns its number. */
  def publishVersion(spark: SparkSession, df: DataFrame,
                     root: String): Long = {
    val next = listVersions(spark, root).lastOption.getOrElse(0L) + 1
    val stage = new Path(root, s".stage_v$next")
    df.write.mode("overwrite").parquet(stage.toString)
    val dst = new Path(root, s"v=$next")
    val fs = fsOf(spark, new Path(root))
    require(fs.rename(stage, dst),
      s"version v=$next already exists or rename failed — " +
        "snapshot tables are single-writer")
    next
  }

  /** Read a pinned version, or the latest when `version` is None. */
  def readVersion(spark: SparkSession, root: String,
                  version: Option[Long] = None): DataFrame = {
    val vs = listVersions(spark, root)
    require(vs.nonEmpty, s"no published versions under $root")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in ${vs.mkString(",")}")
    parquet(spark, new Path(root, s"v=$v").toString)
  }

  /** Drop all but the newest `keep` versions; returns the dropped ones.
    * Time travel reaches only what vacuum has not reclaimed. */
  def vacuumVersions(spark: SparkSession, root: String,
                     keep: Int): Seq[Long] = {
    require(keep >= 1, "must keep at least the latest version")
    val vs = listVersions(spark, root)
    val drop = vs.dropRight(keep)
    val fs = fsOf(spark, new Path(root))
    drop.foreach(v => fs.delete(new Path(root, s"v=$v"), true))
    drop
  }

  /** Bucketed catalog table: pre-hash-partitioned and sorted on the join
    * key, so repeated equi-joins/aggregations on that key run with ZERO
    * shuffle on either side (the 100 TB co-location strategy: pay the
    * shuffle once at write time, never again). Bucket count should match
    * the downstream parallelism, not the writer's.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int): Unit =
    // repartition on the bucket column first: HashPartitioning and bucket
    // assignment share the same murmur3 hash, so each write task holds
    // exactly one bucket → ONE file per bucket — the layout Spark's
    // reader requires to trust the per-bucket sort (multiple files per
    // bucket force a re-Sort above every bucketed scan)
    df.repartition(numBuckets, org.apache.spark.sql.functions.col(bucketCol))
      .write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)
}
