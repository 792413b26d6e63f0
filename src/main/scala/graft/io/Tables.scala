package graft.io

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType, Type}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.util.RebaseDateTime
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{count, expr, lit, timestamp_micros}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, LongType,
  ShortType, StructType, TimestampNTZType, TimestampType}

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

  /** One parquet file's footer, row groups included, read by the reader
    * Spark's own scans use: about 0.8 ms per local file, where
    * `ParquetFileReader.open` takes about 12 ms. */
  private[graft] def footer(conf: org.apache.hadoop.conf.Configuration,
                            file: FileStatus): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.NO_FILTER)

  /** The parquet relation under `plan`'s projections and its columns;
    * None for any other plan. */
  @annotation.tailrec
  private def parquetScan(plan: LogicalPlan)
  : Option[(HadoopFsRelation, Seq[AttributeReference])] = plan match {
    case Project(_, child) => parquetScan(child)
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation if h.fileFormat.isInstanceOf[ParquetFileFormat] =>
        Some(h -> l.output)
      case _ => None
    }
    case _ => None
  }

  /** The footers of exactly the files a scan of `h` reads; None when one
    * cannot be read (the scan itself then reports it). */
  private def scanFooters(spark: SparkSession, h: HadoopFsRelation)
  : Option[Seq[ParquetMetadata]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    try Some(h.location.listFiles(Nil, Nil).flatMap(_.files)
      .map(f => footer(conf, f.fileStatus)))
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** `df.count()` from the footers' row counts when `df` is projections
    * over one parquet scan, with no Spark job; otherwise the count job. */
  def rowCount(df: DataFrame): Long =
    parquetScan(df.queryExecution.analyzed)
      .flatMap { case (h, _) => scanFooters(df.sparkSession, h) }
      .fold(df.count())(_.map(_.getBlocks.asScala.map(_.getRowCount).sum).sum)

  /** `max(col)` over `df` from parquet footers, with no Spark job. Some of
    * the answer the aggregate job gives (None for an empty table or an
    * all-null column) when `df` is projections over one parquet scan,
    * `col` passes one of the scan's data columns through unchanged (a
    * column [[read]] repaired is computed, not passed through), and in
    * every file the scan reads that column is a signed INT32/INT64, DATE
    * or INT64 TIMESTAMP(MICROS|MILLIS) of the column's Spark type whose
    * every row group has min/max statistics or holds only nulls. Dates and
    * timestamps also need every row group's min at or past the last
    * calendar switch, where no read-time rebase moves a value. None in
    * every other case (floats, decimals, strings, INT96, missing
    * statistics, any other plan): the caller runs the job.
    */
  def footerMax(df: DataFrame, col: String): Option[Option[Any]] = {
    val resolver = df.sparkSession.sessionState.conf.resolver
    val plan = df.queryExecution.analyzed
    for {
      attr <- plan.output.filter(a => resolver(a.name, col)) match {
        case Seq(a) => Some(a)
        case _ => None
      }
      (h, output) <- parquetScan(plan)
      column <- output.find(_.exprId == attr.exprId)
      if !h.partitionSchema.fieldNames.exists(resolver(_, column.name))
      footers <- scanFooters(df.sparkSession, h)
      perFile = footers.map(f => fileMax(f, column, resolver))
      if perFile.forall(_.isDefined)
    } yield perFile.flatten.flatten.maxOption.map { v =>
      val internal: Any = column.dataType match {
        case ByteType => v.toByte
        case ShortType => v.toShort
        case IntegerType | DateType => v.toInt
        case _ => v
      }
      CatalystTypeConverters.createToScalaConverter(column.dataType)(internal)
    }
  }

  /** One file's [[footerMax]] of `column` as Spark's internal value: Some
    * of the max (None when every row group holds only nulls), or None when
    * the footer cannot answer. */
  private def fileMax(file: ParquetMetadata, column: AttributeReference,
                      resolver: (String, String) => Boolean): Option[Option[Long]] = {
    val fields = file.getFileMetaData.getSchema.getFields.asScala
      .filter(f => resolver(f.getName, column.name))
    for {
      field <- fields.toSeq match {
        case Seq(f) if f.isPrimitive && !f.isRepetition(Type.Repetition.REPEATED) =>
          Some(f.asPrimitiveType)
        case _ => None
      }
      (scale, floor) <- statsScale(field, column.dataType)
      perGroup = file.getBlocks.asScala.toSeq.map { block =>
        block.getColumns.asScala.find(_.getPath.toArray.sameElements(Array(field.getName)))
          .flatMap { chunk =>
            val s = chunk.getStatistics
            if (s != null && s.hasNonNullValue) {
              def value(v: Any) = Math.multiplyExact(v.asInstanceOf[Number].longValue, scale)
              if (value(s.genericGetMin) < floor) None
              else Some(Some(value(s.genericGetMax)))
            } else if (s != null && s.isNumNullsSet &&
              s.getNumNulls == chunk.getValueCount) Some(None)
            else None
          }
      }
      if perGroup.forall(_.isDefined)
    } yield perGroup.flatten.flatten.maxOption
  }

  /** How a parquet column's statistics become the internal value of a
    * column of Spark type `dt`: the factor to µs and the least min no
    * read-time calendar rebase can move. None for a column whose
    * statistics [[footerMax]] does not answer from. */
  private def statsScale(t: PrimitiveType, dt: DataType): Option[(Long, Long)] = {
    import LogicalTypeAnnotation._
    import PrimitiveType.PrimitiveTypeName.{INT32, INT64}
    val any = Long.MinValue
    (t.getPrimitiveTypeName, t.getLogicalTypeAnnotation, dt) match {
      case (INT32, null, IntegerType) | (INT64, null, LongType) => Some((1L, any))
      case (INT32 | INT64, i: IntLogicalTypeAnnotation, _) if i.isSigned &&
        dt == (i.getBitWidth match {
          case 8 => ByteType
          case 16 => ShortType
          case 32 => IntegerType
          case _ => LongType
        }) => Some((1L, any))
      case (INT32, _: DateLogicalTypeAnnotation, DateType) =>
        Some((1L, RebaseDateTime.lastSwitchJulianDay.toLong))
      case (INT64, ts: TimestampLogicalTypeAnnotation, TimestampType | TimestampNTZType) =>
        ts.getUnit match {
          case TimeUnit.MICROS => Some((1L, RebaseDateTime.lastSwitchJulianTs))
          case TimeUnit.MILLIS => Some((1000L, RebaseDateTime.lastSwitchJulianTs))
          case _ => None
        }
      case _ => None
    }
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
