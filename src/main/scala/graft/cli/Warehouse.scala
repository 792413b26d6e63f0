package graft.cli

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog.Catalog
import graft.io.Tables
import graft.sync.{Merge, Sink, SyncEngine, SyncStep, SyncStrategy}
import graft.warehouse.DuckDbBackend

/** The command controller: the Spark-native equivalent of the reference's
  * `PGWarehouse` class (reference pgwarehouse.py:40-124) — one method per
  * CLI command, a per-table strategy resolver, and the `all` loop with
  * per-table error isolation (pgwarehouse.py:97-110 swallows a failing
  * table and continues with the rest).
  *
  * Source and warehouse are directories of parquet tables; extract/load
  * move rows through the reference's gzip-CSV interchange format
  * (`{data_dir}/{table}_data`, pgwarehouse.py:167-168).
  */
class Warehouse(spark: SparkSession, cfg: GraftConfig,
                /** Injectable clock so `reload: [sun]` / `reload: 15`
                  * schedules are testable on any wall-clock day. */
                today: () => java.time.LocalDate = () => java.time.LocalDate.now()) {

  private val engine = new SyncEngine

  private def warehousePath(name: String) = s"${cfg.warehouseDir}/$name.parquet"
  private def chunkDir(name: String) = s"${cfg.dataDir}/${name}_data"

  def sourceTable(name: String): DataFrame =
    Tables.table(spark, cfg.sourceDir, name)

  def warehouseTable(name: String): Option[DataFrame] = {
    recoverIfCrashed(warehousePath(name))
    if (Catalog.tableExists(spark, cfg.warehouseDir, name))
      Some(Tables.table(spark, cfg.warehouseDir, name))
    else None
  }

  /** Strategy resolution, mirroring `get_table_opts` + `sync` dispatch
    * (pgwarehouse.py:72-80, 180-189): skip > reload > last-modified upsert >
    * append-only; tables with no primary key are reload-only (the
    * local_parks degraded path, tests/pg_setup.sql:22-29).
    */
  def strategyFor(name: String): SyncStrategy = {
    val o = opts(name)
    if (o.skip) SyncStrategy.Skip
    else if (o.reload.applies(today())) SyncStrategy.Reload
    else (o.primaryKey, o.lastModified) match {
      case (Some(_), Some(lm)) => SyncStrategy.Upsert(o.pks, lm)
      case (Some(_), None)     => SyncStrategy.AppendOnly(o.pks)
      case _                   => SyncStrategy.Reload
    }
  }

  private def opts(name: String): TableOpts =
    cfg.tables.getOrElse(name, TableOpts())

  /** `extract`: source table → chunked gzip CSV under the data dir
    * (pgwarehouse.py:254-303). Returns (chunk files, records extracted).
    */
  def extract(name: String): (Long, Long) = {
    val records = extractRows(name, sourceTable(name))
    (pendingChunks(name).size.toLong, records)
  }

  /** Write `rows` of table `name` as its pending chunks. A sync delta's
    * watermark predicate lands in the source scan exactly like the
    * reference injects it into `\copy (select * from t where ...)`
    * (duckdb_backend.py:157,167; pgwarehouse.py:275), so only the delta
    * crosses the wire. Returns the records written.
    */
  private def extractRows(name: String, rows: DataFrame): Long = {
    // records written comes from an observed metric inside the write job
    // (Tables.writeCsvChunks) — ONE source scan per extract; a separate
    // count() would be a second full read on a JDBC source
    val records = Tables.writeCsvChunks(rows, chunkDir(name),
      maxRecords = cfg.maxRecords)
    // persist the captured schema next to the chunks (the reference's
    // {table}.schema dump, pgwarehouse.py:248-252) so `load` can run
    // without source access — true two-phase extract/load
    writeSchemaFile(name, rows.schema)
    records
  }

  /** `load`: replay the CSV chunks into the warehouse table, schema pinned
    * from the capture file written at extract time (the reference trusts
    * DDL, never infers; duckdb_backend.py:107). `dropTable` recreates from
    * scratch (pgwarehouse.py:176-178).
    */
  def load(name: String, dropTable: Boolean = false): Long = {
    // no chunks (all archived or never extracted) → no-op, like replaying
    // the reference's chunk loop over an empty dir — never wipe the table,
    // so the guard runs BEFORE any drop: a reload whose extract produced
    // zero chunks must not destroy existing data
    if (pendingChunks(name).isEmpty)
      return warehouseTable(name).map(Tables.rowCount).getOrElse(0L)
    if (dropTable) Catalog.dropPath(spark, warehousePath(name))
    val df = Tables.readCsvChunks(spark, chunkDir(name), capturedSchema(name))
    writeAtomic(df, warehousePath(name))
    archiveChunks(name)
    Tables.rowCount(Tables.parquet(spark, warehousePath(name)))
  }

  private def schemaFile(name: String) = s"${cfg.dataDir}/$name.schema.json"

  private def writeSchemaFile(name: String,
                              schema: org.apache.spark.sql.types.StructType): Unit = {
    val p = new Path(schemaFile(name))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(schema.json.getBytes("UTF-8")) finally out.close()
  }

  /** The schema captured at extract time: source access is NOT required
    * to load, matching the reference's two-phase contract. Falls back to
    * the live source only if the capture file is missing.
    */
  private def capturedSchema(name: String): org.apache.spark.sql.types.StructType = {
    val p = new Path(schemaFile(name))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) sourceTable(name).schema
    else {
      val in = fs.open(p)
      try {
        val text = new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        org.apache.spark.sql.types.DataType.fromJson(text)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
      } finally in.close()
    }
  }

  private def pendingChunks(name: String): Seq[Path] = {
    val dir = new Path(chunkDir(name))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".csv.gz")).toSeq
  }

  /** After a successful load, chunks move to `archive/` so a crashed or
    * repeated load never double-ingests (the reference's resumability
    * contract: clickhouse_backend.py:163-171, README.md:229-238).
    */
  private def archiveChunks(name: String): Unit = {
    val dir = new Path(chunkDir(name))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val archive = new Path(dir, "archive")
    fs.mkdirs(archive)
    pendingChunks(name)
      .foreach(f => fs.rename(f, new Path(archive, f.getName)))
  }

  /** `sync`: one incremental step per the table's strategy — bootstrap on
    * missing, watermark delta, merge-or-append (the reference's
    * `update_table` control flow, clickhouse_backend.py:189-243), decided
    * by [[SyncEngine.plan]] and landed by [[land]]. Returns the action
    * taken.
    */
  def sync(name: String): String = {
    val target = warehouseTable(name)
    val step = engine.plan(sourceTable(name), strategyFor(name),
      target.map(Sink.of), batch = false)
    land(name, step, target, batchId = None)
    step.action
  }

  /** Land one planned step in the parquet table `name` (now `target`): a
    * reload, bootstrap or merge through [[writeAtomic]], an append or
    * insert through [[appendAtomic]]. An unkeyed `watch` batch has no key
    * to anti-join its replay away, so it appends under its `b<batchId>-`
    * file prefix instead. A guarded merge first drops the rows older than
    * their landed row ([[Merge.notOlder]]).
    */
  private def land(name: String, step: SyncStep, target: Option[DataFrame],
                   batchId: Option[Long]): Unit = {
    val path = warehousePath(name)
    step match {
      case SyncStep.Skip => ()
      case SyncStep.Replace(_, rows) => writeAtomic(rows, path)
      case SyncStep.Append(rows) => batchId.fold(appendAtomic(rows, path))(
        graft.streaming.StreamingSync.commitBatchFiles(spark, rows, _, path))
      case SyncStep.Insert(rows, pks) =>
        appendAtomic(rows.join(target.get, pks, "left_anti"), path)
      case SyncStep.Upsert(rows, pks, guard) =>
        val fresh = guard.fold(rows)(Merge.notOlder(rows, target.get, pks, _))
        writeAtomic(Merge.deleteInsert(target.get, fresh, pks), path)
    }
  }

  /** `reload`: full extract + load with drop (pgwarehouse.py:191-194). */
  def reload(name: String): Long = {
    extract(name)
    load(name, dropTable = true)
  }

  /** `ddl`: the CREATE TABLE a warehouse backend would issue for this
    * table's captured schema, in the requested dialect (reference
    * clickhouse_backend.py:143-159 / duckdb_backend.py:89-92 /
    * snowflake_backend.py:131-133 — there executed against a live server,
    * here emitted for the operator to run or review).
    */
  def ddl(name: String, dialect: String): String = {
    val d = graft.schema.WarehouseDdl.dialects.getOrElse(dialect.toLowerCase,
      throw new IllegalArgumentException(
        s"unknown dialect '$dialect' (expected one of " +
          s"${graft.schema.WarehouseDdl.dialects.keys.mkString(", ")})"))
    // captured schema, so it works with the source detached, same as load
    d.createTable(name, capturedSchema(name), opts(name).pks)
  }

  /** `profile`: per-column null/distinct/min/max report for a source
    * table — the pre-sync data-quality check (no reference analog; the
    * operator equivalent of eyeballing `SELECT *` before a backfill).
    */
  def profile(name: String): DataFrame = {
    val df = sourceTable(name)
    graft.operators.Sketches.profile(df,
      df.schema.fields.map(f =>
        f.name -> org.apache.spark.sql.functions.col(f.name)).toSeq)
  }

  /** `list`: source tables with sizes (pgwarehouse.py:218-237). */
  def list(): DataFrame =
    Catalog.listWithSizes(spark, cfg.sourceDir,
      Catalog.listTables(spark, cfg.sourceDir))

  /** `listwh`: warehouse tables with sizes (SHOW TABLES analogs). */
  def listwh(): DataFrame =
    Catalog.listWithSizes(spark, cfg.warehouseDir,
      Catalog.listTables(spark, cfg.warehouseDir))

  /** The `all` loop: run `cmd` for every configured table, isolating
    * per-table failures exactly like the reference (pgwarehouse.py:97-110:
    * log and continue). Returns (table → error-if-failed).
    */
  def forAll(cmd: String => Unit): Seq[(String, Option[Throwable])] =
    cfg.tables.keys.toSeq.map { name =>
      name -> (try { cmd(name); None } catch {
        case e: Exception =>
          System.err.println(s"[graft] table $name failed: ${e.getMessage}")
          Some(e)
      })
    }

  /** `compact`: bin-pack a warehouse table's small files to ~`targetBytes`
    * parquet files (the maintenance op every incremental-append table
    * eventually needs — each append sync adds the delta's own files until
    * scans pay a per-file open cost). Rewrites through the same atomic
    * staged swap as load, so readers never see a partial table. Returns
    * (files before, files after, rows).
    */
  def compact(name: String, targetBytes: Long = 128L * 1024 * 1024)
  : (Long, Long, Long) = {
    val path = warehousePath(name)
    // before the read: a pending committed append must be in the rewrite
    recoverIfCrashed(path)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no warehouse table $name")
    def dataFiles = fs.listStatus(p)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val before = dataFiles
    val totalBytes = before.map(_.getLen).sum
    val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    // row count observed INSIDE the rewrite job — a read-back count()
    // would scan the whole compacted table a second time. Bounded wait +
    // degenerate-path fallback via Tables.observedCount (never hang the
    // maintenance command on a zero-task or cancelled job).
    val obs = org.apache.spark.sql.Observation()
    writeAtomic(Tables.parquet(spark, path).repartition(nFiles)
      .observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n")), path)
    val rows = Tables.observedCount(obs, Tables.rowCount(Tables.parquet(spark, path)))
    (before.length.toLong, dataFiles.length.toLong, rows)
  }

  // ── Snapshots: versioned, immutable copies of a warehouse table for
  //    time travel and pre-migration audits (graft's extension — the
  //    reference's reload/upsert destroys history in place). Backed by
  //    Tables.publishVersion's atomic-rename store, rooted beside the
  //    live table ───────────────────────────────────────────────────────

  private def snapshotRoot(name: String) =
    s"${cfg.warehouseDir}/$name.snapshots"

  /** Publish the CURRENT warehouse table as the next snapshot version. */
  def snapshotPublish(name: String): Long = {
    val path = warehousePath(name)
    recoverIfCrashed(path)
    require(Catalog.tableExists(spark, cfg.warehouseDir, name),
      s"no warehouse table $name to snapshot")
    Tables.publishVersion(spark, Tables.parquet(spark, path),
      snapshotRoot(name))
  }

  /** Published snapshot versions of a table, ascending. */
  def snapshotVersions(name: String): Seq[Long] =
    Tables.listVersions(spark, snapshotRoot(name))

  /** A pinned snapshot version (or the latest) as a DataFrame. */
  def snapshotRead(name: String, version: Option[Long] = None): DataFrame =
    Tables.readVersion(spark, snapshotRoot(name), version)

  /** Keep the newest `keep` versions; returns the reclaimed ones. */
  def snapshotVacuum(name: String, keep: Int): Seq[Long] =
    Tables.vacuumVersions(spark, snapshotRoot(name), keep)

  /** `watch`: the reference's cron-poll incremental loop (README.md:217-225
    * tells users to re-run `sync` on a schedule) as ONE checkpointed
    * streaming query — newly landed source files since the last invocation
    * append to the warehouse table exactly once, with the stream
    * checkpoint replacing the reference's high-watermark bookkeeping (file
    * progress survives restarts; a re-run after no new files syncs 0
    * rows). AvailableNow drains-and-stops, so the command composes with
    * any scheduler; a continuous deployment strips the trigger.
    *
    * Each micro-batch is planned and landed like a `sync` tick; a replay
    * lands nothing new. Returns rows drained.
    */
  def watch(name: String): Long = {
    val strategy = strategyFor(name)
    // skip is the operator's do-not-touch instruction: nothing drains
    if (strategy == SyncStrategy.Skip) return 0L
    graft.streaming.StreamingSync.incrementalFileSyncVia(spark, landingZone(name),
      s"${cfg.dataDir}/${name}_watch_ckpt") { (batch, batchId) =>
      val target = warehouseTable(name)
      land(name, engine.plan(batch, strategy, target.map(Sink.of), batch = true),
        target, Some(batchId))
    }
  }

  /** The source directory new files land in, which both `watch` paths
    * drain. */
  private def landingZone(name: String): String = {
    val src = s"${cfg.sourceDir}/$name.parquet"
    val p = new Path(src)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p) && fs.getFileStatus(p).isDirectory,
      s"watch needs a directory source (a landing zone): $src")
    src
  }

  // ───────────────────────── DuckDB warehouse ─────────────────────────
  // The reference's in-process warehouse (duckdb_backend.py) driven end
  // to end: the SAME extract/chunk/schema plumbing as the parquet path,
  // with the warehouse side executed by a real engine. Enabled via
  // `--backend duckdb` (or `warehouse.duckdb_path` in the config).

  /** `load --backend duckdb`: replay pending chunks into the DuckDB
    * table (create-if-missing from the captured schema), archive them,
    * return the table's row count (duckdb_backend.py:78-110).
    *
    * Default semantics are FULL REPLACE (documented in the CLI usage):
    * the pending chunks (a full extract) BECOME the table. This matches
    * the parquet `load` path but deliberately deviates from the
    * reference's append-into-existing default (pgwarehouse.py:176-184,
    * duckdb_backend.py:78-110 with drop_table=False) — a bare re-create
    * + COPY on top of existing rows doubled a no-PK table and aborted a
    * keyed one with a duplicate-key error; same CLI, different results
    * per backend. The reference's append behavior stays available as
    * `load <table> --mode append` (`append = true`): chunks COPY into
    * the existing table untouched — the caller owns de-duplication, and
    * a keyed table raises the engine's duplicate-key error exactly as
    * the reference would.
    */
  def loadDuck(name: String, duck: DuckDbBackend,
               append: Boolean = false): Long = {
    if (pendingChunks(name).isEmpty)
      return if (duck.tableExists(name)) duck.count(name) else 0L
    // The empty-chunks guard above protects existing data when an
    // extract produced nothing.
    if (!append) duck.dropTable(name)
    if (!append || !duck.tableExists(name))
      duck.createTable(name, capturedSchema(name), opts(name).pks)
    duck.loadChunks(name, chunkDir(name))
    archiveChunks(name)
    duck.count(name)
  }

  /** `watch --backend duckdb`: the same checkpointed drain-and-stop as
    * `watch`, but each micro-batch lands in the live DuckDB table —
    * batch → gzip CSV chunks (the engine's interchange format) →
    * transactional batch-logged landing. The stream checkpoint makes file
    * progress survive restarts; the backend's batch log makes a crash
    * replay of an already-committed batch a no-op, so rows land exactly
    * once (the reference's cron-poll `sync` loop, README.md:217-225,
    * pointed at a real warehouse engine).
    */
  def watchDuck(name: String, duck: DuckDbBackend): Long = {
    val strategy = strategyFor(name)
    // same do-not-touch contract as watch(): a skipped table must not
    // even be created in the warehouse engine
    if (strategy == SyncStrategy.Skip) return 0L
    duck.createTable(name, capturedSchema(name), opts(name).pks)
    graft.streaming.StreamingSync.incrementalFileSyncVia(spark, landingZone(name),
      s"${cfg.dataDir}/${name}_watch_duck_ckpt") { (batch, batchId) =>
      landDuck(name, engine.plan(batch, strategy, duckSink(name, duck),
        batch = true), duck, Some(batchId))
    }
  }

  /** `reload --backend duckdb`: drop + full extract/load. */
  def reloadDuck(name: String, duck: DuckDbBackend): Long = {
    extract(name)
    loadDuck(name, duck)
  }

  /** `sync --backend duckdb`: the step [[SyncEngine.plan]] decides, with
    * the watermark read from the WAREHOUSE side (duckdb_backend.py:129-197),
    * landed by [[landDuck]]. Returns the action taken.
    */
  def syncDuck(name: String, duck: DuckDbBackend): String =
    landDuck(name, engine.plan(sourceTable(name), strategyFor(name),
      duckSink(name, duck), batch = false), duck, batchId = None)

  /** The DuckDB table as [[SyncEngine]] reads it; None when it is missing. */
  private def duckSink(name: String, duck: DuckDbBackend): Option[Sink] =
    if (!duck.tableExists(name)) None else Some(new Sink {
      def max(col: String): Option[Any] = duck.maxScalar(name, col)
      // watermark needs ONE monotone key, like the reference
      // (duckdb_backend.py:143-144); the composite anti-join delta has no
      // warehouse-side analog without reading the whole duck table back
      def keys(pks: Seq[String]): DataFrame =
        throw new IllegalArgumentException(
          s"duckdb append-only sync needs a single-column pk, got " +
            s"${pks.mkString(",")} (reference parity, duckdb_backend.py:143-144)")
    })

  /** Land one planned step in DuckDB from its rows, extracted once as
    * gzip CSV: a tick's reload or bootstrap through [[loadDuck]], anything
    * else by `COPY` (append), `INSERT OR IGNORE` (insert),
    * `INSERT OR REPLACE` (merge) or, for a guarded merge,
    * `INSERT … ON CONFLICT … DO UPDATE … WHERE` the row is not older than
    * the landed one. A zero-row tick delta is a `noop`; a `watch` batch
    * lands inside the backend's batch-log transaction. Returns the action
    * taken.
    */
  private def landDuck(name: String, step: SyncStep, duck: DuckDbBackend,
                       batchId: Option[Long]): String = {
    import DuckDbBackend.Landing
    def landed(rows: DataFrame, landing: Landing): String = batchId match {
      case Some(id) =>
        val chunks = s"${cfg.dataDir}/${name}_watch_duck_b$id"
        Tables.writeCsvChunks(rows, chunks)
        duck.appendBatchIdempotent(name, id, chunks, landing)
        Catalog.dropPath(spark, chunks)
        step.action
      case None =>
        if (extractRows(name, rows) == 0) "noop"
        else { duck.land(name, chunkDir(name), landing); archiveChunks(name); step.action }
    }
    step match {
      case SyncStep.Skip => step.action
      case SyncStep.Replace(action, rows) if batchId.isEmpty =>
        extractRows(name, rows)
        loadDuck(name, duck)
        action
      case SyncStep.Replace(_, rows) => landed(rows, Landing.Copy)
      case SyncStep.Append(rows) => landed(rows, Landing.Copy)
      case SyncStep.Insert(rows, _) => landed(rows, Landing.Ignore(rows.schema))
      case SyncStep.Upsert(rows, _, None) => landed(rows, Landing.Replace(rows.schema))
      case SyncStep.Upsert(rows, pks, Some(lm)) =>
        landed(rows, Landing.Newer(rows.schema, pks, lm))
    }
  }

  /** Staged swap with the old table preserved until the new one is
    * live: write stage → move live aside → rename stage in → drop the
    * old copy. The previous delete-then-rename form had two loss modes
    * this sequence closes: `fs.rename` reports most failures by
    * RETURNING FALSE (ignored, the warehouse table vanished silently —
    * the same contract StreamingSync.incrementalFileSync and
    * Tables.publishVersion already `require`), and a crash between the
    * delete and the rename left no table at all. Now every window
    * leaves either the live table or its `.__old` copy on disk, and any
    * rename failure raises instead of returning success.
    */
  private def writeAtomic(df: DataFrame, path: String): Unit = {
    recoverIfCrashed(path)
    val tmp = path + ".__tmp"
    df.write.mode("overwrite").parquet(tmp)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(path + ".__old")
    fs.delete(old, true)
    if (fs.exists(p))
      require(fs.rename(p, old), s"cannot move live table aside: $p")
    require(fs.rename(new Path(tmp), p),
      s"rename $tmp -> $p failed; previous table preserved at $old")
    fs.delete(old, true)
    ()
  }

  /** Append commit: land `rows` next to the live table's files without
    * rewriting them. Only the rows are written, to the `.__append` stage;
    * Spark's job commit writes the stage's `_SUCCESS` marker last, so the
    * marker is the commit point. The committed part files then move into
    * the live directory one rename each, and the stage is dropped. A crash
    * anywhere is settled by [[recoverIfCrashed]]: before the marker the
    * append never happened, after it the append completes — the table is
    * either the old one or the old one plus the whole delta.
    */
  private def appendAtomic(rows: DataFrame, path: String): Unit = {
    recoverIfCrashed(path)
    rows.write.mode("overwrite").parquet(path + ".__append")
    finishAppend(path)
  }

  /** Move a committed append stage's part files into the live table and
    * drop the stage. A part file with no rows stays behind (Spark writes
    * one for partition 0 even when it is empty), so a zero-row delta adds
    * no file to the table.
    */
  private def finishAppend(path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val live = new Path(path)
    val stage = new Path(path + ".__append")
    val fs = live.getFileSystem(conf)
    fs.listStatus(stage)
      .filter(f => f.getPath.getName.endsWith(".parquet") &&
        Tables.footer(conf, f).getBlocks.asScala.map(_.getRowCount).sum > 0)
      .foreach { f =>
        val dst = new Path(live, f.getPath.getName)
        require(fs.rename(f.getPath, dst),
          s"append commit: cannot move ${f.getPath} -> $dst")
      }
    fs.delete(stage, true)
    ()
  }

  /** Crash recovery for the two commits, run before every warehouse read
    * and write ([[warehouseTable]], [[writeAtomic]], [[appendAtomic]],
    * `compact`, `snapshotPublish`), so whichever touches the table first
    * after a crash settles it:
    *  - [[writeAtomic]]'s one exposed window: a crash between
    *    rename(live, .__old) and rename(.__tmp, live) leaves the history
    *    ONLY at `.__old` — and before this hook, the next command silently
    *    treated the table as absent (a watch() merge then bootstrapped
    *    from one micro-batch and the following writeAtomic deleted the
    *    preserved copy, discarding history for good). If the live path is
    *    missing but `.__old` exists, rename it back.
    *  - [[appendAtomic]]: a stage with `_SUCCESS` is committed, so the
    *    rest of its files move in; a stage without it, or beside no live
    *    table, is deleted.
    */
  private def recoverIfCrashed(path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(path + ".__old")
    if (!fs.exists(p) && fs.exists(old))
      require(fs.rename(old, p),
        s"crash recovery: cannot restore preserved table $old -> $p")
    val stage = new Path(path + ".__append")
    if (fs.exists(p) && fs.exists(new Path(stage, "_SUCCESS"))) finishAppend(path)
    else fs.delete(stage, true)
    ()
  }
}
