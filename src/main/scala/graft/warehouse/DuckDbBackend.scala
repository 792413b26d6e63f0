package graft.warehouse

import java.sql.{Connection, DriverManager, Statement}

import org.apache.spark.sql.types.StructType

import graft.schema.WarehouseDdl

/** In-process DuckDB warehouse backend — the reference's
  * `duckdb_backend.py` as a REAL executable backend, not just DDL parity:
  * create table (duckdb_backend.py:89-97), bulk-load gzip CSV chunks via
  * `COPY ... (HEADER)` (:105-110), keyed upsert via
  * `INSERT OR REPLACE ... FROM read_csv(...)` (:190-197), watermark
  * scalars off the warehouse side (:147-167), and the
  * exists/count/list/drop catalog surface (:69-120).
  *
  * Written against plain `java.sql` — the engine has NO compile-time
  * dependency on the DuckDB driver; `DriverManager` discovers it via
  * ServiceLoader from whatever classpath the deployment (or the test
  * suite) provides. That keeps the production classpath identical to
  * every other round while making the backend executable wherever the
  * one jar is present.
  *
  * Role in the Spark architecture: DuckDB is a SINGLE-NODE warehouse —
  * the 100 TB path stays Spark-native parquet/JDBC; this backend serves
  * the reference's local-analytics deployment shape (duck.db next to the
  * sync config) and gives the e2e suite a real warehouse engine to prove
  * count parity and cell-level upserts against. Each operation opens a
  * short-lived connection: DuckDB shares one embedded database instance
  * per path within the process, and the CLI's command-per-invocation
  * lifecycle has no connection reuse to win.
  */
class DuckDbBackend(val dbPath: String) {
  import DuckDbBackend.Landing

  private def withConn[A](f: Connection => A): A = {
    val c = DriverManager.getConnection(s"jdbc:duckdb:$dbPath")
    try f(c) finally c.close()
  }

  private def withStmt[A](f: Statement => A): A =
    withConn { c =>
      val s = c.createStatement()
      try f(s) finally s.close()
    }

  /** Table identifier hygiene: every name interpolated into backend SQL
    * must be a plain identifier (the reference interpolates raw config
    * strings — a config-injection hazard this port refuses).
    */
  private def ident(name: String): String = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"illegal table/column identifier: '$name'")
    name
  }

  /** CREATE TABLE IF NOT EXISTS from a Spark schema via the shared DuckDb
    * dialect. Single-column keys render column-level `PRIMARY KEY`
    * (reference parity, duckdb_backend.py:72-76); composite keys get a
    * table-level constraint — the reference cannot express them, and
    * `INSERT OR REPLACE` needs the constraint to resolve conflicts. The
    * composite form now lives IN the dialect, so the `ddl` CLI command
    * prints the same legal statement this backend executes.
    */
  def createTable(table: String, schema: StructType,
                  primaryKey: Seq[String]): Unit =
    withStmt(_.execute(
      WarehouseDdl.DuckDb.createTable(ident(table), schema, primaryKey)))

  def dropTable(table: String): Unit =
    withStmt(_.execute(WarehouseDdl.DuckDb.dropTable(ident(table))))

  def tableExists(table: String): Boolean =
    withStmt { s =>
      val rs = s.executeQuery(
        "SELECT count(*) FROM information_schema.tables " +
          s"WHERE table_name = '${ident(table)}'")
      rs.next() && rs.getLong(1) > 0
    }

  def count(table: String): Long =
    withStmt { s =>
      val rs = s.executeQuery(s"SELECT count(*) FROM ${ident(table)}")
      rs.next(); rs.getLong(1)
    }

  def listTables(): Seq[String] =
    withStmt { s =>
      val rs = s.executeQuery("SHOW TABLES")
      Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toList
    }.sorted

  /** Warehouse-side watermark scalar: `SELECT max(col)` (reference
    * duckdb_backend.py:150,159). None on empty/NULL → caller degrades to
    * full load. Returns whatever the JDBC driver maps the column to
    * (Long for BIGINT, java.sql.Timestamp for TIMESTAMP) — the same
    * orderable values Spark's `lit` can push into a source filter.
    */
  def maxScalar(table: String, column: String): Option[Any] =
    withStmt { s =>
      val rs = s.executeQuery(
        s"SELECT max(${ident(column)}) FROM ${ident(table)}")
      rs.next()
      Option(rs.getObject(1)).map {
        case t: java.time.LocalDateTime =>
          java.sql.Timestamp.from(t.toInstant(java.time.ZoneOffset.UTC))
        case other => other
      }
    }

  private def chunkFiles(chunkDir: String): Seq[java.io.File] = {
    val dir = new java.io.File(chunkDir)
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".csv.gz"))
      .sortBy(_.getName).toSeq
  }

  /** `COPY t FROM 'chunk' (HEADER)` (duckdb_backend.py:105-110; DuckDB
    * decompresses by extension). Chunk column order is the table's column
    * order — both derive from the same captured schema.
    *
    * `INSERT OR REPLACE|IGNORE INTO t SELECT * FROM read_csv(...)`
    * (duckdb_backend.py:190-197) — DuckDB resolves conflicts on the
    * table's PRIMARY KEY. `Newer` spells the replace as `INSERT … ON
    * CONFLICT (pks) DO UPDATE SET … WHERE excluded.lm >= t.lm`, so a row
    * older than the landed one leaves it in place. Unlike the reference's
    * `read_csv_auto`, the read is schema-PINNED via a `columns={...}` spec
    * built from the captured schema (the engine-wide rule: interchange
    * reads never re-infer). One statement may not meet a key twice, so
    * callers land one row per key.
    */
  private def landingSql(table: String, landing: Landing)
                        (chunk: java.io.File): String = landing match {
    case Landing.Copy =>
      s"COPY ${ident(table)} FROM '${chunk.getAbsolutePath}' (HEADER)"
    case keyed: Landing.Keyed =>
      def q(c: String) = WarehouseDdl.DuckDb.quoteName(c)
      val spec = keyed.schema.fields.map(f =>
        s"'${q(f.name)}': " +
          s"'${WarehouseDdl.DuckDb.colType(WarehouseDdl.pgName(f.dataType))}'")
        .mkString("{", ", ", "}")
      val rows = s"SELECT * FROM read_csv('${chunk.getAbsolutePath}', " +
        s"header=true, columns=$spec)"
      keyed match {
        case Landing.Replace(_) => s"INSERT OR REPLACE INTO ${ident(table)} $rows"
        case Landing.Ignore(_) => s"INSERT OR IGNORE INTO ${ident(table)} $rows"
        case Landing.Newer(schema, pks, lm) =>
          val set = schema.fieldNames.filterNot(pks.contains)
            .map(c => s"${q(c)} = excluded.${q(c)}").mkString(", ")
          s"INSERT INTO ${ident(table)} $rows ON CONFLICT " +
            s"(${pks.map(q).mkString(", ")}) DO UPDATE SET $set " +
            s"WHERE excluded.${q(lm)} >= ${ident(table)}.${q(lm)}"
      }
  }

  /** Run one landing statement per chunk in `chunkDir`, in name order.
    * Returns chunks landed.
    */
  private def landChunks(s: Statement, table: String, chunkDir: String,
                         landing: Landing): Long = {
    val files = chunkFiles(chunkDir)
    files.foreach(f => s.execute(landingSql(table, landing)(f)))
    files.size.toLong
  }

  /** Bulk-load every pending gzip CSV chunk with `COPY`. Returns
    * chunks loaded.
    */
  def loadChunks(table: String, chunkDir: String): Long =
    withStmt(landChunks(_, table, chunkDir, Landing.Copy))

  /** Keyed upsert of every pending chunk with `INSERT OR REPLACE`. */
  def mergeChunks(table: String, chunkDir: String,
                  schema: StructType): Long =
    withStmt(landChunks(_, table, chunkDir, Landing.Replace(schema)))

  /** Land every pending chunk with `landing`, each statement committed on
    * its own. Returns chunks landed. */
  def land(table: String, chunkDir: String, landing: Landing): Long = landing match {
    case Landing.Copy => loadChunks(table, chunkDir)
    case Landing.Replace(schema) => mergeChunks(table, chunkDir, schema)
    case _ => withStmt(landChunks(_, table, chunkDir, landing))
  }

  /** Exactly-once append of one `watch` micro-batch: land every chunk in
    * `chunkDir` into `table` inside ONE transaction that also claims
    * (table, batchId) in a batch-log table. foreachBatch is at-least-once
    * on crash replay; a replayed batch finds its id already claimed and
    * is skipped whole, so rows land exactly once. The claim and the
    * statements commit together — a crash mid-batch rolls both back, and
    * the replay then re-lands cleanly. Returns true if the batch was
    * applied, false if it was a replay of an already-committed batch.
    *
    * (Single-writer is a DuckDB file-level guarantee, so check-then-insert
    * needs no cross-process race handling.)
    */
  def appendBatchIdempotent(table: String, batchId: Long,
                            chunkDir: String,
                            landing: Landing = Landing.Copy): Boolean =
    withConn { c =>
      c.setAutoCommit(false)
      val s = c.createStatement()
      try {
        s.execute("CREATE TABLE IF NOT EXISTS _graft_watch_log (" +
          "watch_table VARCHAR, batch_id BIGINT, " +
          "PRIMARY KEY (watch_table, batch_id))")
        val rs = s.executeQuery("SELECT count(*) FROM _graft_watch_log " +
          s"WHERE watch_table = '${ident(table)}' AND batch_id = $batchId")
        rs.next()
        if (rs.getLong(1) > 0) { c.rollback(); false }
        else {
          s.execute("INSERT INTO _graft_watch_log VALUES " +
            s"('${ident(table)}', $batchId)")
          landChunks(s, table, chunkDir, landing)
          c.commit(); true
        }
      } catch { case e: Throwable => c.rollback(); throw e }
      finally s.close()
    }

  /** Read a full table back ordered by `orderBy` — the spec's cell-level
    * verification surface (small tables only; this is a test/debug aid,
    * not a data path).
    */
  def selectAll(table: String, orderBy: String): Seq[Seq[Any]] =
    withStmt { s =>
      val rs = s.executeQuery(
        s"SELECT * FROM ${ident(table)} ORDER BY ${ident(orderBy)}")
      val n = rs.getMetaData.getColumnCount
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => (1 to n).map(r.getObject(_)).toList).toList
    }
}

object DuckDbBackend {
  /** How chunk rows meet the table's rows: `Copy` appends them all; a
    * keyed landing reads them as `schema` and, on a key the table holds,
    * replaces its row (`Replace`), keeps it (`Ignore`), or replaces it
    * unless the landed row is newer by `lastModified` (`Newer`). */
  sealed trait Landing
  object Landing {
    case object Copy extends Landing
    sealed trait Keyed extends Landing {
      def schema: StructType
    }
    final case class Replace(schema: StructType) extends Keyed
    final case class Ignore(schema: StructType) extends Keyed
    final case class Newer(schema: StructType, pks: Seq[String],
                           lastModified: String) extends Keyed
  }
}
