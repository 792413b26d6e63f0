package graftbench

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.types.StructType

import graft.warehouse.DuckDbBackend

/** The engine's DuckDB backend with a span around every call, so the
  * warehouse layer is traced without a change to the program. */
final class TracedDuck(path: String, tr: Tracer) extends DuckDbBackend(path) {
  override def createTable(t: String, s: StructType, pk: Seq[String]): Unit =
    tr.span("warehouse.catalog")(super.createTable(t, s, pk))
  override def dropTable(t: String): Unit = tr.span("warehouse.catalog")(super.dropTable(t))
  override def tableExists(t: String): Boolean = tr.span("warehouse.catalog")(super.tableExists(t))
  override def count(t: String): Long = tr.span("warehouse.catalog")(super.count(t))
  override def loadChunks(t: String, dir: String): Long =
    tr.span("warehouse.copy")(super.loadChunks(t, dir))
  override def mergeChunks(t: String, dir: String, s: StructType): Long =
    tr.span("warehouse.merge")(super.mergeChunks(t, dir, s))
  override def maxScalar(t: String, c: String): Option[Any] =
    tr.span("warehouse.maxscalar")(super.maxScalar(t, c))
}

/** Independent DuckDB checks: fingerprints (row count + [[Canon]] hash)
  * of source files, oracle relations and both warehouses. */
object Duck {
  def connect(path: String = ""): Connection =
    DriverManager.getConnection(s"jdbc:duckdb:$path")

  def columns(c: Connection, relation: String): Seq[(String, String)] = {
    val rs = c.createStatement().executeQuery(s"DESCRIBE SELECT * FROM $relation")
    Iterator.continually(rs).takeWhile(_.next())
      .map(r => (r.getString("column_name"), r.getString("column_type"))).toList
  }

  final case class Print(rows: Long, hash: BigInt) {
    override def toString = s"rows=$rows hash=$hash"
  }

  def fingerprint(c: Connection, relation: String): Print = {
    val rs = c.createStatement().executeQuery(
      Canon.fingerprintSql(relation, columns(c, relation)))
    rs.next()
    Print(rs.getLong(1), BigInt(rs.getBigDecimal(2).toBigInteger))
  }

  def parquet(dir: String): String = s"read_parquet('$dir/*.parquet')"

  /** Last writer per key over every source file: the state an upsert
    * warehouse must hold. */
  def lastWriter(dir: String, pk: String, lm: String): String =
    s"(SELECT * FROM ${parquet(dir)} QUALIFY row_number() OVER " +
      s"(PARTITION BY $pk ORDER BY $lm DESC) = 1)"

  def scalar(c: Connection, sql: String): Long = {
    val rs = c.createStatement().executeQuery(sql)
    rs.next()
    rs.getLong(1)
  }
}
