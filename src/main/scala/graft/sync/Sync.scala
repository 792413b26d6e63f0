package graft.sync

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.expressions.RowOrdering

import graft.io.Tables

/** High-watermark reads (reference A2/A3): `SELECT max(pk)` /
  * `SELECT max(last_modified)` against the *sink*, with the null-watermark →
  * full-load degradation (clickhouse_backend.py:210-226).
  *
  * On a real warehouse that query is cheap; on the parquet warehouse
  * [[Sink.of]] answers it from the footers of the files the table's scan
  * reads ([[graft.io.Tables.footerMax]]): a signed integer, date or µs/ms
  * timestamp column with min/max statistics in every row group costs one
  * footer read per file and no Spark job. [[maxOf]] is the aggregate job
  * every other column or plan falls back to — a partial-aggregated scan,
  * O(1) result, but it reads the column.
  */
object Watermark {
  /** Max of an orderable column; None on empty input (→ caller degrades to
    * full load, clickhouse_backend.py:214-216). Works for any orderable Spark
    * type — strictly better than the reference's string-interpolated SQL
    * (README.md:258-260 admits non-numeric keys are unsupported there).
    */
  def maxOf(df: DataFrame, col: String): Option[Any] =
    Option(df.agg(max(df(col))).head().get(0))

  /** Timestamp watermark scalar → java.sql.Timestamp, whatever flavor the
    * session handed back: LTZ columns yield java.sql.Timestamp, NTZ yields
    * java.time.LocalDateTime. Session TZ is pinned UTC, so the naive
    * wall-clock IS the instant — the two branches agree by construction.
    */
  def asSqlTimestamp(v: Any): java.sql.Timestamp = v match {
    case t: java.sql.Timestamp => t
    case ldt: java.time.LocalDateTime =>
      java.sql.Timestamp.from(ldt.toInstant(java.time.ZoneOffset.UTC))
    case i: java.time.Instant => java.sql.Timestamp.from(i)
    case other => throw new IllegalArgumentException(
      s"not a timestamp watermark: ${other.getClass.getName}")
  }

  /** P3: strict `>` predicate for append-only sync (clickhouse_backend.py:217). */
  def newerThan(df: DataFrame, pkCol: String, wm: Option[Any]): DataFrame =
    wm.fold(df)(v => df.filter(df(pkCol) > lit(v)))

  /** P4: `>=` predicate for last-modified sync — overlap-inclusive on purpose;
    * merge idempotence dedups the boundary instant (clickhouse_backend.py:227).
    */
  def modifiedSince(df: DataFrame, lmCol: String, wm: Option[Any]): DataFrame =
    wm.fold(df)(v => df.filter(df(lmCol) >= lit(v)))
}

/** MERGE/upsert without Delta Lake (reference J1/J2/J3 unified):
  * Snowflake `MERGE INTO` (snowflake_backend.py:199-208), ClickHouse
  * delete+insert (clickhouse_backend.py:245-270), DuckDB `INSERT OR REPLACE`
  * (duckdb_backend.py:192) all reduce to the same relational identity:
  *
  *   merged = (target ANTI JOIN changes ON pk) UNION ALL dedup(changes)
  *
  * dedup keeps the last writer per pk — `row_number() over (partition by pk
  * order by lastModified desc)` — replacing the warehouses' native conflict
  * resolution deterministically (ties broken by pk descending is impossible
  * within a pk partition, so ties break on the orderCols sequence given).
  *
  * Scale: `changes` in an incremental sync is a small delta vs a huge target —
  * AQE turns the anti join into a broadcast join automatically; the window
  * dedup shuffles only the delta. The target is never shuffled when the anti
  * join broadcasts. No custom Catalyst needed (SURVEY §7.4).
  */
object Merge {
  /** Last-writer-wins dedup of a change set per key. */
  def dedupChanges(changes: DataFrame, pkCols: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(pkCols.map(changes(_)): _*)
      .orderBy(orderCols.map(_.desc): _*)
    changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The merge identity. `lastModified` orders conflict resolution; extra
    * deterministic tie-breakers may be appended by callers.
    */
  def merge(target: DataFrame, changes: DataFrame, pkCols: Seq[String],
            lastModified: String, tieBreakers: Seq[String] = Nil): DataFrame = {
    val ordered = (lastModified +: tieBreakers).map(changes(_))
    val deduped = dedupChanges(changes, pkCols, ordered)
    target.join(deduped, pkCols, "left_anti").unionByName(deduped)
  }

  /** J2 shape (ClickHouse delete+insert): no conflict resolution inside the
    * change set — caller guarantees unique pks (e.g. a delta already
    * reduced by [[dedupChanges]], as a planned merge step is).
    */
  def deleteInsert(target: DataFrame, changes: DataFrame, pkCols: Seq[String]): DataFrame =
    target.join(changes, pkCols, "left_anti").unionByName(changes)

  /** The `changes` rows not older by `lastModified` than `target`'s row of
    * the same key. A key `target` lacks passes; a NULL on either side of
    * the comparison drops the row, as DuckDB's `ON CONFLICT … DO UPDATE …
    * WHERE` keeps the landed row.
    */
  def notOlder(changes: DataFrame, target: DataFrame, pkCols: Seq[String],
               lastModified: String): DataFrame = {
    val landed = target.select(pkCols.map(target(_)) :+
      target(lastModified).as("__landed_lm") :+ lit(true).as("__landed"): _*)
    changes.join(landed, pkCols, "left")
      .where(col("__landed").isNull || col(lastModified) >= col("__landed_lm"))
      .drop("__landed_lm", "__landed")
  }
}

/** Per-table sync strategy (reference `get_table_opts`, pgwarehouse.py:72-80;
  * semantics README.md:150-215).
  */
sealed trait SyncStrategy
object SyncStrategy {
  /** `WHERE pk > max(pk)` + append (reference "new-records-only").
    * Composite keys are supported (delta via anti join — see SyncEngine).
    */
  case class AppendOnly(pks: Seq[String]) extends SyncStrategy
  object AppendOnly {
    def apply(pk: String): AppendOnly = AppendOnly(Seq(pk))
  }
  /** `WHERE lm >= max(lm)` + merge (reference "last-modified upsert"). */
  case class Upsert(pks: Seq[String], lastModified: String) extends SyncStrategy
  object Upsert {
    def apply(pk: String, lastModified: String): Upsert =
      Upsert(Seq(pk), lastModified)
  }
  /** Full reload — handles deletes (README.md:170-177). */
  case object Reload extends SyncStrategy
  case object Skip extends SyncStrategy
}

/** What [[SyncEngine.plan]] reads off an existing warehouse table. Each
  * warehouse answers from its own side, so neither reads the other back.
  */
trait Sink {
  /** `max(col)` over the table; None when it holds no rows. */
  def max(col: String): Option[Any]
  /** The table's distinct key tuples, for a composite-key append delta. */
  def keys(pks: Seq[String]): DataFrame
}

object Sink {
  /** A warehouse table Spark can read: `max` comes from its parquet
    * footers where they answer ([[Tables.footerMax]]), else from the
    * [[Watermark.maxOf]] job. */
  def of(table: DataFrame): Sink = new Sink {
    def max(col: String): Option[Any] =
      Tables.footerMax(table, col).getOrElse(Watermark.maxOf(table, col))
    def keys(pks: Seq[String]): DataFrame =
      table.select(pks.map(table(_)): _*).distinct()
  }
}

/** One decided sync step: the action and the source rows it lands. Every
  * warehouse lands the same step; only the landing differs.
  */
sealed abstract class SyncStep(val action: String)
object SyncStep {
  /** Land nothing. */
  case object Skip extends SyncStep("skip")
  /** The rows become the table: a `reload`, or the `bootstrap` of a
    * missing one. */
  final case class Replace(override val action: String, rows: DataFrame)
    extends SyncStep(action)
  /** Append the rows: the delta past the key watermark, or an unkeyed
    * batch. */
  final case class Append(rows: DataFrame) extends SyncStep("append")
  /** Insert the rows (one per key) whose key the table lacks. */
  final case class Insert(rows: DataFrame, pks: Seq[String])
    extends SyncStep("append")
  /** Replace-or-insert the rows on `pks`: the `>=` delta, already reduced
    * to the last writer per key. A `watch` batch names its last-modified
    * column in `guard`: a row older than the landed row of its key is not
    * landed, since a late file can carry an old version. A tick needs no
    * guard: its `>=` watermark keeps every row at or past every landed
    * one. */
  final case class Upsert(rows: DataFrame, pks: Seq[String], guard: Option[String])
    extends SyncStep("merge")
}

/** Strategy interpreter mirroring `ClickHouseBackend.update_table` control flow
  * (clickhouse_backend.py:189-243): bootstrap-on-missing, watermark read from
  * the sink, delta extract, merge-or-append.
  *
  * [[plan]] is the one place a sync step is decided, for every command and
  * warehouse;
  * [[sync]] lands it as the new sink DataFrame (the parquet warehouse).
  */
class SyncEngine {
  import SyncStrategy._

  /** Result of one sync step: the new sink contents and the action. */
  case class SyncResult(table: DataFrame, action: String)

  /** Decide one sync step for `rows`: the whole source table for a `sync`
    * tick, or one drained micro-batch for a `watch` `batch`, which reads
    * no watermark (the stream checkpoint already skipped old files).
    * `sink=None` models a not-yet-created warehouse table (bootstrap path,
    * clickhouse_backend.py:190-195). An upsert bootstrap and every keyed
    * batch land one row per key: the last writer for an upsert table,
    * [[oneRowPerKey]] for an append-only one.
    */
  def plan(rows: DataFrame, strategy: SyncStrategy, sink: Option[Sink],
           batch: Boolean): SyncStep =
    strategy match {
      case Skip => SyncStep.Skip
      case Reload if batch => SyncStep.Append(rows)
      case Reload => SyncStep.Replace("reload", rows)
      case AppendOnly(pks) =>
        checkPks(pks)
        sink match {
          // a tick copies a new-records-only source: it holds each key once
          case None if !batch => SyncStep.Replace("bootstrap", rows)
          case None => SyncStep.Replace("bootstrap", oneRowPerKey(rows, pks))
          case Some(_) if batch => SyncStep.Insert(oneRowPerKey(rows, pks), pks)
          // single monotone key → watermark predicate (pushed into the
          // scan, the cheap path); composite key → anti join on the full
          // key (no lexicographic watermark exists in general). The anti
          // join shuffles only the key columns of the target and
          // AQE-broadcasts when the sink key set is small.
          case Some(tgt) => SyncStep.Append(pks match {
            case Seq(pk) => Watermark.newerThan(rows, pk, tgt.max(pk))
            case _ => rows.join(tgt.keys(pks), pks, "left_anti")
          })
        }
      case Upsert(pks, lm) =>
        checkPks(pks)
        def lastWriters(df: DataFrame) = Merge.dedupChanges(df, pks, Seq(df(lm)))
        sink match {
          case None => SyncStep.Replace("bootstrap", lastWriters(rows))
          case Some(_) if batch => SyncStep.Upsert(lastWriters(rows), pks, Some(lm))
          case Some(tgt) => SyncStep.Upsert(
            lastWriters(Watermark.modifiedSince(rows, lm, tgt.max(lm))), pks, None)
        }
    }

  /** The greatest row per key by its orderable columns in order: an
    * append-only table has no last-modified column, and arrival order
    * must not decide which row every warehouse and replay keeps.
    */
  private def oneRowPerKey(rows: DataFrame, pks: Seq[String]): DataFrame =
    Merge.dedupChanges(rows, pks, rows.schema.fields.toSeq
      .filter(f => RowOrdering.isOrderable(f.dataType)).map(f => rows(f.name)))

  /** One sync step, landed as the new sink contents: append is target ∪
    * delta, merge is the [[Merge]] identity over the deduped delta.
    */
  def sync(source: DataFrame, sink: Option[DataFrame], strategy: SyncStrategy): SyncResult = {
    val step = plan(source, strategy, sink.map(Sink.of), batch = false)
    // plan only appends or merges into a sink that exists
    val table = step match {
      case SyncStep.Skip => sink.getOrElse(source.limit(0))
      case SyncStep.Replace(_, rows) => rows
      case SyncStep.Append(rows) => sink.get.unionByName(rows)
      case SyncStep.Insert(rows, pks) => sink.get.unionByName(rows.join(sink.get, pks, "left_anti"))
      case SyncStep.Upsert(rows, pks, _) => Merge.deleteInsert(sink.get, rows, pks)
    }
    SyncResult(table, step.action)
  }

  /** Composite keys are natively supported (the merge identity and the
    * anti-join delta are key-arity-agnostic) — an upgrade over the
    * reference, which rejects them for incremental strategies
    * (clickhouse_backend.py:200-205; README.md:255-257).
    */
  private def checkPks(pk: Seq[String]): Unit =
    require(pk.nonEmpty, "incremental sync needs at least one key column")
}
