package graft.cli

import scala.collection.immutable.ListMap

/** Run configuration for the CLI spine, mirroring the reference's YAML
  * config + env fallback (reference pgwarehouse.py:52-58 loads YAML;
  * :200-211 falls back to environment variables when keys are absent).
  *
  * The source/warehouse of the reference (Postgres / ClickHouse-Snowflake-
  * DuckDB) become directories of parquet tables here; `tables:` carries the
  * same per-table update-strategy options (`get_table_opts`,
  * pgwarehouse.py:72-80): `last_modified: <col>`, `reload: true`,
  * `skip: true`, plus an explicit `primary_key` (the reference derives the
  * PK from the live schema dump; a parquet source has no PK concept).
  */
/** The documented `reload:` contract (reference README.md:211-215):
  *
  * {{{
  * reload: true          — reload the table every sync
  * reload: [sun,..,fri]  — reload when the sync runs on that weekday
  * reload: 1-31          — reload when the sync runs on that day of month
  * }}}
  *
  * Divergence note: the reference's *code* silently drops the day forms —
  * `pgwarehouse.py:181` tests `reload == True`, so `reload: sun` degrades
  * to an upsert without warning. We implement the documented contract
  * instead, and reject unrecognized values loudly (the silent-degrade is
  * the worst failure mode: a table the user believes is reloaded weekly
  * quietly drifts forever).
  */
sealed trait ReloadSpec {
  /** Does a sync running on `today` take the full-reload path? */
  def applies(today: java.time.LocalDate): Boolean
}

object ReloadSpec {
  import java.time.DayOfWeek
  import java.time.DayOfWeek._

  case object Never extends ReloadSpec {
    def applies(today: java.time.LocalDate): Boolean = false
  }
  case object Always extends ReloadSpec {
    def applies(today: java.time.LocalDate): Boolean = true
  }
  final case class OnDays(days: Set[DayOfWeek]) extends ReloadSpec {
    def applies(today: java.time.LocalDate): Boolean =
      days.contains(today.getDayOfWeek)
  }
  final case class OnDayOfMonth(day: Int) extends ReloadSpec {
    def applies(today: java.time.LocalDate): Boolean =
      today.getDayOfMonth == day
  }

  // the README spells "thur"; accept the common spellings of each day
  private val dayNames: Map[String, DayOfWeek] = Map(
    "sun" -> SUNDAY, "sunday" -> SUNDAY,
    "mon" -> MONDAY, "monday" -> MONDAY,
    "tue" -> TUESDAY, "tues" -> TUESDAY, "tuesday" -> TUESDAY,
    "wed" -> WEDNESDAY, "weds" -> WEDNESDAY, "wednesday" -> WEDNESDAY,
    "thu" -> THURSDAY, "thur" -> THURSDAY, "thurs" -> THURSDAY,
    "thursday" -> THURSDAY,
    "fri" -> FRIDAY, "friday" -> FRIDAY,
    "sat" -> SATURDAY, "saturday" -> SATURDAY)

  /** Parse a raw `reload:` value. Unrecognized values throw — never
    * silently degrade a reload schedule to an incremental sync.
    */
  def parse(raw: String): ReloadSpec = raw.trim.toLowerCase match {
    case "" | "false" | "no" => Never
    case "true" | "yes"      => Always
    case s if s.forall(_.isDigit) =>
      val d = s.toInt
      if (d < 1 || d > 31) throw new IllegalArgumentException(
        s"reload: day-of-month out of range (1-31): '$raw'")
      OnDayOfMonth(d)
    case s =>
      val toks = s.stripPrefix("[").stripSuffix("]")
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val days = toks.map(t => dayNames.getOrElse(t,
        throw new IllegalArgumentException(
          s"unrecognized reload value: '$raw' " +
            "(expected true/false, [sun..sat], or a day-of-month 1-31)")))
      if (days.isEmpty) throw new IllegalArgumentException(
        s"unrecognized reload value: '$raw'")
      OnDays(days.toSet)
  }
}

case class TableOpts(primaryKey: Option[String] = None,
                     lastModified: Option[String] = None,
                     reload: ReloadSpec = ReloadSpec.Never,
                     skip: Boolean = false) {
  /** The key columns: "a,b" in `primary_key` is a composite key (an
    * upgrade over the reference, which is single-key-only for incremental
    * strategies). */
  def pks: Seq[String] =
    primaryKey.toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
}

case class GraftConfig(sourceDir: String,
                       warehouseDir: String,
                       dataDir: String,
                       maxRecords: Option[Long],
                       tables: ListMap[String, TableOpts],
                       /** `warehouse.duckdb_path`: file for the in-process
                         * DuckDB backend (reference duckdb_backend.py:27
                         * `duckdb_path`, default ./duck.db under the
                         * warehouse dir). Used when `--backend duckdb`. */
                       duckdbPath: Option[String] = None)

object GraftConfig {

  /** Minimal YAML-subset parser: nested maps by indentation, `key: value`
    * scalars, `#` comments. Exactly the shape the reference's config uses —
    * no lists, anchors, or multi-line scalars (and no external YAML
    * dependency, which the zero-egress build cannot resolve).
    */
  def parseYaml(text: String): ListMap[String, Any] = {
    // strip an inline comment (the init template itself uses them) — but a
    // '#' inside a double-quoted value is literal, as in YAML
    def stripInlineComment(l: String): String = {
      var inQuote = false
      var i = 0
      while (i < l.length) {
        if (l(i) == '"') inQuote = !inQuote
        else if (!inQuote && l(i) == '#' && i > 0 && l(i - 1) == ' ')
          return l.substring(0, i - 1)
        i += 1
      }
      l
    }
    val lines = text.linesIterator
      .map(_.replace("\t", "  "))
      .map(stripInlineComment)
      .filter(l => l.trim.nonEmpty && !l.trim.startsWith("#"))
      .toVector

    def parseBlock(start: Int, indent: Int): (ListMap[String, Any], Int) = {
      var m = ListMap.empty[String, Any]
      var i = start
      while (i < lines.length &&
             lines(i).takeWhile(_ == ' ').length >= indent) {
        val line = lines(i)
        val ind = line.takeWhile(_ == ' ').length
        require(ind == indent, s"bad indentation at: '$line'")
        val t = line.trim
        val key = t.takeWhile(_ != ':').trim
        val value = t.drop(key.length + 1).trim
          .stripPrefix("\"").stripSuffix("\"")
        if (value.nonEmpty) { m += key -> value; i += 1 }
        else {
          val childIndent =
            if (i + 1 < lines.length)
              lines(i + 1).takeWhile(_ == ' ').length
            else indent
          if (childIndent > indent) {
            val (sub, next) = parseBlock(i + 1, childIndent)
            m += key -> sub
            i = next
          } else { m += key -> ListMap.empty[String, Any]; i += 1 }
        }
      }
      (m, i)
    }
    parseBlock(0, 0)._1
  }

  private def section(root: ListMap[String, Any], name: String): ListMap[String, Any] =
    root.get(name) match {
      case Some(m: ListMap[String @unchecked, Any @unchecked]) => m
      case _ => ListMap.empty
    }

  private def str(m: ListMap[String, Any], key: String): Option[String] =
    m.get(key).collect { case s: String => s }

  // case-insensitive: canonical YAML writes `True`/`TRUE`, and a silently
  // ignored `skip: True` is the worst failure mode (the table syncs
  // anyway) — ReloadSpec.parse already lowercases for the same reason
  private def truthy(m: ListMap[String, Any], key: String): Boolean =
    str(m, key).map(_.trim.toLowerCase)
      .exists(v => v == "true" || v == "yes" || v == "1")

  /** Build a config from YAML text with env fallback (reference
    * pgwarehouse.py:200-211 semantics: config key wins, env fills gaps).
    */
  def fromYaml(text: String,
               env: Map[String, String] = sys.env): GraftConfig = {
    val root = parseYaml(text)
    val src = section(root, "source")
    val wh = section(root, "warehouse")
    val sourceDir = str(src, "dir").orElse(env.get("GRAFT_SOURCE_DIR"))
      .getOrElse(throw new IllegalArgumentException(
        "source.dir missing (config or GRAFT_SOURCE_DIR)"))
    val warehouseDir = str(wh, "dir").orElse(env.get("GRAFT_WAREHOUSE_DIR"))
      .getOrElse(throw new IllegalArgumentException(
        "warehouse.dir missing (config or GRAFT_WAREHOUSE_DIR)"))
    val dataDir = str(src, "data_dir").orElse(env.get("GRAFT_DATA_DIR"))
      .getOrElse(s"$warehouseDir/_data")
    val maxRecords = str(src, "max_records")
      .orElse(env.get("GRAFT_MAX_RECORDS")).map(_.toLong)
    val tables = section(root, "tables").map { case (name, v) =>
      val opts = v match {
        case m: ListMap[String @unchecked, Any @unchecked] =>
          TableOpts(str(m, "primary_key"), str(m, "last_modified"),
            str(m, "reload").map(ReloadSpec.parse).getOrElse(ReloadSpec.Never),
            truthy(m, "skip"))
        case _ => TableOpts()
      }
      name -> opts
    }
    GraftConfig(sourceDir, warehouseDir, dataDir, maxRecords,
      ListMap(tables.toSeq: _*),
      str(wh, "duckdb_path").orElse(env.get("GRAFT_DUCKDB_PATH")))
  }

  /** `init` template (reference writes one too, pgwarehouse.py:130-160). */
  val template: String =
    """# graft warehouse-sync config
      |source:
      |  dir: /path/to/source/parquet     # or env GRAFT_SOURCE_DIR
      |  # data_dir: /path/for/csv/chunks # or env GRAFT_DATA_DIR
      |  # max_records: 10000             # extract row cap for trial runs
      |warehouse:
      |  dir: /path/to/warehouse/parquet  # or env GRAFT_WAREHOUSE_DIR
      |tables:
      |  events:
      |    primary_key: event_id
      |    last_modified: ts
      |  # users10:
      |  #   primary_key: id
      |  # local_parks:
      |  #   reload: true                 # no-PK tables are reload-only
      |  # shoppers:
      |  #   primary_key: id
      |  #   last_modified: updated_at
      |  #   reload: [sun]                # full reload on Sundays; or 1-31
      |  #                                # for a day of the month
      |""".stripMargin
}
