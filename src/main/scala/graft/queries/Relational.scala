package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.{Scratch, Tables}
import graft.sync.{Merge, SyncEngine, SyncStrategy, Watermark}
import graft.functions.Functions

/** One named query per relational operator in SURVEY §2, each paired with
  * DuckDB-runnable oracle SQL over the same parquet tables.
  *
  * Determinism rules (SURVEY §7.4): money aggregates are term-wise quantized
  * to integer cents (`round(x*100)::BIGINT`) before summing — long sums are
  * order-independent so Spark partial aggregation and DuckDB agree exactly;
  * timestamps are output as `unix_micros` / `epoch_us` (both truncate
  * identically and the corpus is µs-precision); averages are single divisions
  * of exact integers.
  */
object Relational {

  case class Q(fn: (SparkSession, String) => DataFrame, oracle: Option[String])

  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** µs-since-epoch of any timestamp flavor (NTZ parquet cols cast to LTZ;
    * session TZ is UTC so the instant is the wall-clock value — matching
    * DuckDB's naive-timestamp `epoch_us`). */
  private[queries] def usec(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** ONE oracle for the CDC fold, shared by the batch rank-window query
    * (`x_cdc_apply`) and the streaming stateful fold (`stream_cdc_apply`)
    * — the lockstep rule: both implementations must stay equal to the same
    * definition, or their "same semantics" claim silently rots.
    * The DESC tie column is `coalesce(event_id, Long.MinValue)` in all
    * three places (this SQL, the batch window, the streaming fold) —
    * see Analytics.attributionSql for the sentinel rationale. */
  private[queries] val cdcApplySql =
    """WITH ops AS (SELECT user_id, ts, event_id,
      |  CAST(round(value * 100) AS BIGINT) AS cents,
      |  CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D'
      |       ELSE 'U' END AS op
      |  FROM events),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY user_id
      |         ORDER BY ts DESC,
      |           coalesce(event_id, -9223372036854775808) DESC) AS rn,
      |       count(*) OVER (PARTITION BY user_id) AS n_ops
      |  FROM ops)
      |SELECT user_id, op AS last_op, cents, epoch_us(ts) AS updated_us, n_ops
      |FROM rk WHERE rn = 1 AND op <> 'D'""".stripMargin

  /** revenue term quantized: round(price*100) * round((1-disc)*100), a long. */
  private[queries] def revE4(price: Column, disc: Column): Column =
    round(price * 100).cast("long") * round((lit(1) - disc) * 100).cast("long")
  private[queries] val revE4Sql =
    "CAST(round(l_extendedprice*100) AS BIGINT)*CAST(round((1-l_discount)*100) AS BIGINT)"

  val all: Map[String, Q] = Map(

    // ── S1/P1: scan + projection (Catalyst prunes the parquet read) ────────
    "s1_scan_project" -> Q(
      (s, d) => t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity").cast("long").as("qty")),
      Some("SELECT l_orderkey, l_linenumber, l_returnflag, " +
        "CAST(l_quantity AS BIGINT) AS qty FROM lineitem")),

    // ── S2/S3: chunked gzip CSV sink + schema-pinned source, round-trip ────
    // NOTE the query's timing includes the eager chunk write; each call
    // writes to its own Scratch dir, which the returned plan reads lazily.
    "s2_csv_roundtrip" -> Q(
      (s, d) => {
        val li = t(s, d, "lineitem")
        val dir = Scratch.dir(s, "s2_csv_roundtrip")
        Tables.writeCsvChunks(li, dir, maxRecordsPerFile = 200000L)
        Tables.readCsvChunks(s, dir, li.schema)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity")).cast("long").as("sum_qty"),
            sum(Functions.cents(col("l_extendedprice"))).as("sum_cents"))
      },
      Some("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "CAST(sum(l_quantity) AS BIGINT) AS sum_qty, " +
        "CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus")),

    // ── S2b/S3b: gzip JSONL chunk sink + schema-pinned source, round-trip
    //    (the self-describing interchange twin of the CSV path) ─────────────
    "s3_jsonl_roundtrip" -> Q(
      (s, d) => {
        val o = t(s, d, "orders")
        val dir = Scratch.dir(s, "s3_jsonl_roundtrip")
        Tables.writeJsonlChunks(o, dir, maxRecordsPerFile = 100000L)
        Tables.readJsonlChunks(s, dir, o.schema)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(Functions.cents(col("o_totalprice"))).as("cents"),
            countDistinct(col("o_custkey")).as("n_cust"))
      },
      Some("SELECT o_orderstatus, count(*) AS n, " +
        "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents, " +
        "count(DISTINCT o_custkey) AS n_cust " +
        "FROM orders GROUP BY o_orderstatus")),

    // ── P2: explicit projection + predicate + deterministic limit ──────────
    "p2_projection" -> Q(
      (s, d) => t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          Functions.cents(col("o_totalprice")).as("total_cents"))
        .where(col("o_totalprice") > 100000)
        .orderBy("o_orderkey").limit(100),
      Some("SELECT o_orderkey, o_orderstatus, " +
        "CAST(round(o_totalprice*100) AS BIGINT) AS total_cents FROM orders " +
        "WHERE o_totalprice > 100000 ORDER BY o_orderkey LIMIT 100")),

    // ── P3+A2: append-only incremental predicate off a pk high-watermark ───
    "p3_watermark_pk" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
        val wm = Watermark.maxOf(ev, "event_id").map(_.asInstanceOf[Long] - 100)
        Watermark.newerThan(ev, "event_id", wm)
          .select(col("event_id"), usec(col("ts")).as("ts_us"),
            col("user_id"), col("event_type"), col("value"), col("props"))
      },
      Some("SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props " +
        "FROM events WHERE event_id > (SELECT max(event_id) - 100 FROM events)")),

    // ── P4+A3: last-modified `>=` predicate off a timestamp high-watermark ─
    "p4_watermark_lm" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
        val wm = Watermark.maxOf(ev, "ts").map { v =>
          java.sql.Timestamp.from(Watermark.asSqlTimestamp(v).toInstant
            .minus(java.time.Duration.ofDays(7)))
        }
        Watermark.modifiedSince(ev, "ts", wm)
          .select(col("event_id"), usec(col("ts")).as("ts_us"),
            col("user_id"), col("event_type"), col("value"), col("props"))
      },
      Some("SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props " +
        "FROM events WHERE ts >= (SELECT max(ts) - INTERVAL 7 DAY FROM events)")),

    // ── P6: IN-list + equality predicates ──────────────────────────────────
    "p6_isin" -> Q(
      (s, d) => t(s, d, "lineitem")
        .where(col("l_returnflag").isin("A", "N") && col("l_quantity") >= 45)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).cast("long").as("sum_qty")),
      Some("SELECT l_returnflag, count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS sum_qty " +
        "FROM lineitem WHERE l_returnflag IN ('A','N') AND l_quantity >= 45 " +
        "GROUP BY l_returnflag")),

    // ── P7: LIKE predicate ─────────────────────────────────────────────────
    "p7_like" -> Q(
      (s, d) => t(s, d, "part")
        .where(col("p_name").like("%bolt%") || col("p_type").like("%ECO%"))
        .select("p_partkey", "p_name", "p_brand", "p_type"),
      Some("SELECT p_partkey, p_name, p_brand, p_type FROM part " +
        "WHERE p_name LIKE '%bolt%' OR p_type LIKE '%ECO%'")),

    // ── J1: MERGE upsert — last-writer-wins dedup + anti-join + union ──────
    "j1_merge_upsert" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
        val target = ev.where(col("event_id") % 10 < 8)
        val changes0 = ev.where(col("event_id") % 10 >= 5)
          .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
          .withColumn("value", col("value") + 1)
        // intra-batch duplicate (older) rows exercise the window dedup
        val changes = changes0.unionByName(
          changes0.withColumn("ts", col("ts") - expr("INTERVAL 2 HOUR"))
            .withColumn("value", col("value") + 100))
        Merge.merge(target, changes, Seq("event_id"), "ts")
          .select(col("event_id"), usec(col("ts")).as("ts_us"),
            col("user_id"), col("event_type"), col("value"), col("props"))
      },
      Some("""WITH target AS (SELECT * FROM events WHERE event_id % 10 < 8),
        |changes0 AS (SELECT event_id, ts + INTERVAL 1 HOUR AS ts, user_id,
        |  event_type, value + 1 AS value, props FROM events WHERE event_id % 10 >= 5),
        |changes AS (SELECT * FROM changes0 UNION ALL
        |  SELECT event_id, ts - INTERVAL 2 HOUR, user_id, event_type, value + 100, props FROM changes0),
        |dedup AS (SELECT event_id, ts, user_id, event_type, value, props FROM
        |  (SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts DESC) AS rn
        |   FROM changes) WHERE rn = 1)
        |SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
        |FROM target WHERE event_id NOT IN (SELECT event_id FROM dedup)
        |UNION ALL
        |SELECT event_id, epoch_us(ts), user_id, event_type, value, props FROM dedup""".stripMargin)),

    // ── J1b: MERGE upsert on a COMPOSITE key — the reference rejects
    //    multi-column primary keys for incremental sync (README.md:255-257);
    //    the merge identity here is key-arity-agnostic, proven against the
    //    oracle: anti join + last-writer dedup both partition on
    //    (user_id, event_type), with event_id as the deterministic
    //    tie-breaker for equal timestamps ──────────────────────────────────
    "j1b_merge_composite" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
        val target = ev.where(col("event_id") % 10 < 8)
        val changes = ev.where(col("event_id") % 10 >= 5)
          .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
          .withColumn("value", col("value") + 1)
        Merge.merge(target, changes, Seq("user_id", "event_type"), "ts",
          tieBreakers = Seq("event_id"))
          .select(col("event_id"), usec(col("ts")).as("ts_us"),
            col("user_id"), col("event_type"), col("value"), col("props"))
      },
      Some("""WITH target AS (SELECT * FROM events WHERE event_id % 10 < 8),
        |changes AS (SELECT event_id, ts + INTERVAL 1 HOUR AS ts, user_id,
        |  event_type, value + 1 AS value, props FROM events WHERE event_id % 10 >= 5),
        |dedup AS (SELECT event_id, ts, user_id, event_type, value, props FROM
        |  (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |     ORDER BY ts DESC, event_id DESC) AS rn FROM changes) WHERE rn = 1)
        |SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
        |FROM target t WHERE NOT EXISTS (SELECT 1 FROM dedup d
        |  WHERE d.user_id = t.user_id AND d.event_type = t.event_type)
        |UNION ALL
        |SELECT event_id, epoch_us(ts), user_id, event_type, value, props FROM dedup""".stripMargin)),

    // ── J2: ClickHouse-style delete+insert (unique change keys) ────────────
    "j2_delete_insert" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
        val target = ev.where(col("event_id") % 10 < 8)
        val changes = ev.where(col("event_id") % 10 >= 7)
          .withColumn("value", col("value") * 2)
        Merge.deleteInsert(target, changes, Seq("event_id"))
          .select(col("event_id"), usec(col("ts")).as("ts_us"),
            col("user_id"), col("event_type"), col("value"), col("props"))
      },
      Some("""WITH target AS (SELECT * FROM events WHERE event_id % 10 < 8),
        |changes AS (SELECT event_id, ts, user_id, event_type, value * 2 AS value, props
        |  FROM events WHERE event_id % 10 >= 7)
        |SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
        |FROM target WHERE event_id NOT IN (SELECT event_id FROM changes)
        |UNION ALL
        |SELECT event_id, epoch_us(ts), user_id, event_type, value, props FROM changes""".stripMargin)),

    // ── J4: catalog-style left outer join ──────────────────────────────────
    "j4_left_join" -> Q(
      (s, d) => {
        val n = t(s, d, "nation"); val r = t(s, d, "region")
        n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
          .select("n_nationkey", "n_name", "r_name")
      },
      Some("SELECT n_nationkey, n_name, r_name FROM nation " +
        "LEFT JOIN region ON n_regionkey = r_regionkey")),

    // ── J5: anti join (orders with no lineitem) ────────────────────────────
    "j5_anti_join" -> Q(
      (s, d) => t(s, d, "orders")
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select("o_orderkey", "o_orderstatus"),
      Some("SELECT o_orderkey, o_orderstatus FROM orders " +
        "WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)")),

    // ── J6: semi join (customers having urgent orders) ─────────────────────
    "j6_semi_join" -> Q(
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders").where(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment"),
      Some("SELECT c_custkey, c_name, c_mktsegment FROM customer " +
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_orderpriority = '1-URGENT')")),

    // ── J7: bucketed co-located join — the 100 TB join strategy: both
    //    sides pre-hash-partitioned + per-bucket-sorted on the key at
    //    write time (Tables.writeBucketed), so the join plans with ZERO
    //    Exchange on either side — pay the shuffle once at write time,
    //    never again on any subsequent join/agg on that key (TablesSpec
    //    pins the no-Exchange plan; the merge hint keeps the demo honest
    //    where the dim side would broadcast). The only shuffle here is
    //    the final segment rollup over the joined stream ─────────────────
    "j7_bucket_join" -> Q(
      (s, d) => {
        val tag = math.abs(d.hashCode).toString
        val ot = s"graft_bkt_orders_$tag"; val ct = s"graft_bkt_cust_$tag"
        Tables.writeBucketed(
          t(s, d, "orders").select("o_orderkey", "o_custkey"),
          ot, "o_custkey", 8)
        Tables.writeBucketed(
          t(s, d, "customer").select("c_custkey", "c_mktsegment"),
          ct, "c_custkey", 8)
        s.table(ot).hint("merge")
          .join(s.table(ct).hint("merge"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_orderkey")).as("sum_okey"))
      },
      Some("SELECT c_mktsegment, count(*) AS n_orders, " +
        "CAST(sum(o_orderkey) AS BIGINT) AS sum_okey " +
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1")),

    // ── A1: whole-table count ──────────────────────────────────────────────
    "a1_count" -> Q(
      (s, d) => t(s, d, "lineitem").agg(count(lit(1)).as("n")),
      Some("SELECT count(*) AS n FROM lineitem")),

    // ── A2: max(pk) scalar watermark ───────────────────────────────────────
    "a2_max_pk" -> Q(
      (s, d) => t(s, d, "events").agg(max(col("event_id")).as("max_pk")),
      Some("SELECT max(event_id) AS max_pk FROM events")),

    // ── A3: max(last_modified) scalar watermark ────────────────────────────
    "a3_max_lm" -> Q(
      (s, d) => t(s, d, "events").agg(usec(max(col("ts"))).as("max_lm_us")),
      Some("SELECT epoch_us(max(ts)) AS max_lm_us FROM events")),

    // ── A5: grouped aggregation (TPC-H Q1 shape, exact-integer money) ──────
    "q1_pricing_summary" -> Q(
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(Functions.cents(col("l_extendedprice"))).as("base_cents"),
          sum(revE4(col("l_extendedprice"), col("l_discount"))).as("revenue_e4"),
          count(lit(1)).as("n"),
          (sum(col("l_quantity")).cast("long").cast("double") / count(lit(1))).as("avg_qty"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("SELECT l_returnflag, l_linestatus, " +
        "CAST(sum(l_quantity) AS BIGINT) AS sum_qty, " +
        "CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS base_cents, " +
        s"CAST(sum($revE4Sql) AS BIGINT) AS revenue_e4, count(*) AS n, " +
        "CAST(CAST(sum(l_quantity) AS BIGINT) AS DOUBLE)/count(*) AS avg_qty " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus " +
        "ORDER BY l_returnflag, l_linestatus")),

    // ── TPC-H Q3 shape: 3-way join + grouped top-k ─────────────────────────
    "q3_top_revenue" -> Q(
      (s, d) => {
        val c = t(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
        val o = t(s, d, "orders").where(col("o_orderdate") < lit("1998-06-01").cast("timestamp"))
        val l = t(s, d, "lineitem").where(col("l_shipdate") > lit("1998-06-01").cast("timestamp"))
        // no broadcast hint: customer SCALES with SF (one segment is still
        // ~1/5 of it) - a forced hint hits the 8 GB broadcast limit at the
        // 100 TB design point, while AQE freely picks broadcast when the
        // filtered side measures small (the q7/q8 convention)
        c.join(o, col("c_custkey") === col("o_custkey"))
          .join(l, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(sum(revE4(col("l_extendedprice"), col("l_discount"))).as("revenue_e4"))
          .select(col("o_orderkey"), usec(col("o_orderdate")).as("odate_us"),
            col("o_orderpriority"), col("revenue_e4"))
          .orderBy(desc("revenue_e4"), asc("o_orderkey")).limit(10)
      },
      Some("SELECT o_orderkey, epoch_us(o_orderdate) AS odate_us, o_orderpriority, " +
        s"CAST(sum($revE4Sql) AS BIGINT) AS revenue_e4 " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON o_orderkey = l_orderkey " +
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-06-01' " +
        "AND l_shipdate > TIMESTAMP '1998-06-01' " +
        "GROUP BY o_orderkey, o_orderdate, o_orderpriority " +
        "ORDER BY revenue_e4 DESC, o_orderkey LIMIT 10")),

    // ── TPC-H Q5 shape: 4-way star join, dims broadcast ────────────────────
    "q5_supplier_nation_revenue" -> Q(
      (s, d) => {
        val r = t(s, d, "region"); val n = t(s, d, "nation")
        val sp = t(s, d, "supplier"); val l = t(s, d, "lineitem")
        // supplier scales with SF - hint only the bounded dims (nation 25,
        // region 5); AQE broadcasts supplier at small SF on its own
        l.join(sp, col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(sum(revE4(col("l_extendedprice"), col("l_discount"))).as("revenue_e4"),
            count(lit(1)).as("n_items"))
          .orderBy(desc("revenue_e4"), asc("n_name"))
      },
      Some("SELECT r_name, n_name, " +
        s"CAST(sum($revE4Sql) AS BIGINT) AS revenue_e4, count(*) AS n_items " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY r_name, n_name ORDER BY revenue_e4 DESC, n_name")),

    // ── A6: rollup (grouping-set generalization) ───────────────────────────
    "a6_rollup" -> Q(
      (s, d) => t(s, d, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(Functions.cents(col("o_totalprice"))).as("cents")),
      Some("SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
        "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents " +
        "FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)")),

    // ── A6b: cube (all grouping-set combinations) ──────────────────────────
    "a6b_cube" -> Q(
      (s, d) => t(s, d, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(Functions.cents(col("o_totalprice"))).as("cents")),
      Some("SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
        "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents " +
        "FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)")),

    // ── A6c: explicit GROUPING SETS through the spark.sql surface (the
    //    library's third entry point besides DataFrame and streaming) ───────
    "a6c_grouping_sets" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("orders_v")
        s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
          |  sum(CAST(round(o_totalprice*100) AS BIGINT)) AS cents
          |FROM orders_v
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)
      },
      Some("SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
        "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents " +
        "FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())")),

    // ── A7: distinct ───────────────────────────────────────────────────────
    "a7_distinct" -> Q(
      (s, d) => t(s, d, "orders").select("o_orderstatus", "o_orderpriority").distinct(),
      Some("SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders")),

    // ── A8: exact count-distinct per group ─────────────────────────────────
    "a8_count_distinct" -> Q(
      (s, d) => t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps")),
      Some("SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts, " +
        "count(DISTINCT l_suppkey) AS n_supps FROM lineitem GROUP BY l_returnflag")),

    // ── A9: pivot (event-type counts per user bucket) ──────────────────────
    "a9_pivot" -> Q(
      (s, d) => t(s, d, "events")
        .withColumn("bucket", col("user_id") % 10)
        .groupBy("bucket")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        // empty (bucket, type) combos: pivot yields NULL, the oracle's
        // sum(CASE) yields 0 — normalize
        .na.fill(0L, Seq("click", "error", "purchase", "signup", "view")),
      Some("SELECT user_id % 10 AS bucket, " +
        Seq("click", "error", "purchase", "signup", "view").map(t =>
          s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS $t")
          .mkString(", ") +
        " FROM events GROUP BY 1")),

    // ── W4: RANGE-frame window — clicks in the 10 minutes before each
    //    purchase, per user (sliding time-range count, no self-join) ────────
    "w4_range_count" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
          .where(col("event_type").isin("click", "purchase"))
          .select(col("user_id"), col("event_id"), col("event_type"),
            usec(col("ts")).as("ts_us"),
            when(col("event_type") === "click", 1L).otherwise(0L).as("ind"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
          .rangeBetween(-600000000L, 0L)
        ev.withColumn("n_clicks_10m", sum(col("ind")).over(w))
          .where(col("event_type") === "purchase")
          .select("user_id", "event_id", "ts_us", "n_clicks_10m")
      },
      Some("""SELECT user_id, event_id, ts_us, CAST(n_clicks_10m AS BIGINT) AS n_clicks_10m
        |FROM (SELECT user_id, event_id, event_type, ts_us,
        |  sum(ind) OVER (PARTITION BY user_id ORDER BY ts_us
        |    RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS n_clicks_10m
        |  FROM (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ind
        |    FROM events WHERE event_type IN ('click', 'purchase')))
        |WHERE event_type = 'purchase'""".stripMargin)),

    // ── W6: sliding (hopping) window aggregation — each event lands in
    //    windowLen/slide windows; Spark's window() emits them natively,
    //    the oracle unrolls the two candidate starts per event ──────────────
    "w6_sliding_window" -> Q(
      (s, d) => t(s, d, "events")
        // Spark's TimeWindowing silently drops NULL-ts rows; filter
        // explicitly so the oracle can mirror the same exclusion
        .where(col("ts").isNotNull)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(Functions.cents(col("value"))).as("cents"))
        .select(usec(col("window.start")).as("win_start_us"),
          col("event_type"), col("n"), col("cents")),
      Some("""WITH w AS (
        |  SELECT epoch_us(ts) AS ts_us, event_type,
        |         CAST(round(value*100) AS BIGINT) AS cents,
        |         unnest([ (epoch_us(ts) // 300000000) * 300000000,
        |                  (epoch_us(ts) // 300000000) * 300000000 - 300000000 ]) AS win_start_us
        |  FROM events WHERE ts IS NOT NULL
        |)
        |SELECT win_start_us, event_type, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents
        |FROM w GROUP BY 1, 2""".stripMargin)),

    // ── O1/O2: global sort + deterministic top-k ───────────────────────────
    "o2_topk_orders" -> Q(
      (s, d) => t(s, d, "orders")
        .select(col("o_orderkey"), Functions.cents(col("o_totalprice")).as("total_cents"))
        .orderBy(desc("total_cents"), asc("o_orderkey")).limit(25),
      Some("SELECT o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS total_cents " +
        "FROM orders ORDER BY total_cents DESC, o_orderkey LIMIT 25")),

    // ── U1: union-append ───────────────────────────────────────────────────
    "u1_union_all" -> Q(
      (s, d) => {
        val o = t(s, d, "orders")
        o.where(col("o_orderstatus") === "F").select("o_orderkey", "o_orderstatus")
          .unionByName(
            o.where(col("o_orderstatus") === "O").select("o_orderkey", "o_orderstatus"))
      },
      Some("SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F' " +
        "UNION ALL SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'O'")),

    // ── Q18 shape: HAVING on a grouped agg, semi-joined back to orders ─────
    "q18_large_orders" -> Q(
      (s, d) => {
        val big = t(s, d, "lineitem")
          .groupBy("l_orderkey")
          .agg(sum(col("l_quantity")).cast("long").as("sum_qty"))
          .where(col("sum_qty") > 150)
        t(s, d, "orders")
          .join(big, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_orderkey"), col("o_custkey"),
            Functions.cents(col("o_totalprice")).as("total_cents"),
            col("sum_qty"))
      },
      Some("SELECT o_orderkey, o_custkey, " +
        "CAST(round(o_totalprice*100) AS BIGINT) AS total_cents, sum_qty " +
        "FROM orders JOIN (SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS sum_qty " +
        "FROM lineitem GROUP BY l_orderkey HAVING CAST(sum(l_quantity) AS BIGINT) > 150) b " +
        "ON o_orderkey = l_orderkey")),

    // ── Q4 shape: EXISTS correlated subquery → left-semi join with an
    //    extra range predicate on top of the equi key ────────────────────────
    "q4_late_ship_priority" -> Q(
      (s, d) => {
        val o = t(s, d, "orders")
          .where(col("o_orderdate") >= "1996-01-01" &&
            col("o_orderdate") < "1996-04-01")
          .select(col("o_orderkey"), col("o_orderpriority"),
            usec(col("o_orderdate")).as("order_us"))
        val l = t(s, d, "lineitem")
          .select(col("l_orderkey"), usec(col("l_shipdate")).as("ship_us"))
        o.join(l, col("o_orderkey") === col("l_orderkey") &&
            col("ship_us") > col("order_us") + lit(90L * 86400000000L),
            "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n
        |FROM orders o
        |WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |    AND epoch_us(l.l_shipdate) > epoch_us(o.o_orderdate) + 7776000000000)
        |GROUP BY o_orderpriority""".stripMargin)),

    // ── Q17 shape: correlated scalar subquery (per-part average) → join
    //    against the grouped aggregate instead of a per-row subquery ────────
    "q17_small_quantity_revenue" -> Q(
      (s, d) => {
        val li = t(s, d, "lineitem")
        val partAvg = li.groupBy(col("l_partkey").as("avg_partkey"))
          .agg((sum(col("l_quantity")).cast("long").cast("double") /
            count(lit(1))).as("avg_qty"))
        val brandParts = t(s, d, "part")
          .where(col("p_brand") === "Brand#4")
          .select(col("p_partkey"))
        li.join(brandParts, col("l_partkey") === col("p_partkey"))
          .join(partAvg, col("l_partkey") === col("avg_partkey"))
          .where(col("l_quantity") < lit(0.5) * col("avg_qty"))
          .agg(sum(Functions.cents(col("l_extendedprice"))).as("revenue_cents"),
            count(lit(1)).as("n_lines"))
      },
      Some("""SELECT CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_lines
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#4'
        |  AND l.l_quantity < 0.5 * (SELECT CAST(CAST(sum(l2.l_quantity) AS BIGINT) AS DOUBLE) / count(*)
        |    FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)""".stripMargin)),

    // ── U3: except (customers with F-status orders but no O-status) ────────
    "u3_except" -> Q(
      (s, d) => {
        val o = t(s, d, "orders")
        o.where(col("o_orderstatus") === "F").select("o_custkey")
          .except(o.where(col("o_orderstatus") === "O").select("o_custkey"))
      },
      Some("SELECT o_custkey FROM orders WHERE o_orderstatus = 'F' " +
        "EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'")),

    // ── F9: null-safe equality (<=> / IS NOT DISTINCT FROM) ────────────────
    "f9_null_safe_eq" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_id"),
            when(col("event_id") % 7 === 0, lit(null).cast("string"))
              .otherwise(col("event_type")).as("et"))
        ev.where(col("et") <=> lit(null).cast("string") ||
            col("et") <=> lit("click"))
          .select(col("event_id"), col("et"))
      },
      Some("""SELECT event_id, et FROM (SELECT event_id,
        |  CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END AS et FROM events)
        |WHERE et IS NOT DISTINCT FROM NULL OR et IS NOT DISTINCT FROM 'click'""".stripMargin)),

    // ── F10: schema-pinned JSON parse to struct (from_json) ────────────────
    "f10_from_json" -> Q(
      (s, d) => t(s, d, "events")
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))).getField("k").as("k"))
        .where(col("k").isNotNull),
      Some("SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k " +
        "FROM events WHERE json_extract(props, '$.k') IS NOT NULL")),

    // ── U2: intersect / except ─────────────────────────────────────────────
    "u2_intersect" -> Q(
      (s, d) => {
        val o = t(s, d, "orders")
        o.where(col("o_orderstatus") === "F").select("o_custkey")
          .intersect(o.where(col("o_orderstatus") === "O").select("o_custkey"))
      },
      Some("SELECT o_custkey FROM orders WHERE o_orderstatus = 'F' " +
        "INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'")),

    // ── U4: bag-semantics intersect (multiplicity-aware) ───────────────────
    "u4_intersect_all" -> Q(
      (s, d) => {
        val l = t(s, d, "lineitem")
        l.where(col("l_returnflag") === "A").select("l_orderkey")
          .intersectAll(
            l.where(col("l_linestatus") === "F").select("l_orderkey"))
      },
      Some("SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A' " +
        "INTERSECT ALL SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F'")),

    // ── W1: row_number last-writer dedup (merge building block) ────────────
    "w1_rownum_dedup" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        ev.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
          .select(col("user_id"), col("event_id"), usec(col("ts")).as("ts_us"))
      },
      Some("SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
        "FROM events) WHERE rn = 1")),

    // ── W2: running totals + rank over exact integers ──────────────────────
    "w2_running_window" -> Q(
      (s, d) => {
        val ev = t(s, d, "events").where(col("user_id") < 20)
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        ev.select(col("user_id"), col("event_id"),
          count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, 0)).as("running_n"),
          sum(Functions.cents(col("value"))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)).as("running_cents"),
          rank().over(w).cast("long").as("rk"))
      },
      Some("SELECT user_id, event_id, " +
        "count(*) OVER w AS running_n, " +
        "CAST(sum(CAST(round(value*100) AS BIGINT)) OVER w AS BIGINT) AS running_cents, " +
        "rank() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk " +
        "FROM events WHERE user_id < 20 " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")),

    // ── W3: sessionization (gaps-and-islands): a session breaks after a
    //    30-minute silence; session id = running count of breaks ────────────
    "w3_sessionize" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val gap = usec(col("ts")) - usec(lag(col("ts"), 1).over(w))
        val isBreak = when(gap.isNull || gap > 30L * 60 * 1000000, 1L).otherwise(0L)
        ev.select(col("user_id"), col("event_id"), usec(col("ts")).as("ts_us"),
          sum(isBreak).over(w.rowsBetween(Window.unboundedPreceding, 0))
            .as("session_id"))
      },
      Some("""SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM (SELECT user_id, event_id, ts,
        |  epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
        |  FROM events)""".stripMargin)),

    // ── W5: navigation/distribution window functions (lead/lag/ntile) ──────
    "w5_lead_lag" -> Q(
      (s, d) => {
        val ev = t(s, d, "events").where(col("user_id") < 20)
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        ev.select(col("user_id"), col("event_id"),
          lag(col("event_id"), 1).over(w).as("prev_id"),
          lead(col("event_id"), 1).over(w).as("next_id"),
          ntile(4).over(w).cast("long").as("quartile"))
      },
      Some("""SELECT user_id, event_id,
        |  lag(event_id) OVER w AS prev_id, lead(event_id) OVER w AS next_id,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM events WHERE user_id < 20
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin)),

    // ── A12: conditional aggregation (count_if / FILTER clause) ────────────
    "a12_filtered_agg" -> Q(
      (s, d) => t(s, d, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count_if(col("value") > 50).as("n_high"),
          sum(when(col("value") > 50, Functions.cents(col("value")))
            .otherwise(0L)).as("high_cents")),
      Some("SELECT event_type, count(*) AS n, " +
        "CAST(count(*) FILTER (WHERE value > 50) AS BIGINT) AS n_high, " +
        "CAST(sum(CASE WHEN value > 50 THEN CAST(round(value*100) AS BIGINT) ELSE 0 END) AS BIGINT) AS high_cents " +
        "FROM events GROUP BY event_type")),

    // ── F1: best-effort timestamp parse (multi-format coalesce) ────────────
    "f1_best_effort_ts" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
        val str = when(col("event_id") % 2 === 0,
          date_format(col("ts"), "MM/dd/yyyy HH:mm:ss"))
          .otherwise(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
        ev.select(col("event_id"),
          usec(Functions.bestEffortTimestamp(str)).as("parsed_us"))
      },
      Some("""SELECT event_id, epoch_us(coalesce(
        |  try_strptime(s, '%m/%d/%Y %H:%M:%S'),
        |  try_strptime(s, '%Y-%m-%d %H:%M:%S'))) AS parsed_us
        |FROM (SELECT event_id, CASE WHEN event_id % 2 = 0
        |  THEN strftime(ts, '%m/%d/%Y %H:%M:%S')
        |  ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS s FROM events)""".stripMargin)),

    // ── F11: date/time function surface (trunc, extract, datediff) ─────────
    "f11_datetime" -> Q(
      (s, d) => {
        val ts = col("ts").cast("timestamp")
        t(s, d, "events").select(col("event_id"),
          year(ts).cast("long").as("y"),
          month(ts).cast("long").as("m"),
          dayofmonth(ts).cast("long").as("dom"),
          // Spark dayofweek: 1=Sunday; normalize to ISO 1=Monday..7=Sunday
          ((dayofweek(ts) + 5) % 7 + 1).cast("long").as("iso_dow"),
          unix_micros(date_trunc("month", ts)).as("month_start_us"),
          datediff(ts.cast("date"), lit("2024-01-01").cast("date"))
            .cast("long").as("days_since"))
      },
      Some("""SELECT event_id, CAST(year(ts) AS BIGINT) AS y,
        |  CAST(month(ts) AS BIGINT) AS m, CAST(day(ts) AS BIGINT) AS dom,
        |  CAST(isodow(ts) AS BIGINT) AS iso_dow,
        |  epoch_us(date_trunc('month', ts)) AS month_start_us,
        |  CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS days_since
        |FROM events""".stripMargin)),

    // ── CDC apply: a keyed change log (insert/update/delete ops) folded to
    //    final table state — last op per key wins, a trailing delete removes
    //    the key entirely. The delete-capture semantics the reference
    //    documents as unsupported (README "deletes are not synced"); one
    //    rank window on the key partitioning, no self-join ─────────────────
    "x_cdc_apply" -> Q(
      (s, d) => {
        val ops = t(s, d, "events").select(
          col("user_id"), col("ts"), col("event_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          when(col("event_type") === "signup", "I")
            .when(col("event_type") === "error", "D").otherwise("U").as("op"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc,
            coalesce(col("event_id"), lit(Long.MinValue)).desc)
        ops.withColumn("rn", row_number().over(w))
          .withColumn("n_ops", count(lit(1)).over(Window.partitionBy(col("user_id"))))
          .where(col("rn") === 1 && col("op") =!= "D")
          .select(col("user_id"), col("op").as("last_op"), col("cents"),
            usec(col("ts")).as("updated_us"), col("n_ops"))
      },
      Some(cdcApplySql)),

    // ── W7: rank-distribution and frame-navigation window functions —
    //    percent_rank/cume_dist (single correctly-rounded IEEE division,
    //    cross-engine safe) and first/nth/last_value over an explicit
    //    full-partition frame (the default frame would make last_value
    //    order-dependent garbage) ──────────────────────────────────────────
    "w7_distribution" -> Q(
      (s, d) => {
        val ev = t(s, d, "events").where(col("user_id") < 50)
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ev.select(col("user_id"), col("event_id"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          first(col("event_id")).over(full).as("first_id"),
          nth_value(col("event_id"), 2).over(full).as("second_id"),
          last(col("event_id")).over(full).as("last_id"))
      },
      Some("""SELECT user_id, event_id,
        |  percent_rank() OVER w AS pr, cume_dist() OVER w AS cd,
        |  first_value(event_id) OVER wf AS first_id,
        |  nth_value(event_id, 2) OVER wf AS second_id,
        |  last_value(event_id) OVER wf AS last_id
        |FROM events WHERE user_id < 50
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
        |  wf AS (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin)),

    // ── F12: string-function breadth — pad/translate/repeat/reverse/
    //    position/split_part, every one a codegen'd built-in with identical
    //    semantics in DuckDB ───────────────────────────────────────────────
    "f12_string_funcs" -> Q(
      (s, d) => t(s, d, "part").select(
        col("p_partkey"),
        lpad(col("p_brand"), 12, "*").as("brand_pad"),
        translate(col("p_name"), "aeiou", "AEIOU").as("name_tr"),
        concat(repeat(lit("-"), 3), reverse(col("p_brand"))).as("brand_rev"),
        instr(col("p_name"), "old").cast("long").as("pos_old"),
        split_part(col("p_name"), lit(" "), lit(1)).as("first_word"),
        expr("left(p_type, 4)").as("type4")),
      Some("""SELECT p_partkey, lpad(p_brand, 12, '*') AS brand_pad,
        |  translate(p_name, 'aeiou', 'AEIOU') AS name_tr,
        |  repeat('-', 3) || reverse(p_brand) AS brand_rev,
        |  CAST(strpos(p_name, 'old') AS BIGINT) AS pos_old,
        |  split_part(p_name, ' ', 1) AS first_word,
        |  left(p_type, 4) AS type4
        |FROM part""".stripMargin)),

    // ── F13: math-function breadth — abs/sign/greatest/least/integer
    //    floor-sqrt, all exact or single-rounding operations both engines
    //    agree on bit-for-bit ──────────────────────────────────────────────
    "f13_math_funcs" -> Q(
      (s, d) => t(s, d, "events").select(
        col("event_id"),
        abs(expr("CAST(round(value * 100) AS BIGINT)") - 5000L).as("abs_dev"),
        signum(col("value") - 50).cast("long").as("sgn"),
        greatest(col("user_id"), col("event_id") % 100).as("gt"),
        least(col("user_id"), col("event_id") % 100).as("lt"),
        floor(sqrt(expr("CAST(round(value * 100) AS BIGINT)"))).cast("long")
          .as("isqrt")),
      Some("""SELECT event_id,
        |  abs(CAST(round(value * 100) AS BIGINT) - 5000) AS abs_dev,
        |  CAST(sign(value - 50) AS BIGINT) AS sgn,
        |  greatest(user_id, event_id % 100) AS gt,
        |  least(user_id, event_id % 100) AS lt,
        |  CAST(floor(sqrt(CAST(round(value * 100) AS BIGINT))) AS BIGINT) AS isqrt
        |FROM events""".stripMargin)),

    // ── S4b: ORC roundtrip — write lineitem as zlib ORC, read it back,
    //    aggregate; proves the second columnar interchange format end to
    //    end against the parquet-sourced oracle ────────────────────────────
    "s4_orc_roundtrip" -> Q(
      (s, d) => {
        val li = t(s, d, "lineitem")
        val dir = Scratch.dir(s, "s4_orc_roundtrip")
        Tables.writeOrc(li, dir)
        Tables.readOrc(s, dir)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity")).cast("long").as("sum_qty"),
            sum(Functions.cents(col("l_extendedprice"))).as("sum_cents"))
      },
      Some("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "CAST(sum(l_quantity) AS BIGINT) AS sum_qty, " +
        "CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM lineitem GROUP BY 1, 2")),

    // ── S5b: partitioned layout + partition-pruned scan — events written
    //    hive-partitioned by event_type, then one partition read back. The
    //    filter prunes at the DIRECTORY level (PlanAuditSpec asserts it);
    //    at 100 TB this is the difference between scanning 1/5 of the
    //    corpus and all of it ──────────────────────────────────────────────
    "s5_partitioned_prune" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
        val dir = Scratch.dir(s, "s5_partitioned_prune")
        val data = ev.select(col("event_id"), col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          col("event_type"))
        Tables.writePartitioned(data, dir, Seq("event_type"))
        // explicit schema: an empty source writes a layout with no data
        // files, where schema inference would fail — and skipping inference
        // also saves a footer-listing pass on a large layout
        s.read.schema(data.schema).parquet(dir)
          .where(col("event_type") === "purchase")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      },
      Some("SELECT event_type, count(*) AS n, " +
        "CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents " +
        "FROM events WHERE event_type = 'purchase' GROUP BY 1")),

    // (an earlier per-event SCD2 versioning entry lived here under the key
    // "x_scd2_history" — silently SHADOWED by Pipeline's run-collapsing
    // entry of the same name in the allQ merge, so it never ran; removed,
    // and RegistryContractSpec now rejects any cross-registry key collision)

    // ── F8: JSON extraction from the events props column ───────────────────
    "f8_json_extract" -> Q(
      (s, d) => t(s, d, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .where(col("k") > 50),
      Some("SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k " +
        "FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50")),

    // ── SyncEngine end-to-end: append-only bootstrap + incremental ─────────
    "sync_append_e2e" -> Q(
      (s, d) => {
        val engine = new SyncEngine
        val src = t(s, d, "events")
        // pre-existing warehouse state; an EMPTY source has no watermark to
        // carve a stale sink from — the fixture degrades to an empty sink
        // (the engine itself already handles None watermarks)
        val sink = Watermark.maxOf(src, "event_id") match {
          case Some(maxId) =>
            src.where(col("event_id") <= maxId.asInstanceOf[Long] - 100)
          case None => src.limit(0)
        }
        val result = engine.sync(src, Some(sink), SyncStrategy.AppendOnly("event_id"))
        result.table.select(col("event_id"), usec(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"), col("props"))
      },
      Some("SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props " +
        "FROM events")),

    // ── SyncEngine end-to-end: last-modified upsert with stale sink ────────
    "sync_upsert_e2e" -> Q(
      (s, d) => {
        val engine = new SyncEngine
        val src = t(s, d, "events")
        // stale-sink fixture; empty source → empty sink, same degradation
        // as sync_append_e2e
        val sink = Watermark.maxOf(src, "ts") match {
          case Some(maxTs) =>
            val boundary = java.sql.Timestamp.from(
              Watermark.asSqlTimestamp(maxTs).toInstant
                .minus(java.time.Duration.ofDays(1)))
            src.where(col("ts") < lit(boundary))
              .withColumn("value", col("value") - 5) // stale values to be overwritten
          case None => src.limit(0)
        }
        val result = engine.sync(src, Some(sink), SyncStrategy.Upsert("event_id", "ts"))
        result.table.select(col("event_id"), usec(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"), col("props"))
      },
      Some("""WITH allmax AS (SELECT max(ts) AS m FROM events),
        |sink AS (SELECT event_id, ts, user_id, event_type, value - 5 AS value, props
        |  FROM events, allmax WHERE ts < m - INTERVAL 1 DAY),
        |wm AS (SELECT max(ts) AS w FROM sink),
        |delta AS (SELECT e.* FROM events e, wm WHERE e.ts >= wm.w),
        |dedup AS (SELECT event_id, ts, user_id, event_type, value, props FROM
        |  (SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts DESC) AS rn
        |   FROM delta) WHERE rn = 1)
        |SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
        |FROM sink WHERE event_id NOT IN (SELECT event_id FROM dedup)
        |UNION ALL
        |SELECT event_id, epoch_us(ts), user_id, event_type, value, props FROM dedup""".stripMargin)),

    // ── Catalog: row counts per table (S9-level parity check) ──────────────
    "catalog_counts" -> Q(
      (s, d) => graft.catalog.Catalog.rowCounts(s, d),
      Some(graft.catalog.Catalog.corpusTables.sorted
        .map(t => s"SELECT '$t' AS table_name, count(*) AS n_rows, " +
          s"format('{:,}', count(*)) AS n_pretty FROM $t")
        .mkString("", " UNION ALL ", " ORDER BY table_name"))),

    // ── S13: schema introspection from the parquet footer ──────────────────
    "catalog_describe" -> Q(
      (s, d) => graft.catalog.Catalog.describe(s, d, "customer"),
      Some("SELECT column_name, " +
        "CASE lower(column_type) WHEN 'bigint' THEN 'bigint' " +
        "WHEN 'varchar' THEN 'string' WHEN 'integer' THEN 'int' " +
        "WHEN 'double' THEN 'double' ELSE lower(column_type) END AS data_type, " +
        "(\"null\" = 'YES') AS nullable " +
        "FROM (DESCRIBE SELECT * FROM customer)")),

    // ── S10/S11: sorted table-name list ────────────────────────────────────
    "catalog_names" -> Q(
      (s, d) => {
        import s.implicits._
        graft.catalog.Catalog.tableNames(d).toDF("table_name")
      },
      Some(graft.catalog.Catalog.corpusTables.sorted
        .map(t => s"('$t')").mkString(
          "SELECT * FROM (VALUES ", ", ", ") t(table_name)"))),

    // ── S12: existence probes (Hadoop FS), incl. a missing table ───────────
    "catalog_exists" -> Q(
      (s, d) => {
        import s.implicits._
        (graft.catalog.Catalog.corpusTables.sorted :+ "no_such_table")
          .map(n => (n, graft.catalog.Catalog.tableExists(s, d, n)))
          .toDF("table_name", "table_exists")
      },
      Some((graft.catalog.Catalog.corpusTables.sorted.map(t => s"('$t', true)")
        :+ "('no_such_table', false)").mkString(
          "SELECT * FROM (VALUES ", ", ", ") t(table_name, table_exists)"))),

    // ── S9/O4: size listing (filesystem metadata, no scan) ─────────────────
    "catalog_sizes" -> Q(
      (s, d) => graft.catalog.Catalog.listWithSizes(s, d)
        .select(col("table_name"), (col("total_bytes") > 0).as("nonempty")),
      Some(graft.catalog.Catalog.corpusTables.sorted.map(t => s"('$t', true)")
        .mkString("SELECT * FROM (VALUES ", ", ", ") t(table_name, nonempty)")))
  )
}
