package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Tables

/** Batch-parity of the streaming windowed aggregation: running the events
  * table through the AvailableNow stream + changelog compaction must equal
  * the plain batch groupBy — the same invariant the DuckDB oracle checks.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Stage one DataFrame as a single parquet file named `name` inside the
    * streaming source dir with a pinned mtime — the file-source batch
    * order. 120s+ gaps between files tolerate filesystems that clamp
    * mtime granularity; a filesystem that IGNORES the update fails the
    * assert rather than silently collapsing the batches. ONE definition —
    * the multi-batch eviction tests all stage through here.
    */
  private def stageBatchFile(root: String, dir: java.io.File,
                             rows: org.apache.spark.sql.DataFrame,
                             name: String, mtime: Long): Unit = {
    val stage = s"$root/stage_$name"
    rows.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst = new java.io.File(dir, s"$name.parquet")
    java.nio.file.Files.copy(part.toPath, dst.toPath)
    assert(dst.setLastModified(mtime), "mtime ordering is the batch order")
  }

  test("empty events source: every runner returns an empty frame cleanly") {
    import spark.implicits._
    val sf = TestSpark.tmpDir("emptyev")
    Seq.empty[(Long, Long, java.sql.Timestamp, String, Double)]
      .toDF("user_id", "event_id", "ts", "event_type", "value")
      .write.mode("overwrite").parquet(s"$sf/events.parquet")
    // update-changelog, complete-changelog, and append-sink paths all hit
    // their no-data branch — empty result, correct schema, no throw
    assert(graft.streaming.StreamingSync
      .windowedEventCounts(spark, sf).isEmpty)
    assert(graft.streaming.StreamingSync
      .sessionizedCounts(spark, sf).isEmpty)
    // the watermarked-run twin: only its sentinel batch has rows, whose
    // session stays open — zero-row append sink degrades to the empty frame
    assert(graft.streaming.StreamingSync
      .sessionizedCountsClosed(spark, sf).isEmpty)
    val dedup = graft.streaming.StreamingSync
      .streamingDedup(spark, sf, Seq("user_id"))
    assert(dedup.isEmpty && dedup.columns.toSeq == Seq("user_id"))
  }

  test("every registered stream_* twin drains under its own query name " +
    "and leaves its micro-batch plan at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val twins = SparkEntry.queries.keys.filter(_.startsWith("stream_"))
      .toSeq.sorted
    assert(twins.size == 22, s"registered twins: $twins")
    val names = twins.map { twin =>
      SparkEntry.queries(twin)(spark, sf).count()
      val prog = graft.streaming.StreamingSync.lastRunProgress
      assert(prog.nonEmpty, s"$twin left no progress")
      val named = prog.map(_.name).distinct.toSeq
      assert(named.size == 1 && named.head.startsWith("graft_stream_"),
        s"$twin batches carry query names $named")
      assert(graft.streaming.StreamingSync.lastRunPlan.isDefined,
        s"$twin left no captured micro-batch plan")
      named.head
    }
    assert(names.distinct.size == twins.size,
      s"query names are not distinct per twin: ${twins.zip(names)}")
  }

  test("corpus histogram: multi-batch drain compacts per-bucket state to " +
    "the cumulative counts (update-mode last-writer-wins across batches)") {
    import spark.implicits._
    val sf = TestSpark.tmpDir("histsf")
    val dir = new java.io.File(s"$sf/documents.parquet")
    assert(dir.mkdirs())
    def docs(rows: Seq[(Long, String, String)]) = rows
      .map { case (id, text, src) => (id, text, "en", src, 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val now = System.currentTimeMillis()
    // batch 1: two 3-char docs in src a (bucket len(bin(3)) = 2)
    stageBatchFile(sf, dir, docs(Seq((1L, "abc", "a"), (2L, "xyz", "a"))),
      "b1", now - 240000)
    // batch 2: one more 3-char doc in a — SAME bucket, so its update-mode
    // re-emission (3) must supersede batch 1's count (2) — plus a
    // 10-char doc opening src b (bucket 4) and a null text (bucket -1)
    stageBatchFile(sf, dir,
      docs(Seq((3L, "def", "a"), (4L, "0123456789", "b"), (5L, null, "b"))),
      "b2", now - 120000)
    spark.conf.set("graft.stream.maxFilesPerTrigger", "1")
    val out =
      try graft.streaming.StreamingSync.corpusHistogram(spark, sf).collect()
      finally spark.conf.unset("graft.stream.maxFilesPerTrigger")
    val batches = graft.streaming.StreamingSync.lastRunProgress
      .count(_.numInputRows > 0)
    assert(batches >= 2, s"expected a multi-batch drain, got $batches")
    val got = out.map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(("a", 2L) -> 3L, ("b", 4L) -> 1L, ("b", -1L) -> 1L),
      s"got $got")
  }

  test("quality gate: multi-batch drain keeps per-source admit counters " +
    "cumulative; null text rejects, never crashes") {
    import spark.implicits._
    val sf = TestSpark.tmpDir("qgatesf")
    val dir = new java.io.File(s"$sf/documents.parquet")
    assert(dir.mkdirs())
    def docs(rows: Seq[(Long, String, String)]) = rows
      .map { case (id, text, src) => (id, text, "en", src, 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val ok = "this document easily clears every admission rule today"
    val now = System.currentTimeMillis()
    // batch 1: src a = one admit + one too-short reject
    stageBatchFile(sf, dir, docs(Seq((1L, ok, "a"), (2L, "tiny", "a"))),
      "b1", now - 240000)
    // batch 2: src a admits again (counter must go 1→2 via update-mode
    // re-emission, not reset); src b = null text (reject, no crash)
    stageBatchFile(sf, dir, docs(Seq((3L, ok + " again", "a"), (4L, null, "b"))),
      "b2", now - 120000)
    spark.conf.set("graft.stream.maxFilesPerTrigger", "1")
    val out =
      try graft.streaming.StreamingSync.qualityGate(spark, sf).collect()
      finally spark.conf.unset("graft.stream.maxFilesPerTrigger")
    val batches = graft.streaming.StreamingSync.lastRunProgress
      .count(_.numInputRows > 0)
    assert(batches >= 2, s"expected a multi-batch drain, got $batches")
    val got = out.map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map("a" -> ((3L, 2L)), "b" -> ((1L, 0L))), s"got $got")
  }

  test("stream cell occupancy: multi-batch drain equals the batch cell " +
    "histogram over the union of landed files") {
    import spark.implicits._
    val sf = TestSpark.tmpDir("cellsf")
    val dir = new java.io.File(s"$sf/embeddings.parquet")
    assert(dir.mkdirs())
    def vecs(from: Int, n: Int) = (from until from + n)
      .map(i => (i.toLong,
        Array.tabulate(64)(j => ((i * 31 + j * 7) % 13 - 6) / 10.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val now = System.currentTimeMillis()
    stageBatchFile(sf, dir, vecs(0, 20), "b1", now - 240000)
    stageBatchFile(sf, dir, vecs(20, 20), "b2", now - 120000)
    spark.conf.set("graft.stream.maxFilesPerTrigger", "1")
    val out =
      try graft.streaming.StreamingSync.streamCellOccupancy(spark, sf).collect()
      finally spark.conf.unset("graft.stream.maxFilesPerTrigger")
    val batches = graft.streaming.StreamingSync.lastRunProgress
      .count(_.numInputRows > 0)
    assert(batches >= 2, s"expected a multi-batch drain, got $batches")
    val got = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = graft.io.Tables.table(spark, sf, "embeddings")
      .select(graft.operators.Similarity.signLshBucket(
        graft.operators.Similarity.quantize(col("embedding")), 0 until 4, 8)
        .as("cell"))
      .groupBy("cell").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, s"got $got expected $expected")
  }

  test("stream attribution: the carried touch state credits a purchase " +
    "in a LATER batch; an untouched user lands in (none)") {
    import spark.implicits._
    val sf = TestSpark.tmpDir("attrsf")
    val dir = new java.io.File(s"$sf/events.parquet")
    assert(dir.mkdirs())
    def ev(rows: Seq[(Long, Long, String, String, Double)]) = rows
      .map { case (eid, uid, tpe, ts, v) =>
        (eid, java.sql.Timestamp.valueOf(ts), uid, tpe, v, "{}")
      }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val now = System.currentTimeMillis()
    // batch 1: user 1 clicks then purchases (intra-batch attribution needs
    // the (ts, event_id) sort — the click row is staged AFTER the purchase
    // row in file order); user 2 purchases untouched
    stageBatchFile(sf, dir, ev(Seq(
      (3L, 1L, "purchase", "2000-01-01 10:05:00", 1.0),
      (1L, 1L, "click", "2000-01-01 10:00:00", 0.0),
      (2L, 2L, "purchase", "2000-01-01 10:01:00", 2.0))),
      "b1", now - 240000)
    // batch 2: user 1 purchases again with NO new touch — the credit must
    // come from batch 1's carried click state; then a view flips the state
    // and a third purchase credits view
    stageBatchFile(sf, dir, ev(Seq(
      (4L, 1L, "purchase", "2000-01-01 11:00:00", 4.0),
      (5L, 1L, "view", "2000-01-01 11:30:00", 0.0),
      (6L, 1L, "purchase", "2000-01-01 11:31:00", 8.0))),
      "b2", now - 120000)
    spark.conf.set("graft.stream.maxFilesPerTrigger", "1")
    val out =
      try graft.streaming.StreamingSync.statefulAttribution(spark, sf).collect()
      finally spark.conf.unset("graft.stream.maxFilesPerTrigger")
    val batches = graft.streaming.StreamingSync.lastRunProgress
      .count(_.numInputRows > 0)
    assert(batches >= 2, s"expected a multi-batch drain, got $batches")
    val got = out.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      "click" -> ((2L, 500L)),   // eids 3 (100¢) and 4 (400¢)
      "view" -> ((1L, 800L)),    // eid 6
      "(none)" -> ((1L, 200L))), // eid 2
      s"got $got")
  }

  test("stream event spikes: multi-batch drain keeps per-(type, day) " +
    "counters cumulative; flag compares against the static median") {
    import spark.implicits._
    val sf = TestSpark.tmpDir("spikesf")
    val dir = new java.io.File(s"$sf/events.parquet")
    assert(dir.mkdirs())
    def ev(rows: Seq[(Long, String)]) = rows.zipWithIndex
      .map { case ((dayMs, tpe), i) =>
        (i.toLong, new java.sql.Timestamp(dayMs), 1L, tpe, 0.0, "{}")
      }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d1 = java.sql.Timestamp.valueOf("2000-01-01 10:00:00").getTime
    val d2 = java.sql.Timestamp.valueOf("2000-01-02 10:00:00").getTime
    val now = System.currentTimeMillis()
    // day 1 gets 1 click in batch 1 and 5 more in batch 2 (counter must go
    // 1 → 6 via update-mode re-emission); day 2 gets 2 — the per-type
    // median daily count is then 2, so day 1 flags (6·2 = 12 > 2·5 = 10)
    // and day 2 does not (the 2.5× test is strict: a day at exactly
    // 2.5× median, e.g. 5 here, would NOT flag)
    stageBatchFile(sf, dir, ev(Seq((d1, "click"), (d2, "click"), (d2, "click"))),
      "b1", now - 240000)
    stageBatchFile(sf, dir, ev(Seq((d1, "click"), (d1, "click"), (d1, "click"),
      (d1, "click"), (d1, "click"))), "b2", now - 120000)
    spark.conf.set("graft.stream.maxFilesPerTrigger", "1")
    val out =
      try graft.streaming.StreamingSync.streamEventSpikes(spark, sf).collect()
      finally spark.conf.unset("graft.stream.maxFilesPerTrigger")
    val batches = graft.streaming.StreamingSync.lastRunProgress
      .count(_.numInputRows > 0)
    assert(batches >= 2, s"expected a multi-batch drain, got $batches")
    val got = out.map(r => (r.getString(0), r.getLong(1)) ->
      ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    val day1Us = d1 / 1000 * 1000 / 86400000L * 86400000000L
    val day2Us = day1Us + 86400000000L
    assert(got == Map(
      ("click", day1Us) -> ((6L, 2L, true)),
      ("click", day2Us) -> ((2L, 2L, false))), s"got $got")
  }

  test("stream decontaminate: multi-batch drain flags train docs against " +
    "the static eval 8-gram set; null text never crashes") {
    import spark.implicits._
    val sf = TestSpark.tmpDir("deconsf")
    val dir = new java.io.File(s"$sf/documents.parquet")
    assert(dir.mkdirs())
    def docs(rows: Seq[(Long, String)]) = rows
      .map { case (id, text) => (id, text, "en", "src", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // doc_id hash slices (md5 hex prefix % 100): 8 → eval (h >= 95);
    // 1, 2, 3, 4 → train (h < 90)
    val nine = (1 to 9).map(i => s"a$i").mkString(" ")   // eval: 2 8-grams
    val eight = (1 to 8).map(i => s"a$i").mkString(" ")  // matches 1 of them
    val now = System.currentTimeMillis()
    // batch 1 also carries the eval doc — the static side reads the whole
    // staged table; the h-gate keeps it out of the streamed train slice
    stageBatchFile(sf, dir,
      docs(Seq((8L, nine), (1L, eight), (2L, "zz yy xx"))), "b1", now - 240000)
    stageBatchFile(sf, dir,
      docs(Seq((3L, nine), (4L, null))), "b2", now - 120000)
    spark.conf.set("graft.stream.maxFilesPerTrigger", "1")
    val out =
      try graft.streaming.StreamingSync.streamDecontaminate(spark, sf).collect()
      finally spark.conf.unset("graft.stream.maxFilesPerTrigger")
    val batches = graft.streaming.StreamingSync.lastRunProgress
      .count(_.numInputRows > 0)
    assert(batches >= 2, s"expected a multi-batch drain, got $batches")
    val got = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 3L -> 2L), s"got $got")
  }

  test("session_window merges at the EXACT gap boundary (oracle contract)") {
    import spark.implicits._
    // Both session oracles (stream_sessionize, stream_sessionize_wm) break
    // sessions on diff > gap — i.e. an event landing exactly gap after the
    // previous one MERGES. Spark's session_window agrees today (merge on
    // touch, not just overlap); a Spark upgrade that flips to an
    // exclusive end would silently diverge from the oracles at exact-gap
    // boundaries — this pins it.
    val atGap = Seq(
      (1L, java.sql.Timestamp.valueOf("2000-01-01 12:00:00")),
      (1L, java.sql.Timestamp.valueOf("2000-01-01 12:30:00")))
      .toDF("user_id", "ts")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n")).collect()
    assert(atGap.length == 1 && atGap.head.getLong(2) == 2L,
      "events exactly gap apart must merge into one session")
    val pastGap = Seq(
      (1L, java.sql.Timestamp.valueOf("2000-01-01 12:00:00")),
      (1L, new java.sql.Timestamp(
        java.sql.Timestamp.valueOf("2000-01-01 12:30:00").getTime + 1)))
      .toDF("user_id", "ts")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n")).collect()
    assert(pastGap.length == 2,
      "events strictly past the gap must split into two sessions")
  }

  test("session_window equals gaps-and-islands on randomized event sets " +
    "(generative law)") {
    import spark.implicits._
    // The oracle chain rests on two equivalences: stream ≡ batch
    // session_window (corpus tests) and session_window ≡ the SQL
    // gaps-and-islands idiom (this law). Randomized inputs are biased to
    // 15-minute multiples so exact-gap boundaries (the merge-on-touch
    // corner pinned above) occur constantly, not never.
    val gapUs = 30L * 60 * 1000000
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val t0 = java.sql.Timestamp.valueOf("2000-01-01 00:00:00").getTime
      val rows = for {
        u <- 1L to (1 + rnd.nextInt(3)).toLong
        _ <- 0 until rnd.nextInt(20)
      } yield (u, new java.sql.Timestamp(
        t0 + rnd.nextInt(40) * 15L * 60 * 1000)) // 15-min grid, 10h span
      if (rows.nonEmpty) {
        val ev = rows.toDF("user_id", "ts")
        val viaWindow = ev
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n"))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("s"),
            unix_micros(col("session_window.end")).as("e"), col("n"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSet
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts"))
        val viaIslands = ev
          .withColumn("brk", when(col("ts").isNull.or(
            unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
              <= gapUs), lit(0)).otherwise(lit(1)))
          .withColumn("brk", when(lag(col("ts"), 1).over(w).isNull, lit(1))
            .otherwise(col("brk")))
          .withColumn("sid", sum(col("brk")).over(
            w.rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)))
          .groupBy("user_id", "sid")
          .agg(unix_micros(min(col("ts"))).as("s"),
            (unix_micros(max(col("ts"))) + gapUs).as("e"),
            count(lit(1)).as("n"))
          .select("user_id", "s", "e", "n")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSet
        assert(viaWindow == viaIslands,
          s"seed $seed: session_window ${viaWindow.size} sessions != " +
            s"islands ${viaIslands.size}:\n  only-window: " +
            s"${(viaWindow -- viaIslands).take(3)}\n  only-islands: " +
            s"${(viaIslands -- viaWindow).take(3)}")
      }
    }
  }

  test("windowed stream agg equals batch groupBy at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingSync
      .windowedEventCounts(spark, sf, windowMinutes = 5)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap

    val ev = Tables.table(spark, sf, "events")
    val batch = ev
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
      .select(unix_micros(col("window.start")).as("w"), col("event_type"),
        col("n"), col("cents"))
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap

    assert(streamed == batch)
  }

  test("incremental file sync appends exactly the delta on re-run") {
    import spark.implicits._
    val root = TestSpark.tmpDir("filesync")
    val src = s"$root/src"; val sink = s"$root/sink"; val ckpt = s"$root/ckpt"
    (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .write.mode("append").parquet(src)
    assert(graft.streaming.StreamingSync
      .incrementalFileSync(spark, src, sink, ckpt) == 10)
    // no new files → nothing moves (the zero-delta short-circuit)
    assert(graft.streaming.StreamingSync
      .incrementalFileSync(spark, src, sink, ckpt) == 0)
    // two new source files → only the delta appends; with the batching
    // knob set, the backfill drains in bounded micro-batches (one file
    // per trigger) instead of one giant batch
    (11 to 15).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(src)
    (16 to 18).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(src)
    spark.conf.set("graft.stream.maxFilesPerTrigger", "1")
    try assert(graft.streaming.StreamingSync
      .incrementalFileSync(spark, src, sink, ckpt) == 8)
    finally spark.conf.unset("graft.stream.maxFilesPerTrigger")
    assert(graft.streaming.StreamingSync.lastRunProgress
      .count(_.numInputRows > 0) >= 2,
      "maxFilesPerTrigger=1 must split the two new files into >=2 batches")
    assert(spark.read.parquet(sink).count() == 18)
    // the file-sync runner participates in the lastRunPlan contract like
    // the changelog/append runners — a plan audit after a drain must see
    // THIS run's executed plan, not a stale one from an earlier operator
    assert(graft.streaming.StreamingSync.lastRunPlan.nonEmpty,
      "file sync must record its executed micro-batch plan")
  }

  test("cdcApply and statefulAttribution tolerate NULL event_id rows " +
    "(non-nullable decode guard) instead of crashing the query") {
    import spark.implicits._
    val sf = TestSpark.tmpDir("nullev")
    val dir = new java.io.File(s"$sf/events.parquet")
    assert(dir.mkdirs())
    val rows = Seq(
      (Some(1L), java.sql.Timestamp.valueOf("2000-01-01 10:00:00"), 1L,
        "click", 0.0, "{}"),
      (None: Option[Long], java.sql.Timestamp.valueOf("2000-01-01 10:01:00"),
        1L, "purchase", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    stageBatchFile(sf, dir, rows, "b1", System.currentTimeMillis())
    // pre-fix both queries died with NOT_NULL_ASSERT_VIOLATION on the
    // NULL event_id (the guard streamingScd2 already carried)
    val cdc = graft.streaming.StreamingSync.cdcApply(spark, sf).collect()
    assert(cdc.length == 1, s"one user key: ${cdc.toSeq}")
    val attr = graft.streaming.StreamingSync.statefulAttribution(spark, sf)
      .collect()
    assert(attr.length == 1, s"one purchase credited: ${attr.toSeq}")
  }

  test("stream-stream range join: graft.stream.watermark drops late rows " +
    "and evicts join state (negative path)") {
    import spark.implicits._
    // Three-batch drain over a synthetic events directory:
    //   batch 0 — purchase@T0, matching click@T0-60s, and far-future
    //             rows on BOTH sides at T0+2h that advance each side's
    //             event-time watermark past T0+1h;
    //   batch 1 — a neutral far-future click (the watermark, first
    //             computed AFTER batch 0, is now in effect AND one batch
    //             old — eviction runs here with wm=T0+1h);
    //   batch 2 — a LATE click@T0-30s that would match the purchase.
    // Unbounded (no watermark): both clicks match → 2 pairs. With a
    // 1-hour watermark the batch-2 click is below the late-input
    // watermark (= the watermark in effect during batch 1) AND the
    // purchase's join state was evicted at the end of batch 1 → 1 pair.
    // Three batches, not two, because late-input filtering uses the
    // PREVIOUS batch's watermark while eviction uses the current one
    // (see streamStreamRangeJoin doc): a late row landing in the very
    // batch where the watermark first jumps still joins — that is the
    // documented contract, not a bug. The happy-path parity test can't
    // see eviction because batch-parity runs set no watermark; this is
    // the negative proof the state-boundedness contract engages.
    val root = TestSpark.tmpDir("evict")
    val dir = new java.io.File(s"$root/events.parquet")
    dir.mkdirs()
    val t0 = java.sql.Timestamp.valueOf("2000-01-01 12:00:00").getTime
    def ts(offsetSec: Long) = new java.sql.Timestamp(t0 + offsetSec * 1000)
    def writeFile(rows: Seq[(Long, Long, java.sql.Timestamp, String)],
                  name: String, mtime: Long): Unit =
      stageBatchFile(root, dir,
        rows.toDF("user_id", "event_id", "ts", "event_type"), name, mtime)
    val now = System.currentTimeMillis()
    writeFile(Seq(
      (1L, 10L, ts(0), "purchase"),
      (1L, 11L, ts(-60), "click"),
      (2L, 12L, ts(7200), "click"),
      (3L, 13L, ts(7200), "purchase")), "b1", now - 240000)
    writeFile(Seq((2L, 15L, ts(7260), "click")), "b2", now - 120000)
    writeFile(Seq((1L, 14L, ts(-30), "click")), "b3", now)

    def run(watermark: Option[String]): Long = {
      spark.conf.set("graft.stream.maxFilesPerTrigger", "1")
      watermark.foreach(spark.conf.set("graft.stream.watermark", _))
      try graft.streaming.StreamingSync
        .streamStreamRangeJoin(spark, root, beforeUs = 600L * 1000000L)
        .count()
      finally {
        spark.conf.unset("graft.stream.maxFilesPerTrigger")
        watermark.foreach(_ => spark.conf.unset("graft.stream.watermark"))
      }
    }
    assert(run(None) == 2L,
      "unbounded state: the late click still matches (batch parity)")
    assert(run(Some("1 hour")) == 1L,
      "watermarked: the late click must be dropped / its partner evicted")
    // the eviction metric proves the state watermark predicates engaged:
    // join state (the T0-window purchase + click) was physically removed,
    // not merely unmatched
    val removed = graft.streaming.StreamingSync.lastRunProgress
      .flatMap(_.stateOperators).map(_.numRowsRemoved).sum
    assert(removed > 0,
      s"state watermark must physically evict join state (removed=$removed)")
  }

  test("streaming dedup: graft.stream.watermark bounds state — expired " +
    "keys re-emit, live keys still dedup (negative path)") {
    import spark.implicits._
    // Three-batch drain, same timing discipline as the join eviction test:
    //   batch 0 — key 1 @T0 and key 99 @T0+3h (advances the watermark,
    //             delay 1h, to T0+2h — past key 1's T0+1h state expiry);
    //   batch 1 — neutral key 98 @T0+3h+60s (the T0+2h watermark is now
    //             in effect: key 1's dedup state is evicted here);
    //   batch 2 — key 1 re-arrives @T0+3h, after its state horizon.
    // Unbounded (plain dropDuplicates): key 1 emits once → 3 rows. With
    // the watermark (dropDuplicatesWithinWatermark): the re-arrival finds
    // no state and re-emits → 4 rows, and the progress metrics must show
    // state physically removed — the state-boundedness contract for a
    // continuous deployment (streamingDedup doc).
    val root = TestSpark.tmpDir("dedupevict")
    val dir = new java.io.File(s"$root/events.parquet")
    dir.mkdirs()
    val t0 = java.sql.Timestamp.valueOf("2000-01-01 12:00:00").getTime
    def ts(offsetSec: Long) = new java.sql.Timestamp(t0 + offsetSec * 1000)
    def writeFile(rows: Seq[(Long, Long, java.sql.Timestamp, String)],
                  name: String, mtime: Long): Unit =
      stageBatchFile(root, dir,
        rows.toDF("user_id", "event_id", "ts", "event_type"), name, mtime)
    val now = System.currentTimeMillis()
    writeFile(Seq(
      (1L, 10L, ts(0), "click"),
      (99L, 11L, ts(10800), "click")), "b1", now - 240000)
    writeFile(Seq((98L, 12L, ts(10860), "click")), "b2", now - 120000)
    writeFile(Seq((1L, 13L, ts(10800), "click")), "b3", now)

    def run(watermark: Option[String]): Long = {
      spark.conf.set("graft.stream.maxFilesPerTrigger", "1")
      watermark.foreach(spark.conf.set("graft.stream.watermark", _))
      try graft.streaming.StreamingSync
        .streamingDedup(spark, root, Seq("user_id")).count()
      finally {
        spark.conf.unset("graft.stream.maxFilesPerTrigger")
        watermark.foreach(_ => spark.conf.unset("graft.stream.watermark"))
      }
    }
    assert(run(None) == 3L,
      "unbounded state: the re-arriving key still dedups (batch parity)")
    assert(run(Some("1 hour")) == 4L,
      "watermarked: the key past its horizon must re-emit")
    val removed = graft.streaming.StreamingSync.lastRunProgress
      .flatMap(_.stateOperators).map(_.numRowsRemoved).sum
    assert(removed > 0,
      s"watermark must physically evict dedup state (removed=$removed)")
  }

  test("windowed agg: graft.stream.watermark evicts closed windows and " +
    "drops late rows in update mode (negative path)") {
    import spark.implicits._
    // Three-batch drain: b1 puts two rows in window W0 = [T0, T0+5m) and
    // a far-future row that advances the 1h watermark to T0+2h; b2 is a
    // neutral far-future row (the advance becomes one batch old and W0's
    // state is evicted); b3 is a LATE row in W0. Without a watermark the
    // late row updates W0 to n=3; with it the row is dropped by the
    // late-input filter (numRowsDroppedByWatermark) and W0 — already
    // emitted and evicted — stays n=2.
    val root = TestSpark.tmpDir("winevict")
    val dir = new java.io.File(s"$root/events.parquet")
    dir.mkdirs()
    val t0 = java.sql.Timestamp.valueOf("2000-01-01 12:00:00").getTime
    def ts(offsetSec: Long) = new java.sql.Timestamp(t0 + offsetSec * 1000)
    def writeFile(rows: Seq[(Long, Long, java.sql.Timestamp, String, Double)],
                  name: String, mtime: Long): Unit =
      stageBatchFile(root, dir,
        rows.toDF("user_id", "event_id", "ts", "event_type", "value"),
        name, mtime)
    val now = System.currentTimeMillis()
    writeFile(Seq(
      (1L, 10L, ts(0), "click", 1.0),
      (2L, 11L, ts(60), "click", 2.0),
      (99L, 12L, ts(10800), "click", 3.0)), "b1", now - 240000)
    writeFile(Seq((98L, 13L, ts(10860), "click", 4.0)), "b2", now - 120000)
    writeFile(Seq((3L, 14L, ts(120), "click", 5.0)), "b3", now)

    def run(watermark: Option[String]): Map[Long, Long] = {
      spark.conf.set("graft.stream.maxFilesPerTrigger", "1")
      watermark.foreach(spark.conf.set("graft.stream.watermark", _))
      try graft.streaming.StreamingSync
        .windowedEventCounts(spark, root, windowMinutes = 5)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      finally {
        spark.conf.unset("graft.stream.maxFilesPerTrigger")
        watermark.foreach(_ => spark.conf.unset("graft.stream.watermark"))
      }
    }
    val w0 = java.sql.Timestamp.valueOf("2000-01-01 12:00:00").getTime * 1000
    assert(run(None)(w0) == 3L,
      "unbounded: the late row still lands in its window (batch parity)")
    assert(run(Some("1 hour"))(w0) == 2L,
      "watermarked: the late row must not reopen the closed window")
    val prog = graft.streaming.StreamingSync.lastRunProgress
      .flatMap(_.stateOperators)
    assert(prog.map(_.numRowsRemoved).sum > 0,
      "closed windows must be physically evicted")
    assert(prog.map(_.numRowsDroppedByWatermark).sum > 0,
      "the late row must be counted as dropped by the watermark")
  }

  test("sessionize: graft.stream.watermark switches to append mode — " +
    "closed sessions emit once and evict, open sessions stay in state " +
    "(negative path)") {
    import spark.implicits._
    // Three-batch drain, same timing discipline as the other eviction
    // tests:
    //   batch 0 — user 1 events @T0 and @T0+10m (one merged session,
    //             end T0+40m with the 30m gap) and user 99 @T0+3h
    //             (advances the 1h watermark to T0+2h);
    //   batch 1 — user 98 @T0+3h+2m (the T0+2h watermark is now in
    //             effect AND one batch old: user 1's session end is
    //             behind it → finalized, emitted, state evicted);
    //   batch 2 — user 97 @T0+3h+4m (keeps the far sessions open).
    // Without a watermark (complete mode): all four users' sessions
    // appear. With it (append mode): ONLY user 1's closed session is
    // emitted — the far-future sessions are still open when the
    // AvailableNow drain ends, the documented trade of the continuous
    // cost model (sessionizedCounts doc) — and the eviction metric shows
    // session state physically removed.
    val root = TestSpark.tmpDir("sessevict")
    val dir = new java.io.File(s"$root/events.parquet")
    dir.mkdirs()
    val t0 = java.sql.Timestamp.valueOf("2000-01-01 12:00:00").getTime
    def ts(offsetSec: Long) = new java.sql.Timestamp(t0 + offsetSec * 1000)
    def writeFile(rows: Seq[(Long, Long, java.sql.Timestamp, String, Double)],
                  name: String, mtime: Long): Unit =
      stageBatchFile(root, dir,
        rows.toDF("user_id", "event_id", "ts", "event_type", "value"),
        name, mtime)
    val now = System.currentTimeMillis()
    writeFile(Seq(
      (1L, 10L, ts(0), "click", 1.0),
      (1L, 11L, ts(600), "click", 2.0),
      (99L, 12L, ts(10800), "click", 3.0)), "b1", now - 240000)
    writeFile(Seq((98L, 13L, ts(10920), "click", 4.0)), "b2", now - 120000)
    writeFile(Seq((97L, 14L, ts(11040), "click", 5.0)), "b3", now)

    def run(watermark: Option[String]) = {
      spark.conf.set("graft.stream.maxFilesPerTrigger", "1")
      watermark.foreach(spark.conf.set("graft.stream.watermark", _))
      try graft.streaming.StreamingSync
        .sessionizedCounts(spark, root, gapMinutes = 30).collect()
      finally {
        spark.conf.unset("graft.stream.maxFilesPerTrigger")
        watermark.foreach(_ => spark.conf.unset("graft.stream.watermark"))
      }
    }
    assert(run(None).map(_.getLong(0)).toSet == Set(1L, 99L, 98L, 97L),
      "batch parity (complete mode): every user's session appears")
    val wm = run(Some("1 hour"))
    assert(wm.map(_.getLong(0)).toSet == Set(1L),
      "append mode: only the closed session emits; open sessions stay " +
        s"in state (got ${wm.map(_.getLong(0)).mkString(",")})")
    val sess = wm.head
    assert(sess.getLong(3) == 2L, "both events merged into one session")
    val removed = graft.streaming.StreamingSync.lastRunProgress
      .flatMap(_.stateOperators).map(_.numRowsRemoved).sum
    assert(removed > 0,
      s"closing a session must evict its state (removed=$removed)")
    // horizon longer than the corpus span → EVERY session still open at
    // end of drain → the append sink commits zero rows; must return the
    // empty frame, not crash on schema inference over a data-less sink
    assert(run(Some("1000 hours")).isEmpty,
      "all-open sessions drain to an empty result, cleanly")
  }

  test("mapGroupsWithState user rollup equals batch groupBy at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingSync.statefulUserRollup(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

    val batch = Tables.table(spark, sf, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"),
        unix_micros(max(col("ts"))).as("last_us"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

    assert(streamed == batch)
  }

  test("streaming URL seen-set equals the batch canonical-URL domain at " +
    "sf0.001, one emission per canonical") {
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingSync.streamingUrlDedup(spark, sf)
      .collect().map(_.getString(0))
    val batch = SparkEntry.queries("x_dedup_url")(spark, sf)
      .select("url_canon").distinct().collect().map(_.getString(0))
    assert(streamed.length == streamed.distinct.length,
      "append-mode dropDuplicates emits each canonical exactly once")
    assert(streamed.toSet == batch.toSet,
      "stream and batch agree on the canonical-URL domain")
  }

  test("streaming per-domain crawl budget equals the batch cap's kept set " +
    "at sf0.001 (cap 2 so the budget genuinely binds)") {
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingSync
      .streamingDomainCap(spark, sf, cap = 2L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = graft.operators.Dedup.domainCap(
      graft.io.Tables.table(spark, sf, "documents").select(col("doc_id"),
        graft.queries.Pipeline.syntheticUrl(col("doc_id"), col("source"))
          .as("url")),
      "doc_id", "url", cap = 2L)
      .where(col("keep")).select("doc_id", "host")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batch,
      "single-drain admission must equal the batch min-doc_id-first verdict")
    assert(streamed.size < spark.read
      .parquet(s"$sf/documents.parquet").count(),
      "the cap must actually drop pages at this fixture size")
  }

  test("streaming near-dup screen: single-drain flags equal the batch " +
    "min-id bucket-ownership verdict at sf0.001, and the per-row " +
    "signature is lockstep with the batch groupBy minhash") {
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingSync.streamingNearDup(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // batch recompute: doc is near-dup iff some band bucket holds a
    // smaller doc_id — derived from the SAME band table the LSH
    // candidate pass uses (uncapped: ownership needs no pair fan-out)
    val sig = graft.operators.Dedup.minhashSignature(
      graft.io.Tables.table(spark, sf, "documents"), "doc_id", "text")
    val bands = graft.operators.Dedup.lshBands(sig)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band_idx"), col("band_sig"))
    val batch = bands
      .withColumn("mn", min(col("doc")).over(w))
      .groupBy(col("doc"))
      .agg(max(col("mn") < col("doc")).as("is_neardup"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(streamed == batch,
      s"stream/batch diverge on ${streamed.toSet.diff(batch.toSet).take(5)}")
    assert(streamed.values.exists(identity) &&
      streamed.values.exists(!_),
      "fixture must exercise both verdicts")
  }

  test("streaming near-dup drops NULL/sub-shingle docs instead of pooling " +
    "them into one empty-signature bucket") {
    import spark.implicits._
    val sf = TestSpark.tmpDir("neardupnull")
    val dir = new java.io.File(s"$sf/documents.parquet")
    assert(dir.mkdirs())
    // two null-text docs produce a NULL slot array; pre-fix, concat_ws
    // over all-NULL slots yielded "" (an empty STRING, not NULL), so both
    // landed in one ("", band) bucket and doc 2 was flagged as a near-dup
    // of doc 1 — while the batch oracle emits no row for them at all. A
    // short doc still shingles (whole-token-string shingle) and stays.
    val rows = Seq(
      (1L, null: String, "en", "a", 0L),
      (2L, null: String, "en", "a", 0L),
      (3L, "tiny", "en", "a", 4L),
      (4L, "a real document with enough words to shingle and match " +
        "nothing else in this corpus at all", "en", "a", 90L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    stageBatchFile(sf, dir, rows, "b1", System.currentTimeMillis())
    val out = graft.streaming.StreamingSync.streamingNearDup(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out == Map(3L -> false, 4L -> false),
      s"null-text docs must vanish, shingleable docs stay unflagged: $out")
  }

  test("streaming near-dup: bucket ownership persists across micro-batches " +
    "in ARRIVAL order — a doc landing later is flagged against batch-1 " +
    "owners even with a smaller doc_id") {
    import spark.implicits._
    val sf = TestSpark.tmpDir("neardupmb")
    val dir = new java.io.File(s"$sf/documents.parquet"); dir.mkdirs()
    val dupText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    def docs(rows: Seq[(Long, String)]) = rows
      .map { case (id, tx) => (id, tx, "en", "web", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val now = System.currentTimeMillis()
    // batch 1: doc 10 lands first and OWNS its buckets
    stageBatchFile(sf, dir, docs(Seq((10L, dupText),
      (11L, "wholly unrelated content one two three four five six"))),
      "b1", now - 240000)
    // batch 2: doc 5 (smaller id, same text) arrives later → flagged;
    // doc 20 (fresh text) is clean
    stageBatchFile(sf, dir, docs(Seq((5L, dupText),
      (20L, "different words entirely seven eight nine ten eleven"))),
      "b2", now - 120000)
    spark.conf.set("graft.stream.maxFilesPerTrigger", "1")
    val out = try graft.streaming.StreamingSync
      .streamingNearDup(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    finally spark.conf.unset("graft.stream.maxFilesPerTrigger")
    val batches = graft.streaming.StreamingSync.lastRunProgress
      .count(_.numInputRows > 0)
    assert(batches >= 2, s"expected a multi-batch drain, got $batches")
    assert(out == Map(10L -> false, 11L -> false, 5L -> true, 20L -> false),
      s"arrival-order ownership contract broke: $out")
  }

  test("streaming SCD2: a same-value run crossing a micro-batch boundary " +
    "does NOT close; a change in batch 2 closes the batch-1 interval") {
    import spark.implicits._
    val sf = TestSpark.tmpDir("scd2mb")
    val dir = new java.io.File(s"$sf/events.parquet"); dir.mkdirs()
    def ev(rows: Seq[(Long, Long, String, Long)]) = rows
      .map { case (eid, uid, tp, min) =>
        (eid, java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00"),
          uid, tp, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val now = System.currentTimeMillis()
    stageBatchFile(sf, dir, ev(Seq(
      (1L, 7L, "view", 1L), (2L, 7L, "view", 2L),   // open run: view@:01
      (3L, 8L, "click", 3L))), "b1", now - 240000)
    stageBatchFile(sf, dir, ev(Seq(
      (4L, 7L, "view", 5L),                          // run continues: no emit
      (5L, 7L, "buy", 7L),                           // closes view@:01..:07
      (6L, 8L, "click", 8L))), "b2", now - 120000)   // continues: no emit
    spark.conf.set("graft.stream.maxFilesPerTrigger", "1")
    val out = try graft.streaming.StreamingSync.streamingScd2(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2).toString, r.getTimestamp(3).toString))
    finally spark.conf.unset("graft.stream.maxFilesPerTrigger")
    val batches = graft.streaming.StreamingSync.lastRunProgress
      .count(_.numInputRows > 0)
    assert(batches >= 2, s"expected a multi-batch drain, got $batches")
    assert(out.toSeq == Seq(
      (7L, "view", "2024-01-01 00:01:00.0", "2024-01-01 00:07:00.0")),
      s"only the changed run closes, with its batch-1 valid_from: " +
        out.toSeq.toString)
  }

  test("streaming SCD2: a SKEWED key (one user dominating both triggers) " +
    "drains across two micro-batches into the identical closed-interval " +
    "tiling — per-key buffering is per-trigger, state stays one pair") {
    import spark.implicits._
    val sf = TestSpark.tmpDir("scd2skew")
    val dir = new java.io.File(s"$sf/events.parquet"); dir.mkdirs()
    val n = 300 // per batch; values alternate a/b so EVERY event closes a run
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ev(from: Int, until: Int) = (from until until).map { i =>
      (i.toLong, new java.sql.Timestamp(t0 + i * 1000L), 7L,
        if (i % 2 == 0) "a" else "b", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val now = System.currentTimeMillis()
    stageBatchFile(sf, dir, ev(0, n), "b1", now - 240000)
    stageBatchFile(sf, dir, ev(n, 2 * n), "b2", now - 120000)
    spark.conf.set("graft.stream.maxFilesPerTrigger", "1")
    val out = try graft.streaming.StreamingSync.streamingScd2(spark, sf)
      .orderBy("valid_from").collect()
      .map(r => (r.getString(1), r.getTimestamp(2).getTime,
        r.getTimestamp(3).getTime))
    finally spark.conf.unset("graft.stream.maxFilesPerTrigger")
    val batches = graft.streaming.StreamingSync.lastRunProgress
      .count(_.numInputRows > 0)
    assert(batches >= 2, s"expected a multi-batch drain, got $batches")
    // 2n alternating events = 2n-1 closed intervals (the last run stays
    // open in state), tiling [t0, t0+(2n-1)s] with no gap at the batch
    // boundary — the interval OPEN in batch 1 must close with batch 2's
    // first event, not re-open or duplicate
    assert(out.length == 2 * n - 1, s"expected ${2 * n - 1} closed, got ${out.length}")
    out.zipWithIndex.foreach { case ((v, from, to), i) =>
      assert(v == (if (i % 2 == 0) "a" else "b"))
      assert(from == t0 + i * 1000L && to == t0 + (i + 1) * 1000L,
        s"interval $i does not tile: ($v, $from, $to)")
    }
  }

  test("streaming URL seen-set: a canonical URL fetched in batch 1 does " +
    "not re-emit when a VARIANT of it lands in batch 2") {
    import spark.implicits._
    val sf = TestSpark.tmpDir("urlmb")
    val dir = new java.io.File(s"$sf/documents.parquet"); dir.mkdirs()
    def docs(rows: Seq[Long]) = rows
      .map(id => (id, "text", "en", "a", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val now = System.currentTimeMillis()
    stageBatchFile(sf, dir, docs(Seq(0L)), "b1", now - 240000)
    // doc 46 canonicalizes to doc 0's URL (same (source, id % 46) key,
    // different www/slash/ref/fragment noise); doc 1 is genuinely new
    stageBatchFile(sf, dir, docs(Seq(46L, 1L)), "b2", now - 120000)
    spark.conf.set("graft.stream.maxFilesPerTrigger", "1")
    val out = try graft.streaming.StreamingSync
      .streamingUrlDedup(spark, sf).collect().map(_.getString(0))
    finally spark.conf.unset("graft.stream.maxFilesPerTrigger")
    val batches = graft.streaming.StreamingSync.lastRunProgress
      .count(_.numInputRows > 0)
    assert(batches >= 2, s"expected a multi-batch drain, got $batches")
    assert(out.length == 2 && out.distinct.length == 2,
      s"cross-batch variant must not re-emit: ${out.toSeq}")
    assert(out.exists(_.endsWith("/Docs/0%2Fx?id=0")) &&
      out.exists(_.endsWith("/Docs/1%2Fx?id=1")), s"got ${out.toSeq}")
  }

  test("streaming domain cap: the per-host admission counter persists " +
    "across micro-batches (a host exhausted in batch 1 admits nothing in " +
    "batch 2; fresh hosts still admit)") {
    import spark.implicits._
    val sf = TestSpark.tmpDir("domcapmb")
    val dir = new java.io.File(s"$sf/documents.parquet"); dir.mkdirs()
    def docs(rows: Seq[(Long, String)]) = rows
      .map { case (id, src) => (id, "text", "en", src, 4L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val now = System.currentTimeMillis()
    // batch 1: three pages on host alpha — cap 2 admits the two lowest
    stageBatchFile(sf, dir,
      docs(Seq((1L, "alpha"), (2L, "alpha"), (3L, "alpha"))),
      "b1", now - 240000)
    // batch 2: two MORE alpha pages (counter already exhausted → both
    // dropped) plus the first beta page (fresh counter → admitted)
    stageBatchFile(sf, dir,
      docs(Seq((4L, "alpha"), (5L, "alpha"), (6L, "beta"))),
      "b2", now - 120000)
    spark.conf.set("graft.stream.maxFilesPerTrigger", "1")
    val out = try graft.streaming.StreamingSync
      .streamingDomainCap(spark, sf, cap = 2L).collect()
    finally spark.conf.unset("graft.stream.maxFilesPerTrigger")
    val batches = graft.streaming.StreamingSync.lastRunProgress
      .count(_.numInputRows > 0)
    assert(batches >= 2, s"expected a multi-batch drain, got $batches")
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "alpha.example.com"), (2L, "alpha.example.com"),
        (6L, "beta.example.com")),
      s"got ${out.map(r => (r.getLong(0), r.getString(1))).toSet}")
  }

  test("streaming quality scoring equals the batch classifier's scores at " +
    "sf0.001 (offline-trained model, online-scored corpus)") {
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingSync
      .streamingQualityScore(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    val batch = SparkEntry.queries("x_quality_classifier")(spark, sf)
      .select("doc_id", "n_tok", "score_e3", "pred_good")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(streamed == batch,
      "online scores must equal the batch classifier exactly")
  }

  test("stream-static enrichment equals the batch join at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingSync.streamStaticEnrich(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    val batch = Tables.table(spark, sf, "events")
      .join(Tables.table(spark, sf, "customer"),
        col("user_id") === col("c_custkey"))
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("c_mktsegment"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(streamed == batch)
  }

  test("ingest-time forget screen: the static docket drops forgotten " +
    "subjects in EVERY micro-batch, and the kept set is drain-invariant") {
    import spark.implicits._
    val sf = TestSpark.tmpDir("forgetmb")
    Seq(23L, 46L, 5L, 7L).toDF("c_custkey")
      .write.mode("overwrite").parquet(s"$sf/customer.parquet")
    val dir = new java.io.File(s"$sf/events.parquet"); dir.mkdirs()
    def ev(rows: Seq[(Long, Long)]) = rows
      .map { case (eid, uid) =>
        (eid, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
          uid, "view", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val now = System.currentTimeMillis()
    // docket = custkey % 23 == 0 → {23, 46}; 5 and 7 survive
    stageBatchFile(sf, dir, ev(Seq((1L, 23L), (2L, 5L))), "b1", now - 240000)
    // batch 2 re-probes the docket: 23 drops again (stateless per-row
    // verdict, not a batch-1-only filter), 46 drops, 7 survives
    stageBatchFile(sf, dir, ev(Seq((3L, 46L), (4L, 7L), (5L, 23L))),
      "b2", now - 120000)
    spark.conf.set("graft.stream.maxFilesPerTrigger", "1")
    val out = try graft.streaming.StreamingSync.streamForgetScreen(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    finally spark.conf.unset("graft.stream.maxFilesPerTrigger")
    val batches = graft.streaming.StreamingSync.lastRunProgress
      .count(_.numInputRows > 0)
    assert(batches >= 2, s"expected a multi-batch drain, got $batches")
    assert(out == Set((5L, 2L), (7L, 4L)),
      s"kept set must be the batch anti-join regardless of drains: $out")
  }

  test("ingest-time constraint screen: per-row verdicts apply in every " +
    "micro-batch; unverifiable rows screen out") {
    import spark.implicits._
    val sf = TestSpark.tmpDir("consmb")
    val dir = new java.io.File(s"$sf/documents.parquet"); dir.mkdirs()
    def docs(rows: Seq[(java.lang.Long, String, String)]) = rows
      .map { case (id, text, lang) => (id, text, lang, "src", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val now = System.currentTimeMillis()
    stageBatchFile(sf, dir, docs(Seq(
      (1L, "a proper document", "en"),     // kept
      (2L, "short", "en"),                 // length violation
      (3L, "long enough text", null))),    // NULL lang unverifiable → out
      "b1", now - 240000)
    stageBatchFile(sf, dir, docs(Seq(
      (4L, "another fine document", "de"), // kept — rules bind in batch 2
      (5L, null, "en"),                    // NULL text → out
      (null, "valid text but no id", "en"))), // NULL key → out
      "b2", now - 120000)
    spark.conf.set("graft.stream.maxFilesPerTrigger", "1")
    val out = try graft.streaming.StreamingSync
      .streamConstraintScreen(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    finally spark.conf.unset("graft.stream.maxFilesPerTrigger")
    val batches = graft.streaming.StreamingSync.lastRunProgress
      .count(_.numInputRows > 0)
    assert(batches >= 2, s"expected a multi-batch drain, got $batches")
    assert(out == Set((1L, "en"), (4L, "de")), s"got $out")
  }

  test("stateful rollup NULL semantics match the batch aggregation: only " +
    "a null KEY drops the row") {
    import spark.implicits._
    val sf = TestSpark.tmpDir("nullev")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    Seq(
      (Option(1L), Option(1.0), Option(t1)),
      (Option(1L), Option.empty[Double], Option(t2)), // null value counts
      (Option(1L), Option(2.0), Option.empty[java.sql.Timestamp]), // null ts counts
      (Option.empty[Long], Option(9.0), Option(t1))) // null key drops
      .toDF("user_id", "value", "ts")
      .write.mode("overwrite").parquet(s"$sf/events.parquet")
    val out = graft.streaming.StreamingSync.statefulUserRollup(spark, sf)
      .collect()
    assert(out.length == 1, "only the non-null key survives")
    val r = out.head
    assert(r.getLong(0) == 1L)
    assert(r.getLong(1) == 3, "count(*) semantics: null value/ts rows count")
    assert(r.getLong(2) == 300L, "sum skips the null value (neutral 0)")
    val expectedUs = Seq(t2).toDF("ts")
      .select(unix_micros(col("ts"))).head.getLong(0)
    assert(r.getLong(3) == expectedUs, "max ignores the null ts")
  }
}
