package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types.LongType

/** Structured-Streaming generalization of the reference's poll-based
  * incremental sync (SURVEY §2.9): the reference's high-watermark loop
  * (`WHERE ts >= max(ts)` re-polled externally, README.md:217-225) is exactly
  * Spark's file-source + watermark model, so the same events table can be
  * processed as a stream with `Trigger.AvailableNow` for batch-parity runs.
  *
  * Every streaming twin is a source, a query and a sink: [[twin]] forks the
  * stream session and the scratch dir, and [[Twin.drain]] runs the query to
  * its [[Sink]] and reads the result back — the plumbing is written once.
  *
  * Scale notes: aggregations run in `update` output mode; batch-parity runs
  * keep ALL state (file batching is by file order, not event time, so a
  * watermark could silently drop "late" rows that a batch query would
  * count — parity requires no event-time eviction). A continuous deployment
  * over an unbounded stream sets `graft.stream.watermark` (e.g. "1 hour")
  * to bound state, accepting the usual late-data semantics. Each
  * micro-batch's updated rows are APPENDED to a parquet changelog sink
  * tagged with the batch id (nothing is ever held on the driver); readers
  * compact the changelog with a last-writer-wins window over batch_id — the
  * same merge identity as graft.sync.Merge. Scratch/checkpoint dirs default
  * to the driver-local tmpdir for local[*] runs; cluster deployments set
  * `graft.stream.scratchDir` to a shared filesystem path.
  */
object StreamingSync {

  /** Streaming queries run on a cloned session whose shuffle-partition
    * count — which fixes the number of state-store instances for the life
    * of the query — is sized to STATE VOLUME rather than inherited from the
    * batch CPU count. Each state partition costs per-batch file/commit
    * overhead regardless of how little state it holds (measured: the same
    * windowed agg at sf0.1 runs 7.0s with 32 state partitions, 4.7s with
    * 8, 3.3s with 2), while a 100 TB deployment would raise
    * `graft.stream.statePartitions` well above the CPU count to keep
    * per-partition state in memory.
    */
  private def streamSession(spark: SparkSession): SparkSession = {
    val n = spark.conf.get("graft.stream.statePartitions",
      math.max(4, spark.sessionState.conf.numShufflePartitions / 8).toString)
    val s = spark.newSession()
    // newSession() does NOT inherit runtime confs set on the caller's
    // session — forward the graft.stream.* knobs explicitly, or the
    // documented per-session contract ("set graft.stream.watermark, call
    // the query") silently reads nothing downstream
    spark.conf.getAll.foreach { case (k, v) =>
      if (k.startsWith("graft.stream.")) s.conf.set(k, v)
    }
    s.conf.set("spark.sql.shuffle.partitions", n)
    // recentProgress is a ring buffer (default 100 entries): a backfill
    // draining in more micro-batches than that would silently drop its
    // early batches from the lastRunProgress observability hook. 10k
    // progress objects ≈ a few tens of MB — bounded, and far past any
    // AvailableNow drain the operators run. (Row COUNTS never depend on
    // this buffer — incrementalFileSyncVia counts each batch it lands.)
    s.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    s
  }

  private val invocation = new AtomicLong(0)

  /** Per-invocation scratch root, named after the query: keyed by
    * applicationId (unique across concurrent applications) plus an
    * invocation counter (so a later call never deletes the files backing a
    * previously returned lazy DataFrame). Cluster deployments point
    * `graft.stream.scratchDir` at shared storage.
    */
  private def freshBase(spark: SparkSession, name: String): String = {
    val root = spark.conf.getOption("graft.stream.scratchDir")
      .getOrElse(sys.props("java.io.tmpdir"))
    val base = s"$root/${name}_" +
      spark.sparkContext.applicationId + "_" + invocation.incrementAndGet()
    val p = new Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    base
  }

  /** Where a twin's drain lands, which fixes its output mode and how the
    * landed rows are read back.
    */
  private sealed trait Sink { def mode: OutputMode }

  /** foreachBatch appends each micro-batch's rows, tagged with the batch
    * id, to a parquet changelog; the read-back keeps the last writer per
    * `keys`. `mode` is update or append.
    */
  private final case class Changelog(keys: Seq[String], mode: OutputMode)
    extends Sink

  /** The changelog in complete mode (session windows without a watermark
    * allow nothing else): each batch re-emits the WHOLE state, so only the
    * final batch counts.
    */
  private case object Complete extends Sink { val mode = OutputMode.Complete() }

  /** The append-mode parquet file sink, read back whole. */
  private case object Files extends Sink { val mode = OutputMode.Append() }

  /** The one streaming-twin harness: fork the stream session, make the
    * query's scratch base, and hand both to `query`, which states only its
    * source, its query and its sink. `name` is the streaming query name.
    */
  private def twin(spark: SparkSession, sfDir: String, name: String)
                  (query: Twin => DataFrame): DataFrame = {
    val ss = streamSession(spark)
    query(new Twin(ss, spark, sfDir, freshBase(ss, name), name))
  }

  /** What a twin's query is written against: the forked stream session
    * `ss`, the scratch `base`, its sources and its drain.
    */
  private final class Twin(val ss: SparkSession, parent: SparkSession,
                           sfDir: String, val base: String, name: String) {

    /** Optional event-time watermark for continuous deployments (unset for
      * batch-parity — see the class doc).
      */
    val watermark: Option[String] = ss.conf.getOption("graft.stream.watermark")

    def watermarked(df: DataFrame, tsCol: String): DataFrame =
      watermark.fold(df)(horizon => df.withWatermark(tsCol, horizon))

    /** A corpus table as a stream. The file streaming source requires a
      * DIRECTORY (a production table is one); the test corpus ships
      * single-file tables, so expose the file through a per-run directory
      * of symlinks (local filesystems only — a cluster source is a
      * directory).
      */
    def stream(table: String): DataFrame = {
      val path = s"$sfDir/$table.parquet"
      val abs = java.nio.file.Paths.get(path).toAbsolutePath
      val dir =
        if (java.nio.file.Files.isDirectory(abs)) abs.toString
        else {
          val d = java.nio.file.Files.createDirectories(
            java.nio.file.Paths.get(s"$base/src"))
          java.nio.file.Files.createSymbolicLink(d.resolve(s"$table.parquet"), abs)
          d.toString
        }
      graft.io.Tables.read(ss, path, graft.io.Tables.Scan.Stream(dir))
    }

    /** A corpus table as a static side, read on the stream session. */
    def table(table: String): DataFrame = graft.io.Tables.table(ss, sfDir, table)

    /** Run `body` — a twin's OFFLINE model/static-side preparation — with
      * the stream session's shuffle parallelism temporarily restored to the
      * caller's batch value. streamSession sizes `shuffle.partitions` to
      * STATE volume (4 locally) because that conf fixes the state-store
      * instance count for the life of the query, but it equally governs
      * every exchange of the eager batch aggregations a twin runs BEFORE
      * its stream starts — serializing corpus-scale training work onto 4
      * reduce tasks (measured r16: stream_quality_score's offline train
      * took 5.1 s on the 4-partition stream session vs 0.5 s for the
      * identical batch twin at 32). The state contract is untouched: the
      * conf is restored before the streaming query starts, and only the
      * value in effect at query START pins state partitioning.
      */
    def offline[A](body: => A): A = {
      val stateN = ss.conf.get("spark.sql.shuffle.partitions")
      ss.conf.set("spark.sql.shuffle.partitions",
        parent.conf.get("spark.sql.shuffle.partitions", stateN))
      try body
      finally ss.conf.set("spark.sql.shuffle.partitions", stateN)
    }

    /** Run `df` to `sink` with AvailableNow under the twin's query name and
      * read the landed rows back. The no-batches case (empty source) and a
      * drain that emitted zero rows return the empty frame with `df`'s
      * schema, never a throw on a missing sink dir.
      */
    def drain(df: DataFrame, sink: Sink): DataFrame = {
      val dir = s"$base/sink"
      val w = df.writeStream.queryName(name).outputMode(sink.mode)
      availableNow(
        if (sink == Files) w.format("parquet").option("path", dir)
        else w.foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(dir)
          ()
        }, s"$base/ckpt")
      lazy val empty = ss.createDataFrame(ss.sparkContext.emptyRDD[Row], df.schema)
      lazy val log = ss.read.schema(df.schema.add("batch_id", LongType))
        .parquet(dir)
      val p = new Path(dir)
      if (!p.getFileSystem(ss.sparkContext.hadoopConfiguration).exists(p)) empty
      else sink match {
        // a file sink that emitted ZERO rows (normal under the watermarked
        // session path: every session still open at end of drain) leaves a
        // _spark_metadata dir but no data files; read with the query's own
        // schema, that is the empty frame
        case Files => ss.read.schema(df.schema).parquet(dir)
        case Complete =>
          // only the final batch is current — per-key last-writer would
          // resurrect keys that a later batch dropped (e.g. a session
          // merged into an earlier start). An empty source still commits a
          // zero-row batch: max(batch_id) is then NULL, which must degrade
          // to the empty frame, not a NULL-read
          val last = log.agg(max(col("batch_id"))).head()
          if (last.isNullAt(0)) empty
          else log.where(col("batch_id") === last.getLong(0)).drop("batch_id")
        case Changelog(keys, _) =>
          val lastPerKey = Window.partitionBy(keys.map(col): _*)
            .orderBy(col("batch_id").desc)
          log.withColumn("__rn", row_number().over(lastPerKey)).where(col("__rn") === 1)
            .drop("__rn", "batch_id")
      }
    }
  }

  /** The one start → await tail of every AvailableNow drain — the twins'
    * and `watch`'s — and the only place the two thread-local observability
    * hooks, lastRunProgress and lastRunPlan, are set.
    */
  private def availableNow(w: DataStreamWriter[Row], checkpoint: String): Unit = {
    val q = w.option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    _lastRunProgress.set(q.recentProgress)
    _lastRunPlan.set(org.apache.spark.sql.graft.StreamingBridge.lastExecutedPlan(q))
  }

  /** Streaming corpus-shape monitor: the per-(source, length-bucket)
    * histogram maintained as documents land — the online half of
    * `Snapshots.corpusDrift`. The batch report compares two FINISHED
    * snapshots; this keeps the incoming snapshot's histogram continuously
    * current, so the shape comparison can run mid-ingest (the "is this
    * crawl truncating documents" alarm fires before the crawl finishes).
    * State is one count per (source, bucket) — bounded by
    * sources × ~40 length-bits buckets, never corpus-sized — and the
    * update-mode changelog compacts last-writer-wins per bucket. Batch
    * parity: the same single grouped aggregate.
    */
  def corpusHistogram(spark: SparkSession, sfDir: String): DataFrame =
    twin(spark, sfDir, "graft_stream_corpus_hist") { t =>
      t.drain(t.stream("documents")
        .select(
          coalesce(col("source"), lit("")).as("source"),
          coalesce(length(bin(length(col("text")).cast("long"))), lit(-1))
            .cast("long").as("bucket"))
        .groupBy("source", "bucket").agg(count(lit(1)).as("cnt")),
        Changelog(Seq("source", "bucket"), OutputMode.Update()))
    }

  /** Streaming curation gate: per-source seen/admitted counters maintained
    * as documents land — the online half of the batch curation funnel
    * (`x_filter_funnel` reports attrition over a FINISHED corpus; this
    * keeps the admit rate of the in-flight crawl continuously current, so
    * a source whose admit rate collapses mid-ingest alarms before the
    * batch report would even run). The admit rule is deliberately
    * SQL-expressible (char-length band + minimum token count) so the same
    * predicate is the batch oracle. State is two counters per source —
    * bounded by the source key domain, never corpus-sized — and the
    * update-mode changelog compacts last-writer-wins per source.
    */
  def qualityGate(spark: SparkSession, sfDir: String): DataFrame =
    twin(spark, sfDir, "graft_stream_quality_gate") { t =>
      val admit = length(col("text")).between(20, 5000) &&
        size(split(lower(col("text")), "\\s+")) >= 5
      t.drain(t.stream("documents")
        .select(coalesce(col("source"), lit("")).as("source"),
          when(admit, 1L).otherwise(0L).as("ok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_seen"), sum(col("ok")).as("n_admitted")),
        Changelog(Seq("source"), OutputMode.Update()))
    }

  /** Streaming ingest-spike alarm: per-(event_type, day) counters
    * maintained as events land, compared against the STATIC exact
    * per-type median daily volume — the online half of `x_event_spikes`
    * (the batch report runs after the day closes; this flags a runaway
    * crawl batch while it is still arriving). State is one counter per
    * (type, day) — bounded by types × days, never event-count-sized. The
    * median baseline comes from the reference history table (at drain end
    * the streamed counters equal the batch daily counts, so the output
    * answers to the SAME oracle as x_event_spikes — the lockstep rule);
    * a continuous deployment would re-join the baseline inside each
    * micro-batch via foreachBatch instead of at compaction.
    */
  def streamEventSpikes(spark: SparkSession, sfDir: String): DataFrame =
    twin(spark, sfDir, "graft_stream_event_spikes") { t =>
      def dailyOf(df: DataFrame): DataFrame = df
        .select(col("event_type"),
          unix_micros(date_trunc("DAY", col("ts"))).as("day_us"))
        .groupBy("event_type", "day_us").agg(count(lit(1)).as("c"))
      val counts = t.drain(dailyOf(t.stream("events")),
        Changelog(Seq("event_type", "day_us"), OutputMode.Update()))
      val byType = Window.partitionBy(col("event_type"))
      val med = dailyOf(t.table("events"))
        .withColumn("rn", row_number().over(byType.orderBy(col("c"), col("day_us"))))
        .withColumn("n", count(lit(1)).over(byType))
        .groupBy("event_type")
        .agg(max(when(col("rn") === expr("(n + 1) div 2"), col("c"))).as("med"))
      counts.join(med, "event_type")
        .select(col("event_type"), col("day_us"), col("c"), col("med"),
          (col("c") * 2 > col("med") * 5).as("spike"))
    }

  /** Streaming ANN shard monitor: per-cell vector counts under the
    * x_ann_ivf coarse quantizer (4-plane mod-8 sign-LSH), maintained as
    * embeddings land — the online half of `x_cluster_balance` restricted
    * to the STREAMABLE half of the assignment (the seed cell is a pure
    * per-row function of the vector; the centroid refinement step needs
    * the finished corpus and stays batch). The ops readout an ANN
    * deployment alarms on: a cell whose occupancy runs away mid-ingest
    * means probe costs and recall are about to degrade, BEFORE the next
    * index rebuild would notice. State is one counter per cell (≤ 16).
    */
  def streamCellOccupancy(spark: SparkSession, sfDir: String): DataFrame =
    twin(spark, sfDir, "graft_stream_cell_occupancy") { t =>
      import graft.operators.Similarity
      t.drain(t.stream("embeddings")
        .select(Similarity.signLshBucket(
          Similarity.quantize(col("embedding")), 0 until 4, 8).as("cell"))
        .groupBy("cell").agg(count(lit(1)).as("n_vecs")),
        Changelog(Seq("cell"), OutputMode.Update()))
    }

  /** Streaming decontamination: training documents are screened against a
    * STATIC eval-benchmark 8-gram fingerprint set as they land — the online
    * half of `Contamination.ngramOverlapPairs` (the batch check runs after
    * the crawl; this flags a contaminated doc the micro-batch it arrives,
    * before it ever reaches a training shard). The eval set is fixed by
    * definition, so its discriminative fingerprints (df ≤ 128 AMONG EVAL
    * DOCS — the batch twin caps on train-side df, which an unbounded stream
    * cannot know) build once in batch and broadcast into every micro-batch
    * as a stream-static inner join. Output: (doc_id, n_hit_grams) for every
    * train doc sharing ≥1 discriminative eval 8-gram; state is one counter
    * per CONTAMINATED doc — a vanishing fraction of the corpus — and the
    * update-mode changelog compacts last-writer-wins per doc.
    */
  def streamDecontaminate(spark: SparkSession, sfDir: String): DataFrame =
    twin(spark, sfDir, "graft_stream_decontaminate") { t =>
      import graft.operators.{Dedup, TextAnalysis}
      def slice(c: org.apache.spark.sql.Column) =
        conv(substring(md5(c.cast("string")), 1, 4), 16, 10).cast("int") % 100
      // 64-bit gram fingerprints (Dedup.gramHashes): the broadcast probe set
      // carries 8-byte longs instead of 32-char md5 hex, and each micro-batch
      // hashes array slices directly — no shingle string ever materializes
      def fps(df: DataFrame): DataFrame = df
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          explode(array_distinct(Dedup.gramHashes(col("toks"), 8))).as("fp"))
      val evalFps = fps(t.table("documents").where(slice(col("doc_id")) >= 95))
      // the eval fingerprint set is STATIC by definition — build it once,
      // eagerly, at the caller's batch parallelism, and persist it so every
      // micro-batch's broadcast reads cached blocks instead of re-running
      // the corpus-side gram aggregation per batch on the 4-partition
      // stream session (r16; same rationale as streamingQualityScore)
      val probes = t.offline {
        val p = graft.operators.CacheRegistry.register(
          evalFps.groupBy("fp")
            .agg(countDistinct(col("doc_id")).as("__df"))
            .where(col("__df") <= 128).select("fp")
            .persist())
        p.count()
        p
      }
      t.drain(fps(t.stream("documents").where(slice(col("doc_id")) < 90))
        .join(broadcast(probes), "fp")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hit_grams")),
        Changelog(Seq("doc_id"), OutputMode.Update()))
    }

  /** Tumbling-window aggregation over the events stream.
    * Output: window start (µs), event_type, exact count + cents sum.
    */
  def windowedEventCounts(spark: SparkSession, sfDir: String,
                          windowMinutes: Int = 5): DataFrame =
    twin(spark, sfDir, "graft_stream_window_agg") { t =>
      // explicit NULL-ts filter, mirrored in the oracle: Spark's window()
      // grouping silently injects it anyway (TimeWindowing's implicit
      // ts IS NOT NULL), so without the mirror a NULL-ts event would form a
      // NULL-window group on the oracle side only — the same both-sides
      // filter the sessionize/attribution siblings already carry
      t.drain(t.watermarked(t.stream("events"), "ts")
        .where(col("ts").isNotNull)
        .groupBy(window(col("ts"), s"$windowMinutes minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
        .select(unix_micros(col("window.start")).as("win_start_us"),
          col("event_type"), col("n"), col("cents")),
        Changelog(Seq("win_start_us", "event_type"), OutputMode.Update()))
    }

  /** The per-user session aggregation BOTH sessionize twins run — one
    * definition, so "semantics identical" is enforced by construction
    * (the same rule the rollup twins' foldUserEvent pins), not by
    * keeping two copies of the filter/window/agg/select block in sync.
    */
  private def sessionAgg(ev: DataFrame, gapMinutes: Int): DataFrame = ev
    .where(col("user_id").isNotNull && col("ts").isNotNull)
    .groupBy(session_window(col("ts"), s"$gapMinutes minutes"), col("user_id"))
    .agg(count(lit(1)).as("n_events"),
      sum(round(col("value") * 100).cast("long")).as("cents"))
    .select(col("user_id"),
      unix_micros(col("session_window.start")).as("sess_start_us"),
      unix_micros(col("session_window.end")).as("sess_end_us"),
      col("n_events"), col("cents"))

  /** Session-window aggregation: Spark's merging `session_window` groups
    * events per user into gap-separated sessions (start = first event,
    * end = last event + gap) with counts and exact cents — the streaming
    * twin of the batch gaps-and-islands query (`w3_sessionize`).
    *
    * Two cost models, switched by `graft.stream.watermark` like the dedup
    * and join operators: batch-parity runs (no watermark) use complete
    * output mode — session aggregations without a watermark support
    * nothing else — and keep the final batch's full re-emission (state
    * grows with session count, fine for a bounded backfill). A continuous
    * deployment sets the watermark and gets APPEND mode: a session is
    * emitted exactly once, when the watermark passes its end and it can
    * no longer merge, and its state is evicted — state holds only OPEN
    * sessions. The trade (StreamingSpec pins it): sessions still open
    * when an AvailableNow drain ends are not emitted — correct for a
    * continuous stream (they'd emit on closing), incomplete for a
    * batch-parity read, which is why parity mode is the no-watermark
    * default. Same eviction-timing contract as [[streamStreamRangeJoin]]:
    * the watermark advance must be one batch old before it finalizes.
    */
  def sessionizedCounts(spark: SparkSession, sfDir: String,
                        gapMinutes: Int = 30): DataFrame =
    twin(spark, sfDir, "graft_stream_sessionize") { t =>
      t.drain(sessionAgg(t.watermarked(t.stream("events"), "ts"), gapMinutes),
        if (t.watermark.isDefined) Files else Complete)
    }

  /** The watermarked APPEND-mode sessionization made oracle-checkable —
    * the production mode's exactly-once contract as DATA, not just state
    * metrics (StreamingSpec pins `numRowsRemoved > 0` separately; this is
    * the CORRECTNESS-gate twin).
    *
    * Staging: the real events plus a single far-future SENTINEL event
    * (user_id = -1, ts = 2035-01-01) drain together as ONE data batch —
    * the reader deliberately does NOT honor a per-file trigger cap (see
    * the in-code comment: late filtering uses the PREVIOUS batch's
    * watermark, unset in batch 1, so nothing drops regardless of file
    * order). That batch advances the watermark past every real session's
    * end, and the trailing no-data batch emits and evicts ALL real
    * sessions exactly once — the append-mode sink then equals the batch
    * gaps-and-islands sessionization of the real events ("the sessions
    * the final watermark closed" = all of them, by construction). The
    * sentinel's own session is still open at drain end and never emits;
    * it is filtered defensively anyway.
    */
  def sessionizedCountsClosed(spark: SparkSession, sfDir: String,
                              gapMinutes: Int = 30): DataFrame =
    twin(spark, sfDir, "graft_stream_sessionize_wm") { t =>
      val ev = t.table("events")
      // Hadoop FS throughout (not java.io.File): the class doc invites
      // cluster deployments to point graft.stream.scratchDir at shared
      // storage, where a local listFiles() on the staged write returns
      // null and NPEs — unlike Twin.stream's symlink path, staging has no
      // local-only excuse
      val hconf = t.ss.sparkContext.hadoopConfiguration
      val srcDirPath = new Path(s"${t.base}/src")
      val fs = srcDirPath.getFileSystem(hconf)
      fs.mkdirs(srcDirPath)
      // The real events keep their natural write parallelism (no
      // coalesce(1) choke point) and the drain takes EVERYTHING — sentinel
      // included — in one data batch: late filtering uses the PREVIOUS
      // batch's watermark, unset in batch 1, so nothing drops regardless of
      // file order; the batch itself advances the watermark past every real
      // session's end and the trailing no-data batch emits + evicts them
      // all. One data batch + one flush batch, minimal micro-batch count.
      // (mtimes are still staggered so a future per-file trigger cap cannot
      // put the sentinel FIRST, where its watermark would late-drop every
      // real event.)
      def stage(rows: DataFrame, name: String, mtime: Long): Unit = {
        val stagePath = new Path(s"${t.base}/stage_$name")
        rows.write.mode("overwrite").parquet(stagePath.toString)
        fs.listStatus(stagePath)
          .filter(_.getPath.getName.endsWith(".parquet")).zipWithIndex.foreach {
            case (part, i) =>
              val dst = new Path(srcDirPath, s"${name}_$i.parquet")
              FileUtil.copy(fs, part.getPath, fs, dst, false, hconf)
              // mtime orders the file source's batches; setTimes throws on
              // filesystems that can't honor it instead of silently lying
              fs.setTimes(dst, mtime, -1)
          }
      }
      val sentinel = t.ss.range(1).select(ev.schema.fields.map { f =>
        (f.name, f.dataType) match {
          case ("ts", dt) =>
            to_timestamp(lit("2035-01-01 00:00:00")).cast(dt).as("ts")
          case ("user_id", dt) => lit(-1L).cast(dt).as("user_id")
          case ("event_id", dt) => lit(-1L).cast(dt).as("event_id")
          case (n, dt) => lit(null).cast(dt).as(n)
        }
      }.toSeq: _*)
      val now = System.currentTimeMillis()
      stage(ev, "b1", now - 120000)
      stage(sentinel, "b2", now)
      t.drain(sessionAgg(
        t.ss.readStream.schema(ev.schema).parquet(srcDirPath.toString)
          .withWatermark("ts", "1 minute"), gapMinutes), Files)
        .where(col("user_id") =!= -1L)
    }

  /** Running per-user state carried by the engine's own state store
    * (`mapGroupsWithState` over a KeyValueGroupedDataset): event count,
    * exact cents sum, last-seen µs — the custom-state generalization of the
    * reference's per-table watermark bookkeeping. State is one small row
    * per user, partitioned by user across executors; NoTimeout because the
    * rollup is over all time. NULL handling matches the batch aggregation
    * it must stay in parity with (GROUP BY user_id): only a NULL KEY drops
    * the row; a NULL value maps to the sum's neutral element (0 cents,
    * like SQL sum skipping NULLs) and a NULL ts to Long.MinValue (ignored
    * by max unless every ts is NULL — an all-NULL group reports the
    * sentinel where SQL reports NULL, a documented corner).
    */
  def statefulUserRollup(spark: SparkSession, sfDir: String): DataFrame =
    twin(spark, sfDir, "graft_stream_user_rollup") { t =>
      import t.ss.implicits._
      t.drain(userEventRows(t).groupByKey(_._1)
        .mapGroupsWithState[UserState, UserState](GroupStateTimeout.NoTimeout) {
          (uid: Long, it: Iterator[(Long, Long, Long)],
           state: GroupState[UserState]) =>
            val prev = state.getOption.getOrElse(UserState(uid, 0L, 0L, Long.MinValue))
            val next = it.foldLeft(prev)(foldUserEvent(uid))
            state.update(next)
            next
        }.toDF(), Changelog(Seq("user_id"), OutputMode.Update()))
    }

  case class UserState(user_id: Long, n_events: Long, sum_cents: Long,
                       last_us: Long)

  case class TouchState(user_id: Long, touch: String, touch_us: Long)

  case class AttrRow(event_id: Long, channel: String, cents: Option[Long])

  /** Streaming last-touch attribution: per-user state carries the most
    * recent marketing touch (view/click); each purchase is credited the
    * micro-batch it arrives — the online half of
    * `x_attribution_last_touch`, against the SAME oracle. Within a batch
    * the per-user group is sorted by (ts, event_id) before the fold, so
    * intra-batch order is exact; across batches the carried touch state
    * preserves order as long as ingest is event-time ordered per user
    * (the file-source batch order here; a deployment with late
    * cross-batch touches accepts the usual streaming approximation).
    * State is ONE touch per user; each purchase emits exactly once
    * (append mode), keyed by its event_id in the changelog. NULL
    * handling matches the batch oracle: null user_id/ts rows are
    * excluded; a null purchase value stays NULL into the final sum.
    */
  def statefulAttribution(spark: SparkSession, sfDir: String): DataFrame =
    twin(spark, sfDir, "graft_stream_attribution") { t =>
      import t.ss.implicits._
      val rows = t.stream("events")
        .where(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id").cast("long"),
          unix_micros(col("ts")).as("ts_us"),
          // coalesce: event_id decodes into a NON-NULLABLE Long — a NULL
          // would crash the query (NOT_NULL_ASSERT_VIOLATION), the crash
          // class streamingScd2's tie column already guards against.
          // Long.MinValue, NOT 0: 0 is inside the id domain, so a NULL
          // would silently merge with a genuine event 0 in the changelog
          // dedup key and sort as its tie-order twin; the sentinel only
          // ever collides with other NULLs (documented residual: distinct
          // NULL-id purchases collapse to one changelog row), and the
          // batch oracle mirrors the same coalesce in its window order
          coalesce(col("event_id").cast("long"), lit(Long.MinValue))
            .as("event_id"),
          col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .as[(Long, Long, Long, String, Option[Long])]
      val attributed = rows.groupByKey(_._1)
        .flatMapGroupsWithState[TouchState, AttrRow](
          OutputMode.Append(), GroupStateTimeout.NoTimeout) {
          (uid: Long, it: Iterator[(Long, Long, Long, String, Option[Long])],
           state: GroupState[TouchState]) =>
            var st = state.getOption.getOrElse(
              TouchState(uid, null, Long.MinValue))
            val out = Vector.newBuilder[AttrRow]
            it.toVector.sortBy(e => (e._2, e._3)).foreach {
              case (_, ts, eid, tpe, cents) =>
                if (tpe == "purchase")
                  out += AttrRow(eid, Option(st.touch).getOrElse("(none)"), cents)
                if (tpe == "view" || tpe == "click")
                  st = TouchState(uid, tpe, ts)
            }
            state.update(st)
            out.result().iterator
        }.toDF()
      t.drain(attributed, Changelog(Seq("event_id"), OutputMode.Append()))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("cents"))
        .orderBy("channel")
    }

  case class CdcState(user_id: Long, last_op: String, cents: Option[Long],
                      updated_us: Long, n_ops: Long, last_eid: Long)

  /** Streaming CDC apply: fold a keyed insert/update/delete change log to
    * final table state as events arrive — per-key state is ONE row (the
    * latest op by (ts, event_id) plus an op counter), so state volume is
    * bounded by key cardinality however long the stream runs. The
    * changelog compaction keeps the last emission per key; a key whose
    * final op is a delete is dropped AFTER compaction (filtering per batch
    * would resurrect a key that a later batch deleted). Batch-parity
    * oracle: the `x_cdc_apply` rank-window fold.
    *
    * NULL handling matches [[statefulUserRollup]]'s documented contract:
    * only a NULL KEY drops the row (the batch oracle keeps a NULL-key
    * partition — the one corner where stream and batch differ, corpus-free
    * here since events.user_id is never NULL); a NULL ts maps to the
    * Long.MinValue sentinel so it orders before every real op instead of
    * crashing the non-nullable decode.
    */
  def cdcApply(spark: SparkSession, sfDir: String): DataFrame =
    twin(spark, sfDir, "graft_stream_cdc") { t =>
      import t.ss.implicits._
      val rows = t.stream("events")
        .select(col("user_id").cast("long"),
          // coalesce: same non-nullable-decode guard as the ts sentinel
          // below and streamingScd2's tie column — a NULL event_id would
          // crash the query, not degrade it. Long.MinValue (the same
          // sentinel the ts path uses), NOT 0: 0 is a real id value, so a
          // NULL would win the (ts, event_id) tie against ids < 0 and lose
          // against ids > 0 — a tie order the batch oracle (which keeps
          // NULL and sorts it last under DESC) does not share; MinValue
          // loses every DESC tie, exactly where DuckDB/Spark put NULL
          coalesce(col("event_id").cast("long"), lit(Long.MinValue))
            .as("event_id"),
          coalesce(unix_micros(col("ts")), lit(Long.MinValue)).as("ts_us"),
          round(col("value") * 100).cast("long").as("cents"),
          when(col("event_type") === "signup", "I")
            .when(col("event_type") === "error", "D").otherwise("U").as("op"))
        .where(col("user_id").isNotNull)
        .as[(Long, Long, Long, Option[Long], String)]
      val agg = rows.groupByKey(_._1)
        .mapGroupsWithState[CdcState, CdcState](GroupStateTimeout.NoTimeout) {
          (uid: Long, it: Iterator[(Long, Long, Long, Option[Long], String)],
           state: GroupState[CdcState]) =>
            val prev = state.getOption.getOrElse(
              CdcState(uid, "", None, Long.MinValue, 0L, Long.MinValue))
            val next = it.foldLeft(prev) { case (s, (_, eid, ts, cents, op)) =>
              val newer = ts > s.updated_us ||
                (ts == s.updated_us && eid > s.last_eid)
              if (newer) CdcState(uid, op, cents, ts, s.n_ops + 1, eid)
              else s.copy(n_ops = s.n_ops + 1)
            }
            state.update(next)
            next
        }.toDF()
      t.drain(agg, Changelog(Seq("user_id"), OutputMode.Update()))
        .where(col("last_op") =!= "D")
        .select("user_id", "last_op", "cents", "updated_us", "n_ops")
    }

  /** ONE definition of the rollup's event projection and state fold,
    * shared by the mapGroupsWithState and transformWithState
    * implementations — their "semantics identical" claim is enforced by
    * construction, not by keeping two copies in sync.
    */
  private def userEventRows(t: Twin)
  : org.apache.spark.sql.Dataset[(Long, Long, Long)] = {
    import t.ss.implicits._
    t.stream("events")
      .select(col("user_id").cast("long"),
        coalesce(round(col("value") * 100).cast("long"), lit(0L)).as("cents"),
        coalesce(unix_micros(col("ts")), lit(Long.MinValue)).as("ts_us"))
      .where(col("user_id").isNotNull)
      .as[(Long, Long, Long)]
  }

  private def foldUserEvent(uid: Long)(s: UserState, row: (Long, Long, Long))
  : UserState = {
    val (_, cents, ts) = row
    UserState(uid, s.n_events + 1, s.sum_cents + cents,
      math.max(s.last_us, ts))
  }

  /** The same rollup on Spark 4's `transformWithState` arbitrary-state
    * API — typed per-key `ValueState` in the RocksDB state store (the only
    * provider the operator supports; disk-backed, so per-key state volume
    * is no longer bounded by executor heap the way HDFS-backed
    * mapGroupsWithState state is). Semantics and oracle identical to
    * [[statefulUserRollup]]; kept as a separate query so both stateful
    * APIs stay exercised.
    */
  private class RollupProcessor
    extends StatefulProcessor[Long, (Long, Long, Long), UserState] {
    @transient private var state: ValueState[UserState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserState]("rollup",
        Encoders.product[UserState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
                                 timerValues: TimerValues): Iterator[UserState] = {
      // ONE store read: get() returns null when unset (exists()+get()
      // would hit RocksDB twice per key per batch on the hot path)
      val prev = Option(state.get())
        .getOrElse(UserState(key, 0L, 0L, Long.MinValue))
      val next = rows.foldLeft(prev)(foldUserEvent(key))
      state.update(next)
      Iterator.single(next)
    }
  }

  def statefulUserRollupTws(spark: SparkSession, sfDir: String): DataFrame =
    twin(spark, sfDir, "graft_stream_rollup_tws") { t =>
      t.ss.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      import t.ss.implicits._
      t.drain(userEventRows(t).groupByKey(_._1)
        .transformWithState(new RollupProcessor, TimeMode.None(), OutputMode.Update())
        .toDF(), Changelog(Seq("user_id"), OutputMode.Update()))
    }

  private val _lastRunProgress =
    new ThreadLocal[Array[org.apache.spark.sql.streaming.StreamingQueryProgress]] {
      override def initialValue() = Array.empty
    }

  /** Per-batch progress of the most recent twin drain or file-sync run ON
    * THIS THREAD (the drains block on awaitTermination, so the thread that
    * called the operator reads its own run — a thread-local, not a global,
    * so concurrent callers in one JVM cannot clobber each other).
    * Observability hook for tests and operators: the state-boundedness
    * contracts below are asserted against `stateOperators.numRowsRemoved` /
    * `numRowsDroppedByWatermark` from here, since the DataFrame-returning
    * API does not expose the query.
    */
  def lastRunProgress:
      Array[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    _lastRunProgress.get()

  private val _lastRunPlan = new ThreadLocal[Option[String]] {
    override def initialValue(): Option[String] = None
  }

  /** The EXECUTED physical plan of the final micro-batch of the most
    * recent run on this thread (`IncrementalExecution.executedPlan` via
    * the StreamingBridge) — the streaming analog of
    * `queryExecution.executedPlan` that lets PlanAuditSpec put the
    * streaming twins under the same shuffle budgets as the batch queries
    * (round-9 ask #8). Same thread-local discipline as lastRunProgress.
    */
  def lastRunPlan: Option[String] = _lastRunPlan.get()

  /** Streaming exact dedup. Batch-parity runs (no `graft.stream.watermark`)
    * keep one state entry per distinct key forever — correct for an
    * AvailableNow backfill over a bounded corpus, a state bomb on an
    * unbounded stream. A continuous deployment sets the watermark conf and
    * gets `dropDuplicatesWithinWatermark`: a key's state expires once the
    * watermark passes its last-seen time plus the delay, so state is one
    * entry per key ACTIVE within the horizon, not per key ever seen. The
    * documented trade: a key re-arriving after its state expired re-emits
    * (at-least-once dedup within the horizon), which is the only
    * state-bounded contract possible on an unbounded key domain.
    */
  def streamingDedup(spark: SparkSession, sfDir: String,
                     keyCols: Seq[String]): DataFrame =
    twin(spark, sfDir, "graft_stream_dedup") { t =>
      val ev = t.stream("events")
      t.drain(
        if (t.watermark.isDefined)
          // ts rides along only to carry the watermark into the dedup
          // operator; it is not a dedup key and is dropped from the output
          t.watermarked(ev, "ts")
            .select((keyCols.map(col) :+ col("ts")): _*)
            .dropDuplicatesWithinWatermark(keyCols)
            .select(keyCols.map(col): _*)
        else ev.select(keyCols.map(col): _*).dropDuplicates(keyCols),
        Files)
    }

  /** Streaming URL seen-set — the crawl-frontier "have we fetched this
    * page" check: canonical URLs emit exactly once as documents land
    * (append-mode dropDuplicates keyed on the CANONICAL string, so case/
    * www/tracking/fragment variants of one page collapse into one state
    * entry). Same fixture URL population as the batch `x_dedup_url`.
    * State is one entry per distinct canonical URL — correct for an
    * AvailableNow backfill over a bounded corpus; an unbounded frontier
    * deployment bounds it exactly like [[streamingDedup]]'s watermarked
    * path (documents carry no event time here, so the bounded-corpus
    * contract is the one this twin pins).
    */
  def streamingUrlDedup(spark: SparkSession, sfDir: String): DataFrame =
    twin(spark, sfDir, "graft_stream_url_dedup") { t =>
      val canon = graft.operators.Dedup.canonicalUrl(
        graft.queries.Pipeline.syntheticUrl(col("doc_id"), col("source")))
      t.drain(t.stream("documents").select(canon.as("url_canon"))
        .dropDuplicates("url_canon"), Files)
    }

  /** Streaming per-domain crawl budget — the online twin of the batch
    * `x_domain_cap`: each canonical host admits at most `cap` pages as
    * documents land, then drops the rest (the crawl-frontier per-host
    * budget check). State per host is ONE counter (pages admitted so
    * far), so state volume is bounded by host cardinality however long
    * the stream runs — strictly smaller than the URL seen-set's
    * per-page state. Within a micro-batch the group's rows are ranked
    * by doc_id before admission so a single-drain backfill reproduces
    * the batch query's min-doc_id-first verdict exactly (batch parity
    * pinned in StreamingSpec); a multi-batch live crawl admits in
    * arrival order across batches, which IS the deployed semantics.
    */
  def streamingDomainCap(spark: SparkSession, sfDir: String,
                         cap: Long = 12L): DataFrame =
    twin(spark, sfDir, "graft_stream_domain_cap") { t =>
      import t.ss.implicits._
      val docs = t.stream("documents")
      val rows = docs.select(col("doc_id").cast("long").as("doc_id"),
          graft.operators.Dedup.domainKey(col("doc_id"),
            graft.queries.Pipeline.syntheticUrl(col("doc_id"), col("source")))
            .as("host"))
        .as[(Long, String)]
      t.drain(rows.groupByKey(_._2)
        .flatMapGroupsWithState[Long, (Long, String)](
          OutputMode.Append(), GroupStateTimeout.NoTimeout) {
          (host: String, it: Iterator[(Long, String)],
           state: GroupState[Long]) =>
            var n = state.getOption.getOrElse(0L)
            val out = Vector.newBuilder[(Long, String)]
            it.toVector.sortBy(_._1).foreach { case (id, _) =>
              if (n < cap) { out += ((id, host)); n += 1 }
            }
            state.update(n)
            out.result().iterator
        }.toDF("doc_id", "host"), Files)
    }

  /** Streaming MinHash-LSH near-dup screen — the online twin of the
    * batch LSH candidate pass: as documents land, each one is flagged
    * `is_neardup` iff ANY of its band buckets is already owned by an
    * earlier document (the crawl-ingest "have we seen something like
    * this" check, answered without pair generation). The signature is
    * the batch pipeline's 16-way md5 minhash collapsed to a PER-ROW
    * array expression (array_min over the distinct shingle hashes — the
    * same values the batch groupBy-min produces, lockstep law in
    * StreamingSpec), so the stream needs no aggregation before the
    * stateful step.
    *
    * State per (band, bucket) is ONE long — the min doc_id that owns the
    * bucket — so state volume is bounded by occupied-bucket cardinality
    * (≤ 4 per document ever seen), NOT by pairs; there is no bucket-cap
    * concern because nothing fans out. Within a micro-batch the group
    * sorts by doc_id, so a single-drain backfill reproduces the batch
    * min-id-ownership verdict exactly; a multi-batch live ingest owns
    * buckets in arrival order — the deployed semantics, same contract as
    * [[streamingDomainCap]] (its verify entry pins a single drain).
    */
  def streamingNearDup(spark: SparkSession, sfDir: String,
                       numHashes: Int = 16, bandSize: Int = 4): DataFrame =
    twin(spark, sfDir, "graft_stream_neardup") { t =>
      import t.ss.implicits._
      val docs = t.stream("documents")
        // STAGED projection: materialize the token array as a column before
        // the shingle lambda — inlining tokens(text) into shinglesFromTokens
        // substitutes the whole split expression into every lambda element
        // and re-tokenizes the text once PER SHINGLE (O(tokens²) per doc;
        // the same trap shinglesFromTokens' scaladoc documents for the
        // batch twin). This cut the sf0.1 drain from ~10s to batch-twin
        // territory.
        .where(col("text").isNotNull) // NULL-doc drop — see the note below
        .select(col("doc_id").cast("long").as("doc_id"),
          graft.operators.TextAnalysis.tokens(col("text")).as("toks"))
      val sh = array_distinct(
        graft.operators.Dedup.shinglesFromTokens(col("toks")))
      // ONE native codegen pass over the staged shingle array digests and
      // folds ALL numHashes slot-mins at once (r14,
      // MinHashSlotsFromShingles). The r13 form — transform(md5 ++ md5)
      // then aggregate + zip_with(least) over an array of 16
      // conv(substring) chunks — was a single logical pass but evaluated
      // BOTH lambda stacks INTERPRETED per shingle (higher-order functions
      // never enter codegen): the dominant addBatch cost of this twin.
      // Semantics are mirrored exactly (same md5 chunk ints, FunctionsSpec
      // law). NULL-text docs are DROPPED at the SOURCE (the text filter in
      // the projection above): their slot array would be NULL, and
      // concat_ws over all-NULL slots yields "" (an empty STRING, not
      // NULL) — unfiltered, every such doc would share one ("", band)
      // bucket and flag each other as near-dups, while the batch twin's
      // oracle (unnest of an empty shingle list) emits no row for them at
      // all. The filter must sit on `text`, NOT on the computed `mins`
      // column: a `mins IS NOT NULL` filter gets pushed below the staging
      // projection and re-evaluates the whole tokenize→shingle→minhash
      // chain a second time per row (measured 1.7 s → 10.9 s at sf0.1 —
      // the same staged-projection trap the comment above documents).
      // `text IS NULL ⟺ mins IS NULL` (a non-null text always shingles:
      // sub-shingle docs take the whole-token-string shingle).
      val slotMins =
        graft.functions.NativeExpressions.minhashSlotsFromShingles(
          col("sh"), numHashes)
      val bandCols = (0 until numHashes / bandSize).map { b =>
        val slots = (b * bandSize until (b + 1) * bandSize).map(i =>
          element_at(col("mins"), i + 1).cast("string"))
        struct(lit(b).as("band_idx"), concat_ws("|", slots: _*).as("band_sig"))
      }
      val bands = docs
        .select(col("doc_id"), sh.as("sh"))
        .select(col("doc_id"), slotMins.as("mins"))
        .select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
        .select(col("doc_id"), col("band.band_idx").as("band_idx"),
          col("band.band_sig").as("band_sig"))
        .as[(Long, Int, String)]
      val hits = bands.groupByKey(r => (r._2, r._3))
        .flatMapGroupsWithState[Long, (Long, Boolean)](
          OutputMode.Append(), GroupStateTimeout.NoTimeout) {
          (bucket: (Int, String), it: Iterator[(Long, Int, String)],
           state: GroupState[Long]) =>
            // a doc is hit iff the bucket is already OCCUPIED when it is
            // processed (in-batch order: ascending doc_id, so a single
            // drain reproduces min-id ownership; across batches the
            // earlier arrival owns). The stored owner is the min id seen —
            // a stable representative, though occupancy alone decides.
            var owner = state.getOption
            val out = Vector.newBuilder[(Long, Boolean)]
            it.toVector.sortBy(_._1).foreach { case (id, _, _) =>
              out += ((id, owner.isDefined))
              if (owner.forall(id < _)) owner = Some(id)
            }
            owner.foreach(state.update)
            out.result().iterator
        }.toDF("doc_id", "hit")
      // post-drain fold of the 4 per-band verdicts into one per doc
      t.drain(hits, Files)
        .groupBy("doc_id")
        .agg(max(col("hit")).as("is_neardup"))
    }

  /** Streaming SCD type-2 maintenance — the online twin of the batch
    * `x_scd2_history`: the open interval per key lives in state (ONE
    * (value, valid_from) pair per key — bounded by key cardinality),
    * and a value CHANGE emits the closed interval it ends. Append-mode
    * output is exactly the closed-interval set; the open tail stays in
    * state until the next change lands, which is the correct streaming
    * reading of "is_current". Same-value events extend the open run and
    * emit nothing — including across micro-batches (a run crossing a
    * batch boundary must not close; pinned in StreamingSpec).
    *
    * Memory bound: the per-key `it.toVector.sortBy` buffers one key's
    * slice of ONE micro-batch (events arrive time-unordered within a
    * batch, so the sort is semantically required) — bounded by trigger
    * size, never by history (state itself is one (value, from) pair per
    * key). A backfill draining a giant corpus as a single AvailableNow
    * batch concentrates every row of its hottest key in one buffer, so
    * cap the trigger for backfills (`graft.stream.maxFilesPerTrigger`;
    * a cluster deployment would use maxBytesPerTrigger) — the skewed-key
    * StreamingSpec case pins that a hot key split across two triggers
    * produces the identical closed-interval set.
    */
  def streamingScd2(spark: SparkSession, sfDir: String): DataFrame =
    twin(spark, sfDir, "graft_stream_scd2") { t =>
      import t.ss.implicits._
      val ev = t.stream("events")
        // a change event without a subject or a time cannot version any
        // entity's history — drop it BEFORE the primitive-keyed encoder
        // (a NULL there is a NOT_NULL_ASSERT_VIOLATION crash, caught by
        // the null-heavy probe); the batch twin tolerates such rows only
        // because its window keys are nullable columns
        .where(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id").cast("long").as("key"),
          col("ts").cast("timestamp").as("ts"),
          col("event_type").as("value"),
          // Long.MinValue sentinel, not 0: a NULL tie must not sort as
          // event 0's twin (see statefulAttribution's rationale); MinValue
          // sorts first in the ASC (ts, tie) fold order — the same slot
          // Spark's nulls-first ASC gives the batch twin's nullable column
          coalesce(col("event_id").cast("long"), lit(Long.MinValue))
            .as("tie"))
        .as[(Long, java.sql.Timestamp, String, Long)]
      t.drain(ev.groupByKey(_._1)
        .flatMapGroupsWithState[(String, java.sql.Timestamp),
          (Long, String, java.sql.Timestamp, java.sql.Timestamp)](
          OutputMode.Append(), GroupStateTimeout.NoTimeout) {
          (key: Long, it: Iterator[(Long, java.sql.Timestamp, String, Long)],
           state: GroupState[(String, java.sql.Timestamp)]) =>
            var open = state.getOption
            val out = Vector.newBuilder[
              (Long, String, java.sql.Timestamp, java.sql.Timestamp)]
            it.toVector.sortBy(r => (r._2.getTime, r._4)).foreach {
              case (_, ts, v, _) => open match {
                case Some((ov, of)) if ov != v =>
                  out += ((key, ov, of, ts)); open = Some((v, ts))
                case Some(_) => () // same value: the run continues silently
                case None => open = Some((v, ts))
              }
            }
            open.foreach(state.update)
            out.result().iterator
        }.toDF("key", "value", "valid_from", "valid_to"), Files)
    }

  /** Streaming quality scoring — the DEPLOYED shape of
    * `x_quality_classifier`: the affinity model trains OFFLINE on the
    * static corpus (one batch pass — Gopher-seeded per-token ‰
    * affinities + the verdict baseline, the same
    * `TextAnalysis.seedAffinity*` pieces as the batch query, lockstep)
    * and every incoming document scores ONLINE as it lands: explode →
    * stream-static equi-join against the vocab model → per-doc stateful
    * aggregation, update-mode changelog compacted per doc. The baseline
    * is a bounded driver scalar (same contract as the watermark
    * scalars). State is one row per in-flight doc — bounded for an
    * AvailableNow backfill; a continuous deployment watermarks the
    * ingest time exactly like the other aggregating twins. Batch
    * parity: identical scores to the batch classifier because stream
    * and static side see the same corpus.
    */
  def streamingQualityScore(spark: SparkSession, sfDir: String): DataFrame =
    twin(spark, sfDir, "graft_stream_quality_score") { t =>
      import graft.operators.TextAnalysis
      def seeded(df: DataFrame): DataFrame = df
        .select(col("doc_id"), col("text"),
          TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("text"),
          TextAnalysis.gopherFlags(
            TextAnalysis.gopherMetrics(col("text"), col("toks")))
            .getField("keep").as("seed"))
      // the whole offline train — multiplicities, the vocab model, the
      // baseline scalar — runs eagerly HERE at the caller's batch
      // parallelism (r16; it previously ran on the 4-partition stream
      // session: 5.1 s vs the batch twin's 0.5 s for identical work). The
      // vocab is persisted and materialized so each micro-batch's
      // stream-static join reads cached blocks instead of re-deriving the
      // vocab aggregation per batch.
      val (vocab, baseE3) = t.offline {
        val dt = TextAnalysis.seedMultiplicities(
          seeded(t.table("documents")), "doc_id", "text", "seed")
        val v = graft.operators.CacheRegistry.register(
          TextAnalysis.seedAffinityVocab(dt).persist())
        v.count()
        // empty corpus → NULL baseline; 0 keeps the empty stream scoring
        // cleanly (no rows reach the comparison anyway)
        val baseRow = TextAnalysis.seedAffinityBase(dt).head()
        (v, if (baseRow.isNullAt(0)) 0L else baseRow.getLong(0))
      }
      t.drain(t.stream("documents")
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text")))
          .as("tok"))
        .join(vocab, "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum(col("r_e3")).as("s"))
        .select(col("doc_id"), col("n_tok"),
          expr("s div n_tok").as("score_e3"))
        .withColumn("pred_good", col("score_e3") > lit(baseE3)),
        Changelog(Seq("doc_id"), OutputMode.Update()))
    }

  /** Stream-stream self-join: (purchase, click) pairs within the
    * `beforeUs` window before each purchase, computed with BOTH sides as
    * streams — the engine buffers each side's rows in the state store and
    * emits a match as soon as both halves arrive (the real-time variant of
    * the batch `RangeJoin.timeRangePairs`; same output contract, so the
    * same oracle checks both). Inner join in append mode: each match is
    * emitted exactly once. Batch-parity runs set no watermark (state holds
    * the bounded corpus); a continuous deployment sets
    * `graft.stream.watermark` on both sides so join state is evicted once
    * the window can no longer match — the documented state-boundedness
    * contract for production stream-stream joins.
    *
    * Watermark timing contract (verified against Spark 4.1's
    * `StreamingJoinHelper.getStateValueWatermark`, which derives state
    * watermarks from this condition for every interval-literal encoding —
    * legacy CalendarInterval and ANSI day-time alike): state EVICTION in
    * micro-batch N uses the watermark computed from batch N-1's event
    * times, while LATE-INPUT filtering uses the watermark that was in
    * effect DURING batch N-1 (one batch older — the split that makes
    * chained stateful operators consistent). A late row is therefore
    * dropped only once the watermark advance is at least one batch old;
    * a row arriving in the very batch where the watermark first jumped
    * still joins whatever state survives that batch's processing. Sizing
    * rule at 100 TB: state per side ≈ one window of rows per active key
    * plus one micro-batch of slack, never the corpus.
    */
  def streamStreamRangeJoin(spark: SparkSession, sfDir: String,
                            beforeUs: Long): DataFrame =
    twin(spark, sfDir, "graft_stream_range_join") { t =>
      val ev = t.stream("events")
      // per-side column names keep the self-join unambiguous (both sides
      // share the source stream's lineage)
      def side(kind: String, p: String) =
        t.watermarked(ev.where(col("event_type") === kind), "ts")
          .select(col("user_id").as(s"${p}_uid"),
            col("event_id").as(s"${p}_id"), col("ts").as(s"${p}_ts"))
      val purchases = side("purchase", "l")
      val clicks = side("click", "r")
      // the range condition stays in TIMESTAMP arithmetic (not unix_micros):
      // Spark derives stream-stream state-cleanup watermarks only from
      // conditions it can analyze over the watermarked ts columns — wrapping
      // them in a function would silently disable join-state eviction
      t.drain(purchases.join(clicks,
        col("l_uid") === col("r_uid") &&
          col("r_ts") >= col("l_ts") - expr(s"INTERVAL $beforeUs MICROSECOND") &&
          col("r_ts") <= col("l_ts"))
        .select(col("l_uid").as("user_id"), col("l_id"),
          unix_micros(col("l_ts")).as("l_us"),
          col("r_id"), unix_micros(col("r_ts")).as("r_us")), Files)
    }

  /** Stream-static enrichment: the events stream inner-joined row-by-row
    * against a STATIC dimension table (no state store involved — the
    * canonical dimension-lookup shape). No broadcast hint: the dimension
    * grows with the corpus, so the planner picks broadcast while it fits
    * the threshold and falls back to a shuffled join beyond it. Append
    * mode: each enriched event emits exactly once.
    */
  def streamStaticEnrich(spark: SparkSession, sfDir: String): DataFrame =
    twin(spark, sfDir, "graft_stream_enrich") { t =>
      val ev = t.stream("events")
      val cust = t.table("customer").select(col("c_custkey"), col("c_mktsegment"))
      t.drain(ev
        .join(cust, col("user_id") === col("c_custkey"))
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("c_mktsegment")), Files)
    }

  /** Ingest-time right-to-be-forgotten screen — the streaming face of
    * [[graft.operators.Privacy]]: the events stream LEFT-ANTI-joined
    * against a static deletion docket, so rows for forgotten subjects
    * never land downstream (scrubbing after ingest is the expensive
    * path; screening at ingest is free). Stream-static anti is
    * STATELESS — no state store, no watermark: each micro-batch probes
    * the docket and drops matches. The docket is broadcast by
    * construction (a deletion docket, not a corpus), so the stream side
    * never shuffles. Append mode: each surviving event emits exactly
    * once, and the kept set is drain-partition-invariant (a per-row
    * verdict — unlike the arrival-order cap twins).
    */
  def streamForgetScreen(spark: SparkSession, sfDir: String): DataFrame =
    twin(spark, sfDir, "graft_stream_forget") { t =>
      val ev = t.stream("events")
      val docket = t.table("customer")
        .where(col("c_custkey") % 23 === 0)
        .select(col("c_custkey"))
      t.drain(ev.join(broadcast(docket),
          col("user_id") === col("c_custkey"), "left_anti")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us")), Files)
    }

  /** Ingest-time constraint screen — the streaming face of
    * [[graft.operators.Constraints]]: rows violating the row-local
    * constraints (not-null key/text, language in set, minimum length)
    * never land downstream, the same admit-at-the-door economics as
    * [[streamForgetScreen]]. STATELESS — every verdict is per-row, so
    * no state store, no watermark, and the kept set is
    * drain-partition-invariant (the oracle binds for any
    * micro-batching). NULL semantics follow the batch audit: an
    * unverifiable row (NULL where the predicate needs a value) is a
    * violation, so it screens out. The rule set itself lives in
    * [[graft.operators.Constraints.DocRules]], shared with the batch
    * audit and both oracles; the min-length rule is gate-only (see the
    * DocRules scaladoc).
    */
  def streamConstraintScreen(spark: SparkSession,
                             sfDir: String): DataFrame =
    twin(spark, sfDir, "graft_stream_constraint") { t =>
      val rules = graft.operators.Constraints.DocRules
      t.drain(t.stream("documents").where(
          col("doc_id").isNotNull && col("text").isNotNull &&
          rules.langInSet && rules.minLengthOk)
        .select(col("doc_id"), col("lang"),
          length(col("text")).as("n_chars")), Files)
    }

  /** The reference's flagship — incremental table sync — in streaming form:
    * new files in the source directory append to the warehouse table
    * exactly once (the checkpoint is the high-watermark; re-running after
    * new data arrives moves only the delta, like the reference's
    * `WHERE pk > max(pk)` loop but with the offset tracked by the engine).
    * `Trigger.AvailableNow` drains what's there and stops — the reference's
    * externally-scheduled batch contract. Returns rows appended this run.
    *
    * The sink is a foreachBatch plain parquet append, NOT a
    * FileStreamSink: the file sink's `_spark_metadata` log makes every
    * subsequent BATCH read of the table resolve only stream-committed
    * files — silently hiding rows written by `load`/`sync`/`reload` into
    * the same directory — and is itself destroyed by their atomic staged
    * swap (round-9 advice). With a metadata-log-free append, batch and
    * streaming writers compose: a read sees the union of all parquet
    * files. Exactly-once survives foreachBatch's at-least-once replay by
    * committing each micro-batch under deterministic `b<batchId>-` file
    * names: a replayed batch first deletes its own prefix, then renames
    * its fresh files in — so a crash anywhere between write and
    * checkpoint commit re-lands the batch exactly once. (The one contract
    * narrowed vs the file sink: a reader racing a mid-flight drain of the
    * SAME table can see a partially renamed batch; the reference's
    * cron-poll shape runs drains sequentially, so this trades an unused
    * guarantee for batch/stream interop.) A `_spark_metadata` left by
    * pre-round-10 runs is deleted for the same reason.
    */
  def incrementalFileSync(spark: SparkSession, srcDir: String,
                          sinkDir: String, checkpointDir: String): Long =
    incrementalFileSyncVia(spark, srcDir, checkpointDir)(
      commitBatchFiles(spark, _, _, sinkDir))

  /** [[incrementalFileSync]]'s exactly-once landing of one micro-batch. */
  def commitBatchFiles(spark: SparkSession, batch: DataFrame, batchId: Long,
                       sinkDir: String): Unit = {
    val sink = new Path(sinkDir)
    val fs = sink.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(sink, "_spark_metadata"), true)
    fs.mkdirs(sink)
    // idempotent replay: clear this batch's prefix before landing it
    val prefix = s"b$batchId-"
    fs.listStatus(sink).map(_.getPath)
      .filter(_.getName.startsWith(prefix))
      .foreach(fs.delete(_, false))
    // stage under a dot-dir (invisible to batch parquet readers),
    // then rename each part file in under the batch prefix — rename
    // is a metadata op, so commit cost is per-file, not per-byte
    val stage = new Path(sinkDir, s".stage_b$batchId")
    batch.write.mode("overwrite").parquet(stage.toString)
    fs.listStatus(stage).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
      .foreach { f =>
        val dst = new Path(sink, prefix + f.getName)
        // rename reports most failures by RETURNING FALSE, not
        // throwing — ignoring it would let the stage delete below
        // destroy the rows and the checkpoint still commit the batch:
        // silent loss. Throwing here leaves the checkpoint uncommitted,
        // so foreachBatch's at-least-once replay re-lands the batch
        // (the prefix-clear above makes the replay idempotent).
        require(fs.rename(f, dst), s"rename $f -> $dst failed; " +
          "failing the batch so the checkpoint replays it")
      }
    fs.delete(stage, true)
  }

  /** The checkpointed drain-and-stop spine shared by every `watch` sink:
    * stream the landing directory's new-since-checkpoint files and hand
    * each micro-batch to `land` (which must make its own landing
    * idempotent — foreachBatch is at-least-once on crash replay; the
    * parquet sink uses per-batch file prefixes, the DuckDB sink a
    * batch-id log table). Returns rows drained this invocation.
    * Each batch is cached, counted and landed from the cache: the source's
    * `numInputRows` would count every scan, and a merge reads its batch
    * twice (anti join and union). The query is unnamed and checkpoints
    * where the caller says, so re-runs resume from the caller's offsets.
    */
  def incrementalFileSyncVia(spark: SparkSession, srcDir: String,
                             checkpointDir: String)
                            (land: (DataFrame, Long) => Unit): Long = {
    val drained = new AtomicLong(0)
    availableNow(graft.io.Tables
      .read(spark, srcDir, graft.io.Tables.Scan.Stream(srcDir))
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try {
          drained.addAndGet(b.count())
          land(b, batchId)
        } finally { b.unpersist(); () }
      }, checkpointDir)
    drained.get
  }
}
