package graft.io

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one owner of query scratch: every intermediate file a query stages
  * (roundtrip chunks, snapshot versions, streaming sources, checkpoints
  * and sinks) lives under `<root>/graft_scratch_<appId>`, and the
  * application's end deletes that directory.
  */
object Scratch {

  private val counter = new AtomicLong(0)
  private val hooks = new ConcurrentHashMap[String, EndHook]()

  /** The application's one end hook: when the application ends
    * (`spark.stop()`, which Spark's own shutdown hook also calls) it
    * deletes every path handed to it, through the Hadoop FS.
    */
  private[graft] final class EndHook(sc: SparkContext) extends SparkListener {
    val paths: java.util.Set[Path] = ConcurrentHashMap.newKeySet[Path]()
    sc.addSparkListener(this)
    override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
      paths.forEach(p => p.getFileSystem(sc.hadoopConfiguration).delete(p, true))
  }

  private[graft] def hook(sc: SparkContext): EndHook =
    hooks.computeIfAbsent(sc.applicationId, _ => new EndHook(sc))

  /** The `graft.scratchDir` conf key (a shared filesystem on a cluster),
    * or `java.io.tmpdir` when unset.
    */
  def root(spark: SparkSession): String =
    spark.conf.getOption("graft.scratchDir").getOrElse(sys.props("java.io.tmpdir"))

  /** A fresh, non-existent `<root>/graft_scratch_<appId>/<name>_<n>`. `n` is
    * one JVM-wide counter, so a later call never touches the files behind
    * a DataFrame an earlier call returned (they are read lazily).
    *
    * The first call per root sweeps STALE RUNS: scratch roots of other
    * applications untouched for 24 HOURS are deleted — an application
    * killed before its end event would otherwise leak fact-table-scale
    * gzip/ORC copies into the root for good. The mtime guard keeps a
    * CONCURRENT run's live root safe. 24h, not 1h: a concurrent run writes
    * its chunks eagerly but reads them LAZILY at each bench rep, so under
    * heavy contention a slow high-SF suite can legitimately re-read a dir
    * written hours earlier (bench.var.json measured byte-identical suites
    * spanning 112–794 s — and sf1 runs take over an hour wall); the cutoff
    * must sit far above any plausible single-run duration, and no measured
    * suite approaches a day.
    */
  def dir(spark: SparkSession, name: String): String = {
    val sc = spark.sparkContext
    val mine = new Path(root(spark), s"graft_scratch_${sc.applicationId}")
    // the first call, before anything is written under `mine`
    if (hook(sc).paths.add(mine)) {
      val fs = mine.getFileSystem(sc.hadoopConfiguration)
      val cutoff = System.currentTimeMillis() - 24L * 3600L * 1000
      fs.globStatus(new Path(mine.getParent, "graft_scratch_*"))
        .filter(_.getModificationTime < cutoff).foreach(st => fs.delete(st.getPath, true))
    }
    s"$mine/${name}_${counter.incrementAndGet()}"
  }

  /** Delete `path` when the application ends, with its scratch. */
  def deleteAtEnd(spark: SparkSession, path: String): Unit =
    hook(spark.sparkContext).paths.add(new Path(path))
}
