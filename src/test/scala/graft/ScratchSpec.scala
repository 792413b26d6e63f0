package graft

import java.io.File

import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Scratch

/** Scratch is the one owner of query scratch: where it lives, that a later
  * call never touches an earlier call's files, and when it is deleted.
  */
class ScratchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** A session whose scratch root is a fresh test directory. */
  private def rooted(root: String) = {
    val s = spark.newSession()
    s.conf.set("graft.scratchDir", root)
    s
  }

  private def appRoot(root: String) =
    new File(root, s"graft_scratch_${spark.sparkContext.applicationId}")

  test("two calls return distinct fresh dirs under one graft_scratch_<appId> root") {
    val root = TestSpark.tmpDir("scratch_dirs")
    val s = rooted(root)
    val a = new File(Scratch.dir(s, "q"))
    val b = new File(Scratch.dir(s, "q"))
    assert(a != b)
    assert(Seq(a, b).forall(_.getParentFile == appRoot(root)))
    assert(Seq(a, b).forall(d => !d.exists() && d.getName.startsWith("q_")))
  }

  test("a graft_scratch_* root of another app idle for over 24 h is swept; " +
       "a fresh one and any other entry stay") {
    val root = TestSpark.tmpDir("scratch_sweep")
    val day = 24L * 3600L * 1000
    def entry(name: String, ageMs: Long): File = {
      val d = new File(root, name)
      assert(new File(d, "part").mkdirs())
      assert(d.setLastModified(System.currentTimeMillis() - ageMs))
      d
    }
    val stale = entry("graft_scratch_local-1", 2 * day)
    val fresh = entry("graft_scratch_local-2", day / 2)
    val other = entry("graft_wh_old", 2 * day)
    Scratch.dir(rooted(root), "q")
    assert(!stale.exists(), "another app's root idle for 48 h is swept")
    assert(fresh.exists(), "a concurrent run's live root stays")
    assert(other.exists(), "only graft_scratch_ roots are swept")
  }

  test("the registered application-end hook deletes the scratch root") {
    val root = TestSpark.tmpDir("scratch_end")
    val d = new File(Scratch.dir(rooted(root), "q"))
    assert(d.mkdirs())
    val sc = spark.sparkContext
    assert(Scratch.hook(sc) eq Scratch.hook(sc), "one hook per application")
    Scratch.hook(sc).onApplicationEnd(SparkListenerApplicationEnd(0L))
    assert(!appRoot(root).exists())
  }

  test("a returned DataFrame still reads its rows after a second call of the " +
       "same query: x_time_travel and a stream_* twin") {
    Seq("x_time_travel", "stream_dedup").foreach { q =>
      val first = SparkEntry.queries(q)(spark, sf)
      val rows = first.collect().toSeq.map(_.toString).sorted
      assert(rows.nonEmpty, q)
      SparkEntry.queries(q)(spark, sf).collect()
      assert(first.collect().toSeq.map(_.toString).sorted == rows, q)
    }
  }
}
