package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sync.{Merge, SyncEngine, SyncStrategy, Watermark}

/** Merge identity + watermark semantics (SURVEY §7.4 hard parts): last-
  * writer-wins dedup, idempotence (merge(merge(t,d),d) == merge(t,d)),
  * null-watermark degradation, composite-PK merge/append.
  */
class MergeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  private def mkEvents(data: Seq[(Long, Int, String)]) =
    data.toDF("id", "ver", "payload")

  test("merge keeps last writer per key, unmatched target rows survive") {
    val target = mkEvents(Seq((1L, 1, "t1"), (2L, 1, "t2"), (3L, 1, "t3")))
    val changes = mkEvents(Seq(
      (2L, 2, "new2"), (2L, 3, "newest2"), // intra-batch conflict → ver 3 wins
      (4L, 1, "new4")))
    val out = Merge.merge(target, changes, Seq("id"), "ver")
    assert(rows(out) == Set(
      Seq(1L, 1, "t1"), Seq(3L, 1, "t3"),
      Seq(2L, 3, "newest2"), Seq(4L, 1, "new4")))
  }

  test("merge is idempotent: applying the same delta twice is a no-op") {
    // deterministic pseudo-random data, several shapes
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { _ =>
      val target = mkEvents(Seq.tabulate(50)(i =>
        (i.toLong, rnd.nextInt(3), s"t$i")))
      val changes = mkEvents(Seq.fill(30) {
        val id = rnd.nextInt(70).toLong
        (id, 10 + rnd.nextInt(3), s"c$id")
      })
      val once = Merge.merge(target, changes, Seq("id"), "ver")
      val twice = Merge.merge(once, changes, Seq("id"), "ver")
      assert(rows(once) == rows(twice))
    }
  }

  test("deleteInsert replaces matching keys wholesale") {
    val target = mkEvents(Seq((1L, 1, "a"), (2L, 1, "b")))
    val changes = mkEvents(Seq((2L, 9, "b9"), (5L, 1, "e")))
    assert(rows(Merge.deleteInsert(target, changes, Seq("id"))) ==
      Set(Seq(1L, 1, "a"), Seq(2L, 9, "b9"), Seq(5L, 1, "e")))
  }

  test("watermark: max / strict-> / inclusive->= / null degradation") {
    val df = mkEvents(Seq((1L, 1, "a"), (5L, 1, "b"), (3L, 1, "c")))
    assert(Watermark.maxOf(df, "id").contains(5L))
    assert(Watermark.newerThan(df, "id", Some(3L)).count() == 1)
    assert(Watermark.modifiedSince(df, "id", Some(3L)).count() == 2)
    // empty input → no watermark → caller loads everything
    val empty = mkEvents(Nil)
    assert(Watermark.maxOf(empty, "id").isEmpty)
    assert(Watermark.newerThan(df, "id", None).count() == 3)
  }

  test("composite-PK upsert merges on the full key") {
    val engine = new SyncEngine
    val target = Seq((1L, "a", 1, "t1a"), (1L, "b", 1, "t1b"),
      (2L, "a", 1, "t2a")).toDF("id", "sub", "ver", "payload")
    val source = Seq((1L, "a", 1, "t1a"), (1L, "b", 2, "NEW1b"),
      (2L, "a", 1, "t2a"), (3L, "a", 1, "t3a"))
      .toDF("id", "sub", "ver", "payload")
    val out = engine.sync(source, Some(target),
      SyncStrategy.Upsert(Seq("id", "sub"), "ver"))
    assert(out.action == "merge")
    assert(rows(out.table) == Set(
      Seq(1L, "a", 1, "t1a"), Seq(1L, "b", 2, "NEW1b"),
      Seq(2L, "a", 1, "t2a"), Seq(3L, "a", 1, "t3a")))
  }

  test("composite-PK append-only: anti-join delta adds only unseen keys") {
    val engine = new SyncEngine
    val target = Seq((1L, "a", 1, "x"), (2L, "a", 1, "y"))
      .toDF("id", "sub", "ver", "payload")
    // (2,a) already present — must not duplicate; (2,b) and (9,a) are new
    val source = Seq((2L, "a", 9, "dup"), (2L, "b", 1, "new"),
      (9L, "a", 1, "new9")).toDF("id", "sub", "ver", "payload")
    val out = engine.sync(source, Some(target),
      SyncStrategy.AppendOnly(Seq("id", "sub")))
    assert(out.action == "append")
    assert(rows(out.table) == Set(
      Seq(1L, "a", 1, "x"), Seq(2L, "a", 1, "y"),
      Seq(2L, "b", 1, "new"), Seq(9L, "a", 1, "new9")))
  }

  test("composite-key merge is idempotent across random change sets") {
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { _ =>
      val target = Seq.tabulate(40)(i =>
        (i.toLong % 8, s"s${i % 5}", rnd.nextInt(3), s"t$i"))
        .toDF("id", "sub", "ver", "payload")
      // payload varies per DRAW (k), not per key — same-key same-ver rows
      // with different payloads force the tieBreakers path to actually
      // resolve deterministically
      val changes = Seq.tabulate(25) { k =>
        val id = rnd.nextInt(10).toLong
        val sub = s"s${rnd.nextInt(5)}"
        (id, sub, 10 + rnd.nextInt(3), s"c$id$sub$k")
      }.toDF("id", "sub", "ver", "payload")
      val once = Merge.merge(target, changes, Seq("id", "sub"), "ver",
        tieBreakers = Seq("payload"))
      val twice = Merge.merge(once, changes, Seq("id", "sub"), "ver",
        tieBreakers = Seq("payload"))
      assert(rows(once) == rows(twice))
      // exactly one row per composite key
      val keys = once.select("id", "sub").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(keys.length == keys.distinct.length)
    }
  }

  test("merge is order-invariant iff (lm, tieBreakers) totally orders each " +
    "key's changes — ScalaCheck property") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // Property (VERDICT r6 next-7): shuffling the change-set's input order
    // never changes merge output when the ordering columns form a total
    // order per key. The generator draws same-key same-ver rows with
    // DISTINCT payloads, so `ver` alone is ambiguous (row_number ties) but
    // (ver, payload) is total — exactly the case tieBreakers exist for.
    val gen = for {
      nKeys <- Gen.chooseNum(1, 6)
      rows <- Gen.listOfN(20, for {
        id <- Gen.chooseNum(0L, nKeys.toLong)
        ver <- Gen.chooseNum(1, 2) // few versions → frequent equal-lm ties
      } yield (id, ver))
      seed <- Gen.chooseNum(0L, Long.MaxValue)
    } yield (rows.zipWithIndex.map { case ((id, ver), k) =>
      (id, ver, s"p$k") // payload unique per row → total tie-break order
    }, seed)
    val target = mkEvents(Seq((0L, 0, "t0"), (1L, 0, "t1"), (99L, 0, "t99")))
    val prop = Prop.forAll(gen) { case (changes, seed) =>
      val shuffled = new scala.util.Random(seed).shuffle(changes)
      val a = rows(Merge.merge(target, changes.toDF("id", "ver", "payload"),
        Seq("id"), "ver", tieBreakers = Seq("payload")))
      val b = rows(Merge.merge(target, shuffled.toDF("id", "ver", "payload"),
        Seq("id"), "ver", tieBreakers = Seq("payload")))
      a == b
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(30), prop)
    assert(res.passed, s"order-invariance property failed: ${res.status}")

    // ...and the negative: WITHOUT the tie-breaker, an equal-lm conflict is
    // detectably order-dependent — two input orders of the same change set
    // that merge to different payloads. Pinned deterministically (not
    // property-tested: Spark's window sort may coincidentally agree for
    // some orders; one witnessing pair is the proof the ambiguity exists).
    // coalesce(1) pins partition-local row order to input order, so the
    // stable window sort makes the order-dependence deterministic rather
    // than a shuffle-fetch race
    val amb = Seq((7L, 5, "first"), (7L, 5, "second"))
    val fwd = Merge.merge(target,
      amb.toDF("id", "ver", "payload").coalesce(1), Seq("id"), "ver")
      .where(col("id") === 7L).select("payload").head().getString(0)
    val rev = Merge.merge(target,
      amb.reverse.toDF("id", "ver", "payload").coalesce(1), Seq("id"), "ver")
      .where(col("id") === 7L).select("payload").head().getString(0)
    assert(Set(fwd, rev).subsetOf(Set("first", "second")))
    assert(fwd != rev,
      "equal-lm without tieBreakers must be order-dependent (the ambiguity " +
        "tieBreakers exist to remove); if this ever flips to stable, the " +
        "dedup implementation changed and the tieBreakers contract should " +
        "be re-examined")
  }

  test("a composite key syncs by default: no single-key rejection") {
    val engine = new SyncEngine
    val df = Seq((1L, "a", 1, "x")).toDF("id", "sub", "ver", "payload")
    assert(engine.sync(df, Some(df),
      SyncStrategy.Upsert(Seq("id", "sub"), "ver")).action == "merge")
  }

  test("sync engine: bootstrap and zero-delta short-circuit") {
    val engine = new SyncEngine
    val src = mkEvents(Seq((1L, 1, "a"), (2L, 1, "b")))
    val boot = engine.sync(src, None, SyncStrategy.AppendOnly("id"))
    assert(boot.action == "bootstrap" && rows(boot.table) == rows(src))
    // sink already at max watermark → append adds nothing
    val same = engine.sync(src, Some(src), SyncStrategy.AppendOnly("id"))
    assert(rows(same.table) == rows(src))
    // upsert with a fully-caught-up sink is likewise a no-op
    val up = engine.sync(src, Some(src), SyncStrategy.Upsert("id", "ver"))
    assert(rows(up.table) == rows(src))
  }
}
