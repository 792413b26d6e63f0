package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.operators.Similarity.{All, Nearest, Pq}

/** Product-quantization laws. The encode→table→ADC chain is integer-exact
  * by construction, so the generative law recomputes the WHOLE pipeline
  * (quantize, sign-LSH seed, floor-mean codebook, nearest-code assignment,
  * distance tables, summed lookups, ranked top-k) in plain Scala and
  * demands exact equality — any drift in seeding bits, floor semantics,
  * tie-breaks, or the lookup joins breaks it.
  */
class PqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Plain-Scala PQ over dim-2*sd vectors: returns (qid, nid) -> (adist,
    * rank) for rank <= k.
    */
  private def recompute(rows: Seq[(Long, Array[Float])], sd: Int, k: Int,
                        isQuery: Long => Boolean): Map[(Long, Long), (Long, Long)] = {
    val vq = rows.map { case (id, v) =>
      id -> v.map(x => math.round(x.toDouble * 1000000.0))
    }.toMap
    def sub(id: Long, s: Int): Array[Long] =
      vq(id).slice(s * sd, s * sd + sd)
    // per subspace: seed cell, codebook, code
    val perSub = (0 to 1).map { s =>
      def cell(sv: Array[Long]): Long = {
        val p0 = sv.zipWithIndex.collect { case (x, i) if i % 2 == 0 => x }.sum
        val p1 = sv.zipWithIndex.collect { case (x, i) if i % 2 == 1 => x }.sum
        (if (p0 >= 0) 1L else 0L) + (if (p1 >= 0) 2L else 0L)
      }
      val seeded = rows.map { case (id, _) => id -> cell(sub(id, s)) }
      val cents = seeded.groupBy(_._2).map { case (c, g) =>
        val vs = g.map { case (id, _) => sub(id, s) }
        c -> Array.tabulate(sd)(i =>
          math.floor(vs.map(_(i)).sum.toDouble / vs.size).toLong)
      }
      def dist(a: Array[Long], b: Array[Long]): Long =
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      val codes = rows.map { case (id, _) =>
        id -> cents.toSeq.map { case (c, cv) => (dist(sub(id, s), cv), c) }
          .min._2
      }.toMap
      val dtabs = rows.collect { case (id, _) if isQuery(id) =>
        (id, cents.toSeq.map { case (c, cv) =>
          c -> dist(sub(id, s), cv) }.toMap)
      }.toMap
      (codes, dtabs)
    }
    val qids = rows.map(_._1).filter(isQuery)
    qids.flatMap { q =>
      val scored = rows.map(_._1).filter(_ != q).map { n =>
        val ad = perSub(0)._2(q)(perSub(0)._1(n)) + perSub(1)._2(q)(perSub(1)._1(n))
        (n, ad)
      }.sortBy { case (n, ad) => (ad, n) }
      scored.take(k).zipWithIndex.map { case ((n, ad), i) =>
        (q, n) -> ((ad, (i + 1).toLong))
      }
    }.toMap
  }

  test("generative law: ADC top-k equals the plain-Scala PQ recompute on " +
    "random vectors") {
    val rnd = new scala.util.Random(67)
    val sd = 4 // dim-8 vectors, two 4-dim subspaces
    (0 until 3).foreach { round =>
      val rows = (0 until 50).map(i =>
        (i.toLong, Array.fill(2 * sd)((rnd.nextFloat() - 0.5f) * 2f)))
      val df = rows.toDF("vec_id", "embedding")
      val got = Similarity.topK(df.where(col("vec_id") < 5), df,
        "vec_id", "embedding", k = 3, All, Pq(sd))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
        .toMap
      assert(got == recompute(rows, sd, 3, _ < 5),
        s"round $round diverged from recompute")
    }
  }

  test("PQ on planted clusters: every ADC top-3 neighbor is from the " +
    "query's own cluster — the resolution a 2x2-bit code can promise") {
    // 4 well-separated clusters in dim 16. All same-cluster vectors share
    // the same (code0, code1), so ADC cannot rank WITHIN a cluster (their
    // approx distances tie and fall back to the id tiebreak) — the claim a
    // coarse code earns is cluster-membership precision, not exact-rank
    // recall. Assert precision@3 = 1.0: no cross-cluster contamination in
    // any query's top-3. Finer in-cluster ranking needs more codebook
    // bits, which is a size/recall dial, not a structural change.
    val rnd = new scala.util.Random(42)
    val kClusters = 4; val per = 25; val dim = 16
    val rows = for (c <- 0 until kClusters; j <- 0 until per) yield {
      val id = (c * per + j).toLong
      // cluster centers live in the plane-sign space the 2-bit seeding
      // resolves: cluster bit0 -> sign of all even coordinates, bit1 ->
      // sign of all odd coordinates (noise ±0.05), so each cluster owns a
      // distinct (code0, code1) and clusters are far apart in L2
      val evenSign = if ((c & 1) == 1) 8.0f else -8.0f
      val oddSign = if ((c & 2) == 2) 8.0f else -8.0f
      val v = Array.tabulate(dim) { i =>
        (if (i % 2 == 0) evenSign else oddSign) + (rnd.nextFloat() - 0.5f) * 0.1f
      }
      (id, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val isQuery = col("vec_id") % per === 0
    val got = Similarity.topK(df.where(isQuery), df,
      "vec_id", "embedding", k = 3, All, Pq(8))
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == kClusters * 3, s"expected 3 neighbors per query")
    val crossCluster = got.filter { case (q, n) => q / per != n / per }
    assert(crossCluster.isEmpty,
      s"ADC top-3 leaked across clusters: ${crossCluster.mkString(", ")}")
  }

  test("IVF+PQ composition law: with nprobe = all cells, ivfPqTopK equals " +
    "pqTopK exactly (probing only bounds the candidate set, never the math)") {
    val rnd = new scala.util.Random(71)
    val rows = (0 until 60).map(i =>
      (i.toLong, Array.fill(16)((rnd.nextFloat() - 0.5f) * 2f)))
    val df = rows.toDF("vec_id", "embedding")
    val withCell = df.select(col("vec_id"), col("embedding"),
      Similarity.signLshBucket(
        Similarity.quantize(col("embedding")), 0 until 4, 8).as("cell"))
    val full = Similarity.topK(df.where(col("vec_id") < 5), df,
      "vec_id", "embedding", k = 3, All, Pq(8))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val composed = Similarity.topK(
      withCell.where(col("vec_id") < 5), withCell,
      "vec_id", "embedding", k = 3, Nearest("cell", 16), Pq(8))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(composed == full,
      "all-cells IVF+PQ must reproduce the whole-corpus ADC scan")
  }

  test("IVF+PQ on planted clusters: probe restriction keeps the top-3 " +
    "inside the query's cluster") {
    val rnd = new scala.util.Random(42)
    val kClusters = 4; val per = 25; val dim = 16
    val rows = for (c <- 0 until kClusters; j <- 0 until per) yield {
      val id = (c * per + j).toLong
      val evenSign = if ((c & 1) == 1) 8.0f else -8.0f
      val oddSign = if ((c & 2) == 2) 8.0f else -8.0f
      val v = Array.tabulate(dim) { i =>
        (if (i % 2 == 0) evenSign else oddSign) + (rnd.nextFloat() - 0.5f) * 0.1f
      }
      (id, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val withCell = df.select(col("vec_id"), col("embedding"),
      Similarity.signLshBucket(
        Similarity.quantize(col("embedding")), 0 until 4, 8).as("cell"))
    val got = Similarity.topK(
      withCell.where(col("vec_id") % per === 0), withCell,
      "vec_id", "embedding", k = 3, Nearest("cell", 4), Pq(8))
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == kClusters * 3, "expected 3 neighbors per query")
    val crossCluster = got.filter { case (q, n) => q / per != n / per }
    assert(crossCluster.isEmpty,
      s"IVF+PQ top-3 leaked across clusters: ${crossCluster.mkString(", ")}")
  }

  test("degenerate shapes: empty corpus and single-vector corpus return " +
    "empty top-k cleanly") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.topK(empty, empty, "vec_id", "embedding", 3, All, Pq(4))
      .count() == 0)
    val one = Seq((0L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    // the only vector is the query; self is excluded -> no neighbors
    assert(Similarity.topK(one, one, "vec_id", "embedding", 3, All, Pq(4))
      .count() == 0)
  }
}
