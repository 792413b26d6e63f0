package graftbench

import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("tail: highest percentile that still has ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    // p90 → rank 90, ten samples (91..100) beyond; p91 would leave nine
    assert(Stats.tail(xs) == (90, 90.0))
    val ys = (1 to 40).map(_.toDouble)
    // p75 → rank 30, ten beyond; p76 → rank 31, nine beyond
    assert(Stats.tail(ys) == (75, 30.0))
  }

  test("tail: below twenty samples the median is reported as p50") {
    val xs = Seq(5.0, 1.0, 3.0)
    assert(Stats.tail(xs) == (50, 3.0))
    assert(Stats.tail(Seq(2.0, 4.0)) == (50, 3.0))
    assert(Stats.tail((1 to 20).map(_.toDouble)) == (50, 10.0))
  }

  test("median of even and odd sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("ISIZE trailer equals the decompressed length") {
    val f = java.io.File.createTempFile("isize", ".csv.gz")
    f.deleteOnExit()
    val payload = ("a,b,c\n" + (1 to 5000).map(i => s"$i,x$i,${i * 0.5}").mkString("\n"))
      .getBytes("UTF-8")
    val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(f))
    try out.write(payload) finally out.close()
    assert(Gz.isize(f) == payload.length.toLong)
    assert(Gz.inflatedLength(f) == payload.length.toLong)
  }

  test("ISIZE reads the trailer as unsigned little-endian") {
    assert(Gz.isize(Array[Byte](0, 0, 1, 0, 0, 0)) == 1L)
    assert(Gz.isize(Array[Byte](0x01, 0x02, 0x00, 0x00)) == 0x0201L)
    assert(Gz.isize(Array[Byte](-1, -1, -1, -1)) == 0xffffffffL)
  }

  test("call site → innermost graft frame → module") {
    val details =
      """org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:472)
        |graft.cli.Warehouse.writeAtomic(Warehouse.scala:497)
        |graft.cli.Warehouse.load(Warehouse.scala:105)
        |graftbench.Run.$anonfun$syncBulk$2(Main.scala:250)""".stripMargin
    assert(CallSite.innermostGraftFrame(details) ==
      Some(("graft.cli.Warehouse.writeAtomic", "Warehouse.scala")))
    assert(CallSite.module(details) == "cli")
    assert(CallSite.inMethod(details, "writeAtomic"))
    assert(!CallSite.inMethod(details, "load"))
  }

  test("call site: objects, closures, top-level entry points, harness-only stacks") {
    val io = "org.apache.spark.sql.Dataset.count(Dataset.scala:1)\n" +
      "graft.io.Tables$.$anonfun$writeCsvChunks$1(Tables.scala:212)\n" +
      "graft.io.Tables$.observedCount(Tables.scala:131)"
    assert(CallSite.module(io) == "io")
    assert(CallSite.inMethod(io, "writeCsvChunks"))
    assert(CallSite.moduleOf("graft.SparkEntry$.$anonfun$queries$1") == "SparkEntry")
    assert(CallSite.moduleOf("graft.operators.Dedup$.minhash") == "operators")
    assert(CallSite.module("graftbench.Run.queryMix(Main.scala:10)") == "harness")
    assert(CallSite.module(null) == "harness")
  }

  test("canonical fingerprint: row order, column order and int width do not matter") {
    val c = Duck.connect()
    try {
      val s = c.createStatement()
      s.execute("CREATE TABLE a (k INTEGER, v DOUBLE, t TIMESTAMP, s VARCHAR)")
      s.execute("INSERT INTO a VALUES (1, 0.1, TIMESTAMP '2024-01-01 00:00:01.5', 'x'), " +
        "(2, NULL, TIMESTAMP '2024-01-02 00:00:00', NULL)")
      s.execute("CREATE TABLE b (s VARCHAR, t TIMESTAMP_NS, v DOUBLE, k BIGINT)")
      s.execute("INSERT INTO b VALUES (NULL, TIMESTAMP '2024-01-02 00:00:00', NULL, 2), " +
        "('x', TIMESTAMP '2024-01-01 00:00:01.5', 0.1, 1)")
      val pa = Duck.fingerprint(c, "a")
      assert(pa.rows == 2)
      assert(pa == Duck.fingerprint(c, "b"))
      s.execute("UPDATE b SET v = 0.1000001 WHERE k = 1")
      assert(pa != Duck.fingerprint(c, "b"))
    } finally c.close()
  }

  test("canonical fingerprint: NULL differs from the empty string; duplicates count") {
    val c = Duck.connect()
    try {
      val s = c.createStatement()
      s.execute("CREATE TABLE n (s VARCHAR)")
      s.execute("INSERT INTO n VALUES (NULL)")
      s.execute("CREATE TABLE e (s VARCHAR)")
      s.execute("INSERT INTO e VALUES ('')")
      assert(Duck.fingerprint(c, "n") != Duck.fingerprint(c, "e"))
      s.execute("CREATE TABLE d1 (s VARCHAR)")
      s.execute("INSERT INTO d1 VALUES ('x'), ('y')")
      s.execute("CREATE TABLE d2 (s VARCHAR)")
      s.execute("INSERT INTO d2 VALUES ('x'), ('x'), ('y')")
      assert(Duck.fingerprint(c, "d1").hash != Duck.fingerprint(c, "d2").hash)
    } finally c.close()
  }

  test("self time subtracts the union of child intervals") {
    val spans = Seq(
      Span(1, 0, 1, "cli.sync", 0, 100),
      Span(2, 1, 1, "sql:io", 10, 40),
      Span(3, 1, 1, "sql:cli", 30, 60), // overlaps the first child
      Span(4, 1, 1, "warehouse.merge", 90, 120)) // clipped to the parent
    val self = Tracer.selfMs(spans)
    assert(self(1) == 100 - 50 - 10)
    assert(self(2) == 30)
  }
}
