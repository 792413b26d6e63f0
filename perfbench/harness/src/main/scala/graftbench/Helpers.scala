package graftbench

/** Pure helpers the benchmark's numbers rest on, kept apart so each is
  * unit-tested (HelpersSpec). */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail rule: the highest whole percentile p (nearest rank) that
    * still has at least `beyond` samples above it. Below 2·`beyond`
    * samples no percentile at or above the median qualifies, so the
    * median (p = 50) is reported. Returns (p, value). */
  def tail(xs: Seq[Double], beyond: Int = 10): (Int, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    (99 to 50 by -1).iterator.map { p =>
      val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
      (p, rank)
    }.collectFirst { case (p, rank) if n - rank >= beyond => (p, s(rank - 1)) }
      .getOrElse((50, median(xs)))
  }
}

/** gzip member trailer: the last four bytes hold ISIZE, the uncompressed
  * length mod 2^32 (RFC 1952 §2.3.1). Exact for single-member files under
  * 4 GiB, which is what the engine's CSV chunk writer emits. */
object Gz {
  def isize(f: java.io.File): Long = {
    val raf = new java.io.RandomAccessFile(f, "r")
    try {
      require(raf.length() >= 18, s"not a gzip file: $f")
      raf.seek(raf.length() - 4)
      val b = new Array[Byte](4)
      raf.readFully(b)
      isize(b)
    } finally raf.close()
  }

  /** Little-endian unsigned 32-bit value of a trailer's last four bytes. */
  def isize(trailer: Array[Byte]): Long =
    (0 until 4).map(i => (trailer(trailer.length - 4 + i) & 0xffL) << (8 * i)).sum

  /** Decompressed length by reading the whole stream — the slow check
    * ISIZE is validated against. */
  def inflatedLength(f: java.io.File): Long = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.BufferedInputStream(new java.io.FileInputStream(f)))
    try {
      val buf = new Array[Byte](1 << 16)
      var total = 0L
      var n = in.read(buf)
      while (n >= 0) { total += n; n = in.read(buf) }
      total
    } finally in.close()
  }
}

/** Attribution of a Spark SQL execution to a repo module by its call site:
  * the innermost `graft.` frame of `SparkListenerSQLExecutionStart.details`
  * (the long call-site form, innermost frame first). */
object CallSite {
  private val Frame = """^\s*(?:at\s+)?(graft\.[\w$.]+)\((\w+\.scala):?(\d*)\)""".r

  /** (fully-qualified method, file) of the innermost engine frame. */
  def innermostGraftFrame(details: String): Option[(String, String)] =
    Option(details).iterator.flatMap(_.linesIterator).collectFirst {
      case Frame(method, file, _) => (method, file)
    }

  /** The repo module a frame belongs to: the package under `graft`
    * (`graft.cli.Warehouse.load` → `cli`), or the object name for the
    * top-level mains and entry points (`graft.SparkEntry$...` →
    * `SparkEntry`). */
  def moduleOf(method: String): String = {
    val parts = method.stripPrefix("graft.").split('.')
    if (parts.length >= 2 && parts(0).nonEmpty && parts(0).head.isLower) parts(0)
    else parts(0).takeWhile(_ != '$')
  }

  /** Module of an execution, "harness" when no engine frame is on the
    * stack (the action was issued by the benchmark itself). */
  def module(details: String): String =
    innermostGraftFrame(details).map(f => moduleOf(f._1)).getOrElse("harness")

  /** Does the execution's innermost engine frame sit in `method`
    * (matched on the simple name, e.g. "writeAtomic")? Scala emits
    * closures as `$anonfun$name$N`, which counts as the method. */
  def inMethod(details: String, method: String): Boolean =
    innermostGraftFrame(details).exists { case (m, _) =>
      val simple = m.split('.').last
      simple == method || simple.contains("$" + method + "$")
    }
}

/** Canonical, order-insensitive fingerprint of a relation in DuckDB SQL:
  * every value is rendered to one canonical string per type (so an INT and
  * a BIGINT holding 7, or TIMESTAMP and TIMESTAMP_NS of one instant, agree),
  * columns are taken in name order, each row is hashed, and the hashes are
  * summed as HUGEINT — a multiset fingerprint, insensitive to row and
  * column order, sensitive to duplicates. */
object Canon {
  val Null = "\\N"

  def expr(column: String, duckType: String): String = {
    val c = "\"" + column.replace("\"", "\"\"") + "\""
    val t = duckType.trim.toUpperCase
    val rendered =
      if (t.startsWith("TIMESTAMP")) s"CAST(epoch_us(CAST($c AS TIMESTAMP)) AS VARCHAR)"
      else if (Set("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
        "USMALLINT", "UINTEGER", "UBIGINT")(t)) s"CAST(CAST($c AS HUGEINT) AS VARCHAR)"
      else if (t == "FLOAT" || t == "REAL" || t == "DOUBLE") s"CAST(CAST($c AS DOUBLE) AS VARCHAR)"
      else s"CAST($c AS VARCHAR)"
    s"coalesce($rendered, '$Null')"
  }

  /** `SELECT count(*), fingerprint FROM relation` for the given
    * (column, DuckDB type) pairs. */
  def fingerprintSql(relation: String, columns: Seq[(String, String)]): String = {
    require(columns.nonEmpty, "fingerprint of a relation with no columns")
    val row = columns.sortBy(_._1).map { case (c, t) => expr(c, t) }
      .mkString("concat_ws(chr(31), ", ", ", ")")
    s"SELECT count(*), coalesce(sum(CAST(hash($row) AS HUGEINT)), 0) FROM $relation"
  }
}
