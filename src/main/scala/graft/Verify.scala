package graft

import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** `s` as a quoted JSON string: backslash, quote, and ALL control chars
    * (<0x20) escaped — a tab or CR in a query's SQL would otherwise make
    * the checker's json.load fail and silently zero the correctness count.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // dev iteration filter (mirrors Bench's SPARK_GRAFT_BENCH_ONLY): dump
    // only the named queries + their oracle rows so tools/check.py checks
    // just those. Unset (the driver's case) → the full suite.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_VERIFY_ONLY names not in SparkEntry.queries: ${unknown.mkString(",")}")
    }
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = LocalSession.build()
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      }
    }
    def dump(file: String, kvs: Iterable[(String, String)]): Unit =
      Files.writeString(Paths.get(s"$outDir/$file"), kvs
        .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}"))
    dump("oracle_sql.json", SparkEntry.oracleSql.filter(kv => keep(kv._1)))
    // per-query oracle_scope tags (full / agg-only / batch-recompute):
    // check.py attaches them to its records and segments --bench ratios
    // by scope, so oracle-asymmetric shapes can't be misread as plan
    // defects (r14)
    dump("oracle_scope.json", SparkEntry.oracleScope.filter(kv => keep(kv._1)))
    // Crashed queries leave no parquet dir and would otherwise vanish from
    // the correctness report entirely (round-8 lesson: 12 silent absences
    // read as "100% green"). Persist them so absence is always loud.
    dump("verify_errors.json", errors)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
