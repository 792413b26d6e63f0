package graft.cli

import java.nio.file.{Files, Paths}

import graft.LocalSession

/** CLI entry point — the reference's `__main__.py` argparse surface
  * (reference pgwarehouse/__main__.py:9-32):
  *
  *   graft init                      write a template config
  *   graft list      [--config f]    source tables with sizes
  *   graft listwh    [--config f]    warehouse tables with sizes
  *   graft extract <table|all> ...   source → gzip CSV chunks
  *   graft load    <table|all> ...   CSV chunks → warehouse table
  *   graft sync    <table|all> ...   incremental sync per strategy
  *   graft reload  <table|all> ...   drop + full reload
  *   graft watch   <table|all> ...   drain newly landed source files
  *                                   (checkpointed streaming append)
  *   graft snapshot <table|all> ...  publish/inspect/vacuum immutable
  *                                   versions of the warehouse table
  *
  * `all` iterates the configured tables with per-table error isolation
  * (pgwarehouse.py:97-110). Run via `sbt "runMain graft.cli.Main sync all
  * --config graft_config.yaml"`.
  */
object Main {

  private val commands =
    Set("init", "list", "listwh", "extract", "load", "sync", "reload", "ddl",
      "profile", "compact", "card", "watch", "snapshot")

  /** Sessions come from [[graft.LocalSession.build]], the profile the
    * tests and the benchmark use, on every core unless SPARK_GRAFT_CPUS
    * or GRAFT_MASTER says otherwise. */
  private val allCores = Runtime.getRuntime.availableProcessors.toString

  def main(args: Array[String]): Unit = {
    val (flags, positional) = parseArgs(args)
    val command = positional.headOption.getOrElse("")
    if (!commands(command)) {
      System.err.println(
        "usage: graft <init|list|listwh|extract|load|sync|reload|ddl|profile|compact|card|watch|snapshot> " +
          "[table|all] [--config file] [--dialect clickhouse|duckdb|snowflake] " +
          "[--backend duckdb] [--mode replace|append]\n" +
          "  load replaces the warehouse table with the pending chunks by " +
          "default; --mode append COPYs into the existing table instead")
      sys.exit(2)
    }
    val configPath = flags.getOrElse("config", "graft_config.yaml")

    if (command == "init") {
      if (Files.exists(Paths.get(configPath))) {
        System.err.println(s"$configPath already exists, not overwriting")
        sys.exit(1)
      }
      Files.writeString(Paths.get(configPath), GraftConfig.template)
      println(s"wrote $configPath")
      return
    }

    // `card` is config-free: it reads a corpus dir (documents.parquet
    // inside) and prints the per-source dataset card — the release-readme
    // numbers — via the SAME oracle-checked query the driver verifies.
    if (command == "card") {
      val dir = positional.drop(1).headOption.getOrElse {
        System.err.println("usage: graft card <corpus-dir>")
        sys.exit(2); ""
      }
      val spark = LocalSession.build(allCores)
      try graft.SparkEntry.queries("x_dataset_card")(spark, dir)
        .show(200, truncate = false)
      finally spark.stop()
      return
    }

    val cfg = GraftConfig.fromYaml(
      Files.readString(Paths.get(configPath)))
    val spark = LocalSession.build(allCores)
    // run() RETURNS the exit code rather than calling sys.exit inline —
    // an inline exit would bypass this finally and skip spark.stop()'s
    // graceful shutdown on a real cluster
    val code =
      try run(new Warehouse(spark, cfg), cfg, command,
        positional.drop(1).headOption.getOrElse("all"),
        flags.getOrElse("dialect", "duckdb"),
        flags.get("backend"), flags)
      finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  private def run(wh: Warehouse, cfg: GraftConfig, command: String,
                  table: String, dialect: String,
                  backend: Option[String] = None,
                  flags: Map[String, String] = Map.empty): Int = {
    // `--backend duckdb`: warehouse side executed by the in-process
    // DuckDB engine (reference duckdb_backend.py), db file from
    // `warehouse.duckdb_path` (default duck.db beside the warehouse dir).
    // The JDBC driver jar must be on the classpath; DriverManager
    // discovers it, the engine never links it at compile time.
    val duck = backend.map {
      case "duckdb" => new graft.warehouse.DuckDbBackend(
        cfg.duckdbPath.getOrElse(s"${cfg.warehouseDir}/duck.db"))
      case other => throw new IllegalArgumentException(
        s"unknown --backend '$other' (expected: duckdb)")
    }
    var exitCode = 0
    def each(f: String => Unit): Unit =
      if (table == "all") {
        val failed = wh.forAll(f).collect { case (t, Some(_)) => t }
        if (failed.nonEmpty) {
          System.err.println(s"failed tables: ${failed.mkString(", ")}")
          exitCode = 1
        }
      } else f(table)

    command match {
      case "list"   => wh.list().show(100, truncate = false)
      case "listwh" if duck.isDefined =>
        duck.get.listTables().foreach(t =>
          println(s"$t ${duck.get.count(t)} rows"))
      case "listwh" => wh.listwh().show(100, truncate = false)
      case "extract" => each { t =>
        val (files, records) = wh.extract(t)
        println(s"$t: extracted $records records into $files chunks")
      }
      case "load" => each { t =>
        // default mode is REPLACE (pending chunks become the table);
        // `--mode append` keeps the reference's append-into-existing
        // semantics (pgwarehouse.py:176-184, drop_table=False)
        val mode = flags.getOrElse("mode", "replace")
        require(mode == "replace" || mode == "append",
          s"--mode must be replace|append, got '$mode'")
        val n = duck.fold(wh.load(t))(d =>
          wh.loadDuck(t, d, append = mode == "append"))
        println(s"$t: loaded $n rows")
      }
      case "sync" => each { t =>
        val action = duck.fold(wh.sync(t))(d => wh.syncDuck(t, d))
        println(s"$t: sync action=$action")
      }
      case "reload" => each { t =>
        val n = duck.fold(wh.reload(t))(d => wh.reloadDuck(t, d))
        println(s"$t: reloaded $n rows")
      }
      case "ddl" => each { t =>
        println(wh.ddl(t, dialect))
      }
      case "profile" => each { t =>
        println(s"$t:")
        wh.profile(t).show(200, truncate = false)
      }
      case "compact" => each { t =>
        val (before, after, rows) = wh.compact(t)
        println(s"$t: compacted $before files -> $after ($rows rows)")
      }
      case "watch" => each { t =>
        val n = duck.fold(wh.watch(t))(d => wh.watchDuck(t, d))
        println(s"$t: watched $n new rows")
      }
      // snapshot <table>            publish the live table as v(N+1)
      // snapshot <table> --show versions | --show N (row count of vN)
      // snapshot <table> --vacuum K (keep newest K)
      case "snapshot" => each { t =>
        (flags.get("show"), flags.get("vacuum")) match {
          case (Some("versions"), _) =>
            println(s"$t: versions ${wh.snapshotVersions(t).mkString(",")}")
          case (Some(v), _) =>
            println(s"$t: v$v ${wh.snapshotRead(t, Some(v.toLong)).count()} rows")
          case (_, Some(k)) =>
            val dropped = wh.snapshotVacuum(t, k.toInt)
            println(s"$t: vacuumed ${dropped.mkString(",")}")
          case _ =>
            println(s"$t: published snapshot v${wh.snapshotPublish(t)}")
        }
      }
      case other => throw new IllegalArgumentException(other)
    }
    exitCode
  }

  private[graft] def parseArgs(args: Array[String]): (Map[String, String], Seq[String]) = {
    var flags = Map.empty[String, String]
    var positional = Vector.empty[String]
    var i = 0
    while (i < args.length) {
      if (args(i).startsWith("--")) {
        // every flag takes a value; a trailing bare --flag used to fall
        // through as a POSITIONAL, silently flipping the command's
        // meaning (`snapshot t --vacuum` published a new version instead
        // of reclaiming). Fail loudly instead.
        require(i + 1 < args.length,
          s"flag ${args(i)} requires a value (e.g. ${args(i)} <value>)")
        flags += args(i).stripPrefix("--") -> args(i + 1); i += 2
      } else { positional :+= args(i); i += 1 }
    }
    (flags, positional)
  }
}
