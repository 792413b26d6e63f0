package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.cli.{GraftConfig, ReloadSpec}

/** YAML-subset config parsing + env fallback (reference config semantics:
  * pgwarehouse.py:52-58, 200-211).
  */
class ConfigSpec extends AnyFunSuite {

  test("nested parse with comments, quotes, and table options") {
    val cfg = GraftConfig.fromYaml(
      """# comment
        |source:
        |  dir: /src
        |  max_records: 500
        |warehouse:
        |  dir: "/wh"
        |tables:
        |  events:
        |    primary_key: event_id
        |    last_modified: ts
        |  parks:
        |    reload: true
        |  ignored:
        |    skip: true
        |""".stripMargin, env = Map.empty)
    assert(cfg.sourceDir == "/src")
    assert(cfg.warehouseDir == "/wh")
    assert(cfg.maxRecords.contains(500L))
    assert(cfg.dataDir == "/wh/_data", "data dir defaults under warehouse")
    assert(cfg.tables.keys.toSeq == Seq("events", "parks", "ignored"),
      "table order preserved")
    val ev = cfg.tables("events")
    assert(ev.primaryKey.contains("event_id") && ev.lastModified.contains("ts"))
    assert(ev.pks == Seq("event_id") && cfg.tables("parks").pks.isEmpty)
    assert(cfg.tables("parks").reload == ReloadSpec.Always)
    assert(cfg.tables("ignored").skip)
  }

  test("boolean flags accept canonical YAML capitalization: skip: True " +
    "must skip (silently syncing a skip-configured table is the worst " +
    "failure mode)") {
    val cfg = GraftConfig.fromYaml(
      """source:
        |  dir: /src
        |warehouse:
        |  dir: /wh
        |tables:
        |  a:
        |    skip: True
        |  b:
        |    skip: TRUE
        |  c:
        |    skip: Yes
        |""".stripMargin, env = Map.empty)
    assert(cfg.tables.values.forall(_.skip),
      s"capitalized booleans must parse: ${cfg.tables}")
  }

  test("a trailing --flag with no value is a loud usage error, not a " +
    "silent positional (snapshot t --vacuum must never PUBLISH)") {
    val (flags, pos) = graft.cli.Main.parseArgs(
      Array("snapshot", "t", "--vacuum", "2"))
    assert(flags == Map("vacuum" -> "2") && pos == Seq("snapshot", "t"))
    intercept[IllegalArgumentException] {
      graft.cli.Main.parseArgs(Array("snapshot", "t", "--vacuum"))
    }
  }

  test("env fallback fills missing keys; config wins when both present") {
    val env = Map("GRAFT_SOURCE_DIR" -> "/env/src",
      "GRAFT_WAREHOUSE_DIR" -> "/env/wh", "GRAFT_MAX_RECORDS" -> "9")
    val cfg = GraftConfig.fromYaml("source:\n  dir: /cfg/src\n", env)
    assert(cfg.sourceDir == "/cfg/src", "config beats env")
    assert(cfg.warehouseDir == "/env/wh", "env fills the gap")
    assert(cfg.maxRecords.contains(9L))
  }

  test("missing mandatory dirs fail loudly") {
    intercept[IllegalArgumentException] {
      GraftConfig.fromYaml("tables:\n  t:\n    reload: true\n", env = Map.empty)
    }
  }

  test("the init template itself parses to clean values (inline comments stripped)") {
    val cfg = GraftConfig.fromYaml(GraftConfig.template, env = Map.empty)
    assert(cfg.sourceDir == "/path/to/source/parquet",
      "trailing '# or env ...' comment must not leak into the value")
    assert(cfg.warehouseDir == "/path/to/warehouse/parquet")
    assert(cfg.tables.contains("events"))
    // an inline comment after a numeric value must not break parsing
    val c2 = GraftConfig.fromYaml(
      "source:\n  dir: /s\n  max_records: 10000 # cap\nwarehouse:\n  dir: /w\n",
      env = Map.empty)
    assert(c2.maxRecords.contains(10000L))
    // '#' inside a double-quoted value is literal, as in YAML
    val c3 = GraftConfig.fromYaml(
      "source:\n  dir: \"/data/run #1\"\nwarehouse:\n  dir: /w\n",
      env = Map.empty)
    assert(c3.sourceDir == "/data/run #1")
  }

  // --- the three documented `reload:` forms (reference README.md:211-215) ---

  private def reloadOf(value: String) = GraftConfig.fromYaml(
    s"source:\n  dir: /s\nwarehouse:\n  dir: /w\ntables:\n  t:\n    reload: $value\n",
    env = Map.empty).tables("t").reload

  test("reload: true / false parse to Always / Never") {
    assert(reloadOf("true") == ReloadSpec.Always)
    assert(reloadOf("yes") == ReloadSpec.Always)
    assert(reloadOf("false") == ReloadSpec.Never)
  }

  test("reload: [sun,mon,thur] parses to a weekday schedule") {
    import java.time.DayOfWeek._
    assert(reloadOf("[sun,mon,thur]") ==
      ReloadSpec.OnDays(Set(SUNDAY, MONDAY, THURSDAY)))
    // a bare day name (no brackets) is accepted too
    assert(reloadOf("sun") == ReloadSpec.OnDays(Set(SUNDAY)))
    // schedule applies exactly on the named weekday
    val sunday = java.time.LocalDate.of(2026, 8, 16) // a Sunday
    assert(reloadOf("[sun]").applies(sunday))
    assert(!reloadOf("[sun]").applies(sunday.plusDays(1)))
  }

  test("reload: <1-31> parses to a day-of-month schedule") {
    assert(reloadOf("15") == ReloadSpec.OnDayOfMonth(15))
    val d15 = java.time.LocalDate.of(2026, 8, 15)
    assert(reloadOf("15").applies(d15))
    assert(!reloadOf("15").applies(d15.plusDays(1)))
    intercept[IllegalArgumentException] { reloadOf("32") }
    intercept[IllegalArgumentException] { reloadOf("0") }
  }

  test("unrecognized reload values are rejected, never silently degraded") {
    // the reference's own code drops these to a plain upsert
    // (pgwarehouse.py:181 tests `== True`); we fail loudly instead
    intercept[IllegalArgumentException] { reloadOf("sometimes") }
    intercept[IllegalArgumentException] { reloadOf("[sun,noday]") }
  }

  test("the toy 4m advisory size is for local[...] masters only: " +
       "local-cluster[...] simulates a cluster and gets the scale-safe 64m") {
    if (!sys.env.contains("SPARK_GRAFT_ADVISORY_SIZE")) {
      assert(LocalSession.advisorySizeFor("local[4]") == "4m")
      assert(LocalSession.advisorySizeFor("local[*]") == "4m")
      assert(LocalSession.advisorySizeFor("local-cluster[2,1,1024]") == "64m")
    }
  }
}
