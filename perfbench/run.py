#!/usr/bin/env python3
"""The repo benchmark: one run of one workload, printed as one JSON line.

    python3 perfbench/run.py --workload sync_bulk --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The first run builds the engine
and the harness (`perfbench/harness`, an sbt build that depends on the
engine at the root) and caches the classpath under `perfbench/.build`;
later runs reuse it until a source file changes.

Each run generates its inputs from `--seed` (`perfbench/gen.py`) into a
scratch directory under `perfbench/.work`, launches one JVM that runs the
workload for `--seconds` of timed work (`graftbench.Main`), checks every
op's output, removes the scratch directory and prints, as its last line,
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end metrics of BENCHMARK.json; with `--trace 1` the
per-layer ones, plus the tracing overhead against an untraced run of the
same seed (run first when this checkout has no such result). The line
before it is a detail record: environment, failure causes, per-cycle
samples. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(HERE, ".build")
RESULTS = os.path.join(HERE, ".results")
RUN_LIMIT_S = 170

sys.path.insert(0, HERE)
import gen  # noqa: E402  (the seeded input generator beside this file)

WHY = {
    "sync_bulk": "full reloads of two tables to the parquet and DuckDB warehouses: "
                 "the CSV encode/parse, parquet rewrite and COPY throughput path",
    "sync_incremental": "cron ticks landing ~1% deltas (append + skewed upserts) synced "
                        "to both warehouses: per-call fixed costs, watermarks, merges",
    "sync_tick": "the sync_incremental ticks without the DuckDB upsert sync, which lands "
                 "stale versions: parquet append + upsert and DuckDB append",
    "query_mix": "flagship queries of each operator family in warm interleaved passes: "
                 "planning, codegen and task CPU with no sync I/O",
}
# generated input size per workload (scale factor of the engine's corpus;
# sf 0.1 = 600k lineitem rows)
SF = {"sync_bulk": gen.BULK_TABLES, "sync_incremental": 0.02, "sync_tick": 0.02,
      "query_mix": 0.01}
# deltas generated for the sync tick workloads: enough for the harness's
# 5 warm-up ticks plus the 40 timed ticks of a 60 s run (1.5 s nominal)
TICKS = 48
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an edited checkout rebuilds."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
                   + glob.glob(os.path.join(HARNESS, "src", "main", "**", "*"), recursive=True)
                   + [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt"),
                      os.path.join(ROOT, "project", "build.properties"),
                      os.path.join(HARNESS, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + harness once per source state; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"engine sources not found under {ROOT}: run from a full source checkout")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                         HARNESS, sbt_env(), out, 840)
    written = os.path.join(HARNESS, "target", "bench.classpath")
    if rc != 0 or not os.path.isfile(written):
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"build failed (exit {rc}); log tail:\n{tail}")
    shutil.copyfile(written, cp_file)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def run_bounded(cmd, cwd, env, out, timeout_s):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so no process outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def generate(workload, seed, work):
    """Inputs for one run; returns the properties the harness reads."""
    sf = SF[workload]
    if workload == "sync_bulk":
        m = gen.bulk_sources(os.path.join(work, "src"), seed)
        return dict({f"bytes.{t}": v["bytes"] for t, v in m.items()}, tables=",".join(m))
    if workload in ("sync_incremental", "sync_tick"):
        ticks = gen.incremental_sources(os.path.join(work, "src"), os.path.join(work, "deltas"),
                                        sf, seed, ticks=TICKS)
        props = {"ticks": len(ticks)}
        for k, t in enumerate(ticks):
            for table, d in t.items():
                props[f"delta_rows.{k}.{table}"] = d["rows"]
                props[f"delta_bytes.{k}.{table}"] = d["bytes"]
        return props
    return {"corpus_bytes": gen.corpus(os.path.join(work, "corpus"), sf, seed)}


def jvm(workload, seed, seconds, trace, cp, work, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, f"result-{trace}.json")
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xmx3g", "-Xmn512m", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
              f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graftbench.Main",
              "--workload", workload, "--seconds", str(seconds), "--trace", str(trace),
              "--work", work, "--out", out])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    log = os.path.join(work, f"jvm-{trace}.log")
    with open(log, "w") as f:
        rc = run_bounded(cmd, work, env, f, max(10, deadline - time.time()))
    if rc != 0 or not os.path.isfile(out):
        with open(log) as f:
            tail = f.read()[-4000:]
        fail(f"{workload} run failed (exit {rc}); log tail:\n{tail}")
    with open(out) as f:
        res = json.load(f)
    if os.path.isfile(out + ".spans.json"):
        os.makedirs(RESULTS, exist_ok=True)
        res["spans_file"] = os.path.join(RESULTS, f"{workload}-{seed}-spans.json")
        shutil.copyfile(out + ".spans.json", res["spans_file"])
    return res


def oracle_check(work, res, deadline):
    """query_mix: compare each dumped result with the DuckDB oracle SQL via
    the engine's own checker (tools/check.py). A query that fails fails
    every timed op of it."""
    corpus, verify = os.path.join(work, "corpus"), res["verify_dir"]
    log = os.path.join(work, "check.log")
    with open(log, "w") as f:
        rc = run_bounded([sys.executable, os.path.join(ROOT, "tools", "check.py"), corpus, verify],
                         work, dict(os.environ), f, max(10, deadline - time.time()))
    with open(log) as f:
        lines = f.read().splitlines()
    passed = {ln.split()[1] for ln in lines if ln.startswith("PASS ")}
    fails = {}
    for q in res["mix"]:
        if q not in passed:
            why = next((ln for ln in lines if ln.startswith(f"FAIL {q}:")),
                       f"FAIL {q}: no oracle verdict (check.py exit {rc})")
            fails[q] = why
    for q, why in fails.items():
        res["failed"] += res["ops_per_query"]
        res["causes"][f"oracle check: {why}"] = res["ops_per_query"]
    # ops that failed their own count check are not failed twice
    res["failed"] = min(res["failed"], res["attempted"])
    return fails


def environment(res, cp):
    duck = next((p for p in cp.split(os.pathsep) if "duckdb_jdbc" in p), None)
    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                 text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            sha = None
    return {
        "nproc": os.cpu_count(), "master": res.get("master"),
        "heap_max_mb": res.get("heap_max_mb"),
        "spark_conf": res.get("spark_conf"),
        "env_knobs": {k: v for k, v in sorted(os.environ.items())
                      if k.startswith(("SPARK_GRAFT_", "GRAFT_"))},
        "git_sha": sha or "unknown (not a git checkout)",
        "duckdb_jar": duck,
    }


def main():
    ap = argparse.ArgumentParser(description="graft repo benchmark (one run)")
    ap.add_argument("--workload", required=True, choices=sorted(WHY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t0 = time.time()
    deadline = t0 + RUN_LIMIT_S
    load0 = os.getloadavg()[0]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build()
    deadline = max(deadline, time.time() + 150)  # a first run's build is not run time

    def one(trace):
        work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{trace}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            g0 = time.time()
            props = generate(a.workload, a.seed, work)
            gen_s = time.time() - g0
            with open(os.path.join(work, "inputs.properties"), "w") as f:
                f.writelines(f"{k}={v}\n" for k, v in props.items())
            res = jvm(a.workload, a.seed, a.seconds, trace, cp, work, deadline)
            res["gen_s"] = gen_s
            res["oracle_failures"] = (oracle_check(work, res, deadline)
                                      if a.workload == "query_mix" else {})
            return res
        finally:
            shutil.rmtree(work, ignore_errors=True)

    os.makedirs(RESULTS, exist_ok=True)
    cached = os.path.join(RESULTS, f"{a.workload}-{a.seed}-{a.seconds:g}-trace0.json")
    base = None
    if a.trace == 1 and os.path.isfile(cached):
        with open(cached) as f:
            base = json.load(f)["end_to_end"]
    res = one(a.trace)
    if a.trace == 0:
        with open(cached, "w") as f:
            json.dump(res, f)

    if a.trace == 0:
        metrics = {m["name"]: {"value": res["end_to_end"][m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    else:
        layer = dict(res["per_layer"], **{"harness.gen_s": res["gen_s"]})
        for m, v in res["end_to_end"].items():
            layer[f"overhead.{m}"] = v - base[m] if base else 0.0
        listed = a.workload in {w["name"] for w in spec["workloads"]}
        metrics = ({m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in spec["per_layer"]} if listed else
                   {k: {"value": v, "unit": "s" if k.endswith("_s") else "count"}
                    for k, v in layer.items()})
    detail = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "why": WHY[a.workload], "scale_factor": SF[a.workload],
        "error_rate": res["failed"] / max(1, res["attempted"]),
        "failure_causes": res["causes"], "cycles_s": res["cycles"],
        "tick_tail_pct": res["tick_tail_pct"],
        "tracing_overhead": ({m: res["end_to_end"][m] - base[m] for m in base} if base else
                             "no untraced run of this seed in this checkout: run --trace 0 first"),
        "extra": {k: v for k, v in res.items() if k not in (
            "end_to_end", "per_layer", "spark_conf", "causes", "cycles", "attempted",
            "failed", "tick_tail_pct", "master", "heap_max_mb")},
        "env": dict(environment(res, cp), load1_start=load0, load1_end=os.getloadavg()[0],
                    wall_s=time.time() - t0),
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
