#!/usr/bin/env python3
"""Benchmark runner: builds the engine with the harness, generates one
workload's inputs from the seed, runs the harness JVM, checks every
output, and prints the metrics named in BENCHMARK.json.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name|all> --seed <n> \
      --seconds <s> --trace <0|1>

With --trace 0 the last stdout line holds the end-to-end metrics; with
--trace 1 the per-layer metrics. Each workload's run record (inputs,
phases, all metrics, failures) is written to
.bench_build/records/<workload>.json as soon as it is known, flagged
"partial" until the run completes. Exit code 0 only when every output
matched. See perfbench/README.md for workloads and metric definitions.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))
import gen  # noqa: E402

QUERY_WORKLOADS = ("shuffle_heavy",)
RUN_LIMIT_S = 175      # a run must end within 180 s
BUILD_LIMIT_S = 700    # the first run in a checkout also builds

# Spark on JDK 17 outside spark-submit needs these opens (the engine's
# own build passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

_children = []


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _stop_children(*_):
    for p in _children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
    if _:
        sys.exit(1)


def _run(cmd, cwd, env, log, deadline, feed=None):
    """Run cmd in its own process group; kill the group at `deadline`.
    `feed(p, deadline)`, if given, runs while the process does; the
    process's stdin is a pipe for it to write to."""
    with open(log, "ab") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT,
                             stdin=subprocess.PIPE if feed else subprocess.DEVNULL,
                             start_new_session=True)
        _children.append(p)
        try:
            if feed:
                feed(p, deadline)
            return p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return None
        finally:
            _stop_children()
            _children.remove(p)


def load_tools_check():
    """The repository's own oracle checker, tools/check.py."""
    path = ROOT / "tools" / "check.py"
    if not path.is_file():
        fail(f"{path.relative_to(ROOT)} not found")
    spec = importlib.util.spec_from_file_location("tools_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_results(tc, in_dir, oracles):
    """{query: (canonical oracle frame, DuckDB column types), or an error
    string}, computed as tools/check.py does over the generated tables.
    """
    con = tc.duckdb.connect()
    # the JVM's check pass runs alongside on the other cores
    con.execute("SET threads=2")
    for p in glob.glob(os.path.join(in_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    want = {}
    for q, sql in oracles.items():
        try:
            want[q] = (tc.canon(con.sql(sql).df()), tc.duck_types(con, sql))
        except Exception as e:  # an oracle error fails the query
            want[q] = f"oracle SQL error: {e}"[:300]
    return want


def compare(tc, out_dir, queries, want):
    """{query: None if it matches its oracle, else a one-line reason}:
    tools/check.py's compare (columns sorted by name, the DECIMAL/HUGEINT
    dtype canary, then row count and strict value-and-dtype equality).
    """
    con = tc.duckdb.connect()
    result = {}
    for q in queries:
        # part files in name order keep an ordered result in order
        files = sorted(glob.glob(os.path.join(out_dir, q, "*.parquet")))
        w = want.get(q, "no oracle SQL")
        if isinstance(w, str):
            result[q] = w
            continue
        if not files:
            result[q] = "no spark output"
            continue
        sql = f"SELECT * FROM read_parquet({files!r})"
        got = tc.canon(con.sql(sql).df())
        frame, types = w
        if tc.decimal_canary(q, tc.duck_types(con, sql), types):
            result[q] = "decimal-dtype canary"
        elif list(got.columns) != list(frame.columns):
            result[q] = f"columns {list(got.columns)} != {list(frame.columns)}"
        elif len(got) != len(frame):
            result[q] = f"rows {len(got)} != {len(frame)}"
        else:
            result[q] = None if got.equals(frame) else "values differ"
    return result


def build(deadline):
    """Compile engine + harness once per source state; return classpath."""
    sources = ROOT / "src" / "main" / "scala"
    if not sources.is_dir():
        fail("engine sources (src/main/scala) not found next to perfbench/")
    files = sorted([*sources.rglob("*.scala"), *(HERE / "src").rglob("*.scala"),
                    HERE / "build.sbt", HERE / "project" / "build.properties"])
    fp = hashlib.sha256("\n".join(
        f"{f}:{f.stat().st_size}:{f.stat().st_mtime_ns}" for f in files)
        .encode()).hexdigest()
    stamp = BUILD / "build.json"
    if stamp.exists():
        s = json.loads(stamp.read_text())
        if s.get("fingerprint") == fp:
            return s["classpath"]
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log = BUILD / "build.log"
    rc = _run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
               "export Runtime/fullClasspath"], HERE, env, log, deadline)
    if rc != 0:
        fail(f"build failed (rc={rc}); see {log}")
    lines = [l for l in log.read_text(errors="replace").splitlines()
             if l.startswith("/") and ".jar" in l]
    if not lines:
        fail(f"no classpath in {log}")
    stamp.write_text(json.dumps({"fingerprint": fp, "classpath": lines[-1]}))
    return lines[-1]


def run_workload(wl, seed, seconds, trace, classpath, deadline, bench):
    work = BUILD / "runs" / f"{wl}-s{seed}-t{trace}"
    shutil.rmtree(work, ignore_errors=True)
    indir = work / "in"
    indir.mkdir(parents=True)
    gen.generate(wl, seed, str(indir))
    inputs = gen.describe(wl, str(indir))
    (indir / "inputs.json").write_text(json.dumps(inputs))
    for d in ("tmp", "warehouse"):
        (BUILD / d).mkdir(exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    records = BUILD / "records"
    records.mkdir(exist_ok=True)
    record_file = records / f"{wl}.json"
    cmd = [java, *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           # a fixed heap: G1 sizes its young generation from the start
           # instead of from each run's resizing history
           "-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={BUILD / 'tmp'}",
           f"-Dspark.local.dir={BUILD / 'tmp'}",
           f"-Dspark.sql.warehouse.dir={BUILD / 'warehouse'}",
           "-cp", classpath, "perfbench.Main",
           "--workload", wl, "--in", str(indir), "--work", str(work),
           "--seconds", str(seconds), "--trace", str(trace),
           "--cores", str(cores), "--seed", str(seed),
           "--record", str(record_file), "--launched", str(time.time_ns())]
    out = work / "out"
    tc = load_tools_check() if wl in QUERY_WORKLOADS else None
    want = {}

    def oracle_side(p, deadline):
        # The oracle needs ~15 s, so it runs while the JVM's untimed check
        # pass does; the JVM reads a line from stdin before its timed
        # passes, so they never share the machine with it.
        sql_file = out / "oracle_sql.json"
        while not sql_file.exists() and p.poll() is None and time.time() < deadline:
            time.sleep(0.05)
        try:
            if sql_file.exists():
                want.update(oracle_results(tc, str(indir),
                                           json.loads(sql_file.read_text())))
        finally:  # a missing oracle fails its query; the JVM must go on
            try:
                p.stdin.write(b"\n")
                p.stdin.close()
            except OSError:
                pass

    rc = _run(cmd, ROOT, env, work / "jvm.log", deadline,
              oracle_side if tc else None)
    record = json.loads(record_file.read_text()) if record_file.exists() \
        else {"partial": True}
    record["exit_code"] = rc
    if tc and rc == 0:
        verdicts = compare(tc, str(out), record["queries"], want)
        bad = {q: v for q, v in verdicts.items() if v is not None}
        record["oracle"] = {"compared": len(verdicts), "mismatched": bad}
        record["failed"] = record.get("failed", 0) + len(bad)
        record.setdefault("failures", []).extend(
            f"{q} oracle: {v}" for q, v in sorted(bad.items()))
    record_file.write_text(json.dumps(record, indent=1))

    names = bench["per_layer" if trace else "end_to_end"]
    have = record.get("layers" if trace else "metrics", {})
    metrics = {}
    for m in names:
        v = have.get(m["name"], {}).get("value")
        if v is None and trace:
            v = 0.0  # a layer this workload does not exercise
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    attempted = int(record.get("attempted", 0))
    failed = int(record.get("failed", 0))
    complete = (rc == 0 and not record.get("partial", True) and attempted >= 1
                and all(isinstance(x["value"], (int, float))
                        and math.isfinite(x["value"]) for x in metrics.values()))
    for name, x in metrics.items():
        samples = have.get(name, {}).get("samples", "")
        print(f"{wl:15s} {name:42s} {x['value']!s:>24} {x['unit']:6s} {samples}")
    if failed or not complete:
        for f in record.get("failures", [])[:20]:
            print(f"{wl}: FAILED {f}", file=sys.stderr)
        if not complete:
            print(f"{wl}: incomplete run (exit {rc}); record: {record_file}",
                  file=sys.stderr)
    return complete, {"correct": complete and failed == 0,
                      "attempted": max(attempted, 1), "failed": failed,
                      "metrics": metrics}


def main():
    bench_file = ROOT / "BENCHMARK.json"
    if not bench_file.exists():
        fail("BENCHMARK.json not found at the repository root")
    bench = json.loads(bench_file.read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    known = [w["name"] for w in bench["workloads"]]
    wls = known if args.workload == "all" else [args.workload]
    if any(w not in known for w in wls):
        fail(f"unknown workload {args.workload}; one of {known} or all")
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)

    classpath = build(time.time() + BUILD_LIMIT_S)
    results = {}
    for wl in wls:
        # the run limit counts from here: the build has its own
        complete, results[wl] = run_workload(
            wl, args.seed, args.seconds, args.trace, classpath,
            time.time() + RUN_LIMIT_S - 10, bench)
        if not complete and len(wls) == 1:
            sys.exit(1)
    if len(wls) == 1:
        line = results[wls[0]]
    else:
        line = {"correct": all(r["correct"] for r in results.values()),
                "attempted": sum(r["attempted"] for r in results.values()),
                "failed": sum(r["failed"] for r in results.values()),
                "metrics": {f"{w}.{k}": v for w, r in results.items()
                            for k, v in r["metrics"].items()}}
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
