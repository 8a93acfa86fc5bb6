#!/usr/bin/env python3
"""Benchmark of the graft engine: one seeded client in a closed loop.

    python3 perfbench/run.py --workload scan --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark client from the sources of the
checkout it sits in (sbt, once per source state), runs one workload in a
JVM over Spark `local[nproc]`, checks every operation's output, and
prints two JSON lines: a report with the run shape and every metric of
the workload, then the result line whose metrics are the end-to-end
metrics of BENCHMARK.json (`--trace 0`) or its per-layer metrics
(`--trace 1`). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "work"
WORKLOADS = ("scan", "ingest", "mutate", "pipeline")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800
HEAP = "3g"

# Spark on JDK 17 needs these outside spark-submit (the engine build's list)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]

# every end-to-end metric the report prints, with its unit
REPORT_UNITS = {
    "setup_s": "s", "ops_per_s": "1/s", "op_p50_ms": "ms", "op_tail_ms": "ms",
    "failed_ratio": "ratio", "scan_mb_per_s": "MB/s", "read_p50_ms": "ms",
    "write_mb_per_s": "MB/s", "commit_p50_ms": "ms", "commit_tail_ms": "ms",
    "space_amp": "ratio", "heap_peak_mb": "MB", "pipeline_pass_s": "s",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def fingerprint():
    """Hash of every source and build file the client is built from."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build(deadline):
    """Compile engine + client with sbt; return the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no engine sources under {ROOT / 'src'}: run from a checkout of the repository")
    WORK.mkdir(exist_ok=True)
    cp_file, stamp = WORK / "classpath.txt", WORK / "classpath.stamp"
    fp = fingerprint()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == fp:
        return cp_file.read_text().strip()
    sbt = shutil.which("sbt") or fail("sbt not found on PATH")
    tmp = WORK / "tmp"
    tmp.mkdir(exist_ok=True)
    env = dict(os.environ)
    env["SBT_OPTS"] = f"{env.get('SBT_OPTS', '')} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    try:
        out = subprocess.run(
            [sbt, "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, env=env,
            stdin=subprocess.DEVNULL, timeout=max(60, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp.write_text(fp)
    return cp


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, args, run_dir, deadline):
    java = shutil.which("java") or fail("java not found on PATH")
    out = run_dir / "raw.json"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-Dspark.ui.enabled=false",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", str(run_dir), "--out", str(out),
           "--nproc", str(nproc()), "--corrupt", "1" if args.corrupt else "0"]
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    log = open(run_dir / "jvm.log", "w")
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL)
    try:
        rc = proc.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("workload run timed out")
    finally:
        log.close()
    if rc != 0 or not out.exists():
        sys.stderr.write((run_dir / "jvm.log").read_text()[-4000:])
        fail(f"workload run failed (exit {rc})")
    return json.loads(out.read_text())


# ---------------------------------------------------------------- checking

def canon(df):
    """Columns sorted by name, rows sorted, floats exact: the engine's
    oracle comparison (scripts/check.py) applied to one result."""
    import numpy as np
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            if isinstance(v, (float, np.floating)):
                v = float(v)
                row.append("NaN" if math.isnan(v) else v.hex())
            elif isinstance(v, np.ndarray):
                row.append(tuple(float(x).hex() if isinstance(x, (float, np.floating)) else str(x)
                                 for x in v.tolist()))
            else:
                row.append(str(v))
        rows.append(tuple(row))
    rows.sort()
    return list(df.columns), rows


def same_result(got_df, oracle_df):
    return canon(got_df) == canon(oracle_df)


def check_pipeline(raw, corrupt):
    """Compare each query's written result with its oracle SQL run by
    DuckDB on the same input tables; return the names that differ."""
    import duckdb
    inp, out = Path(raw["outputs"]["in"]), Path(raw["outputs"]["out"])
    oracle = json.loads((out / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute("PRAGMA threads=4")
    for t in sorted(p.name[:-len(".parquet")] for p in inp.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inp}/{t}.parquet/*.parquet')")
    bad = set()
    for name in sorted({o["name"] for o in raw["ops"]}):
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").df()
            if corrupt and not bad and len(got):
                got.iloc[0, 0] = None  # a deliberately wrong row the check must catch
            if name not in oracle:
                continue  # no oracle for this query: the run itself is the check
            if not same_result(got, con.execute(oracle[name]).df()):
                print(f"perfbench: {name}: result differs from its oracle", file=sys.stderr)
                bad.add(name)
        except Exception as e:  # a missing or unreadable result is a failure
            print(f"perfbench: {name}: {e}", file=sys.stderr)
            bad.add(name)
    return bad


# ---------------------------------------------------------------- metrics

def tail(xs):
    """The highest percentile with at least ten samples beyond it: the
    (n-10)th smallest of n, as (value, percentile, samples beyond). With
    fewer than 21 samples, the median."""
    s = sorted(xs)
    n = len(s)
    k = n - 10
    if k < math.ceil(n / 2):
        return statistics.median(s), 50.0, n - math.ceil(n / 2)
    return s[k - 1], round(100.0 * k / n, 1), n - k


def by_name(ops):
    out = {}
    for o in ops:
        out.setdefault(o["name"], []).append(o["ms"])
    return out


def end_to_end(raw):
    ops = [o for o in raw["ops"] if o["timed"]]
    ms = lambda kinds: [o["ms"] for o in ops if o["kind"] in kinds]
    rate = lambda kinds: (sum(o["bytes"] for o in ops if o["kind"] in kinds) / 1e6 /
                          (sum(ms(kinds)) / 1e3)) if ms(kinds) else None
    med = lambda xs: statistics.median(xs) if xs else None
    all_ms = [o["ms"] for o in ops]
    attempted = len(raw["ops"]) + len(raw["checks"])
    failed = sum(not o["ok"] for o in raw["ops"]) + sum(not c["ok"] for c in raw["checks"])
    tail_ms, tail_p, tail_n = tail(all_ms)
    commit = ms(("commit",))
    commit_tail = tail(commit) if commit else (None, None, 0)
    passes = {}
    for o in ops:
        if o["kind"] == "query":
            passes[o["pass"]] = passes.get(o["pass"], 0.0) + o["ms"] / 1e3
    wl = raw["workload"]
    m = {
        "setup_s": statistics.median(raw["setup_s"]),
        "ops_per_s": len(ops) / raw["window_s"],
        "op_p50_ms": med(all_ms),
        "op_tail_ms": tail_ms,
        "failed_ratio": failed / attempted,
        "scan_mb_per_s": rate(("read",)) if wl in ("scan", "mutate") else None,
        "read_p50_ms": med(ms(("read", "query"))),
        "write_mb_per_s": rate(("commit",)) if wl == "ingest" else None,
        "commit_p50_ms": med(commit),
        "commit_tail_ms": commit_tail[0],
        "space_amp": raw["space_amp"],
        "heap_peak_mb": raw["heap_peak_mb"],
        "pipeline_pass_s": med(list(passes.values())),
    }
    extra = {"op_tail_pct": tail_p, "op_tail_beyond": tail_n, "ops": len(ops),
             "commit_tail_pct": commit_tail[1], "commit_tail_beyond": commit_tail[2],
             "passes": len(passes),
             "probe_ms": raw["probe_ms"],
             "ms_by_op": {n: {"median": statistics.median(xs), "count": len(xs)}
                          for n, xs in sorted(by_name(ops).items())}}
    return m, extra, attempted, failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="alter one result before checking it (tests the checker)")
    args = ap.parse_args()
    start = time.time()
    spec_ = spec()
    cp = build(start + BUILD_LIMIT_S)
    deadline = time.time() + RUN_LIMIT_S - min(20, time.time() - start)
    run_dir = WORK / f"run-{args.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        raw = run_jvm(cp, args, run_dir, deadline)
        if args.workload == "pipeline":
            bad = check_pipeline(raw, args.corrupt)
            for o in raw["ops"]:
                if o["name"] in bad:
                    o["ok"] = False
    finally:
        # keep the last run's JVM log and spans; the rest is scratch
        for name, kept in (("jvm.log", "log"), ("spans.jsonl", "spans.jsonl")):
            if (run_dir / name).exists():
                shutil.copy(run_dir / name, WORK / f"last-{args.workload}.{kept}")
        shutil.rmtree(run_dir, ignore_errors=True)
    m, extra, attempted, failed = end_to_end(raw)
    shape = {k: raw[k] for k in ("workload", "seed", "nproc", "master", "shuffle_partitions",
                                 "clients", "loop", "load1_start", "trace", "window_s")}
    report = {"run": shape, **extra,
              "metrics": {k: {"value": v, "unit": REPORT_UNITS[k]} for k, v in m.items()}}
    if args.trace:
        layer = raw["layer"]
        report["layer"] = layer
        names = [(x["name"], x["unit"]) for x in spec_["per_layer"]]
        metrics = {n: {"value": layer.get(n, 0.0), "unit": u} for n, u in names}
    else:
        names = [(x["name"], x["unit"]) for x in spec_["end_to_end"]]
        metrics = {n: {"value": m[n], "unit": u} for n, u in names}
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
