#!/usr/bin/env python3
"""Benchmark driver: CDC backfill, live tail and query mix.

    python3 perfbench/run.py --workload <cdc|query_mix>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library together
with the benchmark's Scala driver (sbt, in this directory); later runs reuse
the build while the sources are unchanged. Each run starts one JVM, which
sets up, runs an untimed warm pass, measures for --seconds and checks its
output; the query mix is also checked against its DuckDB oracle here, after
the JVM exits. The last line of stdout is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json when untraced, its per-layer metrics when traced. Spans are
kept under .work/traces/ and each run's JVM log under .work/logs/. A run
whose output fails a check prints its result and exits 1; a run that cannot
produce a result exits 1 without one.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
QUERY_SCALE = 0.01
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


T0 = time.perf_counter()


def note(msg):
    print(f"perfbench: {time.perf_counter() - T0:7.2f}s {msg}", file=sys.stderr)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (LIB_SRC, os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isdir(LIB_SRC):
        fail(f"library sources not found under {os.path.relpath(LIB_SRC)}")
    if "SPARK_HOME" not in os.environ:
        fail("SPARK_HOME is not set")
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1].strip()


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found at the repository root")
    with open(path) as fh:
        return json.load(fh)


def gen_tables(out, seed):
    """Generate the query tables three times; returns the three wall times."""
    sys.path.insert(0, HERE)
    import tables
    times = []
    for _ in range(3):
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        tables.generate(out, seed, QUERY_SCALE)
        times.append(time.perf_counter() - t0)
    return times


def oracle_mismatches(data, results, names, oracle_sql):
    """Compare each query's written result with its DuckDB oracle, as the
    repository's verify_local.py does: same columns, same row count, equal
    values under sorted columns and rows."""
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")

    def canon(df, cols):
        out = df[cols].copy()
        for c in cols:
            out[c] = out[c].map(lambda v: tuple(v.tolist()) if hasattr(v, "tolist")
                                and getattr(v, "ndim", 0) >= 1 else v)
        return out.sort_values(by=cols).reset_index(drop=True)

    bad = []
    for name in names:
        try:
            want = con.execute(oracle_sql[name]).fetchdf()
            got = con.execute(f"SELECT * FROM '{results}/{name}/*.parquet'").fetchdf()
        except Exception as e:  # a missing result or a broken oracle both fail the check
            bad.append(f"{name}: {str(e)[:200]}")
            continue
        cols = sorted(want.columns)
        if cols != sorted(got.columns) or len(want) != len(got):
            bad.append(f"{name}: shape {sorted(got.columns)}x{len(got)} != {cols}x{len(want)}")
            continue
        w, g = canon(want, cols), canon(got, cols)
        for c in cols:
            diff = next((i for i, (a, b) in enumerate(zip(w[c].tolist(), g[c].tolist()))
                         if not (a is None and b is None)
                         and not (isinstance(a, float) and isinstance(b, float)
                                  and (a == b or (math.isnan(a) and math.isnan(b))))
                         and not (not isinstance(a, float) and str(a) == str(b))), None)
            if diff is not None:
                bad.append(f"{name}: column {c} row {diff}: oracle {w[c][diff]!r} spark {g[c][diff]!r}")
                break
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    bench = spec()
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {a.workload}")
    cp = build()

    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        extra = []
        if a.workload == "query_mix":
            data = os.path.join(work, "data")
            prep = gen_tables(data, a.seed)
            note("tables generated")
            extra = ["--data", data, "--prep-s", ",".join(f"{t:.6f}" for t in prep)]
        cmd = (["java", "-Xmx3g"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main",
                  "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--work", work] + extra)
        with open(os.path.join(work, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
                fail("run timed out")
        note("JVM exited")
        os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
        shutil.copy(os.path.join(work, "jvm.log"),
                    os.path.join(WORK, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log"))
        line = next((l for l in reversed(out.splitlines()) if l.startswith("PERFBENCH_RESULT ")), None)
        if proc.returncode != 0 or line is None:
            sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
            fail(f"JVM exited with {proc.returncode} and no result")
        res = json.loads(line[len("PERFBENCH_RESULT "):])

        errors = list(res["errors"])
        failed = res["failed"]
        if a.workload == "query_mix":
            with open(os.path.join(work, "oracle_sql.json")) as fh:
                oracle_sql = json.load(fh)
            bad = oracle_mismatches(data, os.path.join(work, "results"),
                                    sorted(oracle_sql), oracle_sql)
            errors += bad
            failed += len(bad)
            note("oracle compared")
        if a.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "trace.jsonl"),
                        os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
    if missing:
        fail(f"metrics not produced: {missing}")
    metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]} for m in wanted}
    correct = bool(res["correct"]) and failed == 0 and not errors
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
