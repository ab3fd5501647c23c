#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pipeline_hourly --seed 1 --seconds 30 --trace 0

Builds the program and the harness from source with sbt on first use
(cached under .bench_build/ by a hash of the sources), generates the
workload's inputs from --seed, runs the harness JVM on local[4], checks
every operation's output, and prints one line per metric followed by a
JSON object as the last line of stdout.  --trace 1 makes a separate run
with the tracer attached and prints the per-layer metrics instead.
"""

import argparse
import decimal
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
sys.path.insert(0, HERE)

import gen    # noqa: E402
import stats  # noqa: E402

CACHE = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
BUILD_DEADLINE_S = 700  # a first run in a fresh checkout may take 900 s
DEADLINE_S = 170        # everything after the build
BASELINE_ROWS_PER_S = 10_000 / 60.0  # BASELINE.md: ~10,000 Silver records/min

JVM_OPTS = ["-Xms2g", "-Xmx3g", "-XX:SoftRefLRUPolicyMSPerMB=0", "-Dspark.ui.enabled=false"] + [
    a for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io",
                "java.base/java.net", "java.base/java.nio",
                "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                "java.base/sun.security.action", "java.base/sun.util.calendar")
    for a in ("--add-opens", p + "=ALL-UNNAMED")]

# Metric names, units and order come from the benchmark declaration, so
# the printed set is exactly the declared one (a missing metric raises).
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    DECLARED = json.load(_f)


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


# ---- build ---------------------------------------------------------------

def source_hash():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HARNESS, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Harness runtime classpath, building first when sources changed."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("no program sources at %s; run from a full checkout" % need)
    stamp = source_hash()
    cp_file = os.path.join(CACHE, "classpath-" + stamp)
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(CACHE, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(CACHE, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_DEADLINE_S).returncode
        except subprocess.TimeoutExpired:
            fail("build exceeded %d s, see %s" % (BUILD_DEADLINE_S, log))
    with open(log) as f:
        lines = [l.strip() for l in f if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not lines:
        fail("build failed, see " + log)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


# ---- run -----------------------------------------------------------------

def generate(workload, seed):
    out = os.path.join(CACHE, "input", workload)
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    gen.build(workload, seed, out, gen.utc_midnight_us())
    return out, time.perf_counter() - t0


def harness(cp, workload, inputs, trace, budget):
    work = os.path.join(CACHE, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    cmd = (["java"] + JVM_OPTS +
           ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
            "-cp", cp, "perfbench.Main", workload, inputs, work,
            str(trace), result])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        env = dict(os.environ)
        env.pop("SPARK_LOCAL_DIRS", None)  # keep Spark's scratch in the checkout
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            rc = None
        finally:  # also on SIGTERM (see main): never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc is None:
        fail("harness exceeded %.0f s, see %s" % (budget, log))
    if rc != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("harness exited with %d, see %s" % (rc, log))
    with open(result) as f:
        return json.load(f)


# ---- query output check ---------------------------------------------------

def canonical(rel):
    """Column names and rows of a DuckDB relation, in an order-insensitive
    form: columns sorted by name, rows sorted, decimals as floats."""
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(float(v) if isinstance(v, decimal.Decimal) else v
                  for v in (row[i] for i in order)) for row in rel.fetchall()]
    rows.sort(key=lambda row: tuple((v is None, str(type(v)), str(v)) for v in row))
    return [cols[i] for i in order], rows


def check_queries(r, inputs):
    """Compare every query operation's parquet output with the query's
    DuckDB oracle over the same events: column names, row count and an
    order-insensitive hash of the rows. A mismatch fails the operation."""
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM read_parquet('%s')"
                % os.path.join(inputs, "events.parquet"))
    want = {}
    for name, sql in r["oracle"].items():
        cols, rows = canonical(con.sql(sql))
        want[name] = (cols, len(rows), hashlib.sha256(repr(rows).encode()).hexdigest())
    for o in r["ops"]:
        if "query" not in o or not o["ok"]:
            continue
        cols, rows = canonical(con.sql("SELECT * FROM read_parquet('%s')"
                                       % os.path.join(o["dir"], "*.parquet")))
        got = (cols, len(rows), hashlib.sha256(repr(rows).encode()).hexdigest())
        o["rows"] = len(rows)
        if got != want[o["query"]]:
            o["ok"] = False
            r["failures"].append("%s: columns %s, %d rows, hash %s (want %s, %d rows, hash %s)"
                                 % ((o["query"],) + got + want[o["query"]]))
    con.close()


# ---- metrics -------------------------------------------------------------

def end_to_end(workload, r, gen_s):
    ops = [o for o in r["ops"] if o["measured"]]
    primary = [o for o in ops if o["kind"] != "replay"]
    replays = [o for o in ops if o["kind"] == "replay"]
    n = {"op_p50_s": len(primary), "replay_s": len(replays)}
    if workload == "query_suite":
        # The four silver_* queries together do the pipeline's Silver stage:
        # clean, enrich and the two aggregates. A replay pass re-runs them
        # over the same input, the twin of an idempotent Pipeline.run.
        silver = [o for o in ops if o["query"].startswith("silver_")]
        k = sum(1 for q in r["oracle"] if q.startswith("silver_"))
        passes = [silver[i:i + k] for i in range(0, len(silver), k)]
        rows = max((o.get("rows", 0) for o in ops if o["query"] == "silver_clean"), default=0)
        rates = [rows / sum(o["s"] for o in p) for p in passes if all(o["ok"] for o in p)]
        wall = sum(o["s"] for o in ops)
        replay = stats.median([sum(o["s"] for o in p) for p in passes[1:]])
        n["replay_s"] = len(passes) - 1
    else:
        rates = [o["silver_rows"] / o["silver_stage_s"]
                 for o in primary if o["ok"] and o["silver_stage_s"] > 0]
        wall = sum(o["s"] for o in primary)
        replay = stats.median([o["s"] for o in replays])
    n["silver_rows_per_s"] = len(rates)
    m = {"setup_s": gen_s + r["session_s"] + r["warmup_s"],
         "wall_s": wall,
         "op_p50_s": stats.median([o["s"] for o in primary]),
         "replay_s": replay,
         "silver_rows_per_s": stats.median(rates) if rates else 0.0,
         "storage_bytes_per_input_byte": r["storage_bytes"] / r["landed_bytes"],
         "heap_retained_mb": r["heap_retained_mb"]}
    return m, n


def per_layer(r):
    """Medians over the run's steady operations (ticks or queries) of each
    layer metric they report; `cold.*` and `replay.*` from the cold run and
    the replay. A layer the workload does not exercise reads 0."""
    ops = [o for o in r["ops"] if o["measured"] and o["ok"]]
    steady = [o["layers"] for o in ops if o["kind"] in ("tick", "query")]
    m = {d["name"]: 0.0 for d in DECLARED["per_layer"]}
    n = {k: 0 for k in m}
    for k in {k for l in steady for k in l}:
        vs = [l[k] for l in steady if k in l]
        m[k], n[k] = stats.median(vs), len(vs)
    for name, kind, k in (("cold.bronze_ingest_s", "cold", "bronze.ingest_s"),
                          ("cold.silver_s", "cold", "silver.s"),
                          ("cold.gold_load_s", "cold", "gold.load_s"),
                          ("cold.gold_rows_loaded", "cold", "gold.rows_loaded"),
                          ("replay.silver_s", "replay", "silver.s"),
                          ("replay.gold_load_s", "replay", "gold.load_s")):
        runs = [o["layers"][k] for o in ops if o["kind"] == kind and k in o["layers"]]
        if runs:
            m[name], n[name] = stats.median(runs), len(runs)
    m["scheduler.ticks_fired"] = r["ticks_fired"]
    m["scheduler.ticks_skipped"] = r["ticks_skipped"]
    m["jvm.gc_s"] = r["gc_s"]
    n.update({"scheduler.ticks_fired": 1, "scheduler.ticks_skipped": 1, "jvm.gc_s": 1})
    return m, n


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    p.add_argument("--seed", type=int, required=True)
    # every run does the workload's fixed amount of work (17-30 s of
    # measured operations) so that runs compare; --seconds is not a knob
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = classpath()
    t_start = time.monotonic()
    inputs, gen_s = generate(a.workload, a.seed)
    budget = DEADLINE_S - (time.monotonic() - t_start)
    r = harness(cp, a.workload, inputs, a.trace, budget)
    if a.workload == "query_suite":
        check_queries(r, inputs)

    measured = [o for o in r["ops"] if o["measured"]]
    failed = sum(1 for o in measured if not o["ok"])
    correct = not r["failures"] and all(o["ok"] for o in r["ops"])
    for f in r["failures"]:
        print("check failed: " + f)
    print("output check: %s (%d of %d operations failed; ops_failed_ratio %.4f)"
          % ("pass" if correct else "FAIL", failed, len(measured),
             failed / len(measured)))

    last = os.path.join(CACHE, "last_untraced_%s.json" % a.workload)
    if a.trace == 0:
        metrics, counts = end_to_end(a.workload, r, gen_s)
        declared = DECLARED["end_to_end"]
        for d in declared:
            k = d["name"]
            print("%-30s %14.4f %-6s n=%d" % (k, metrics[k], d["unit"], counts.get(k, 1)))
        ops = [o["s"] for o in measured if o["kind"] != "replay"]
        t = stats.tail(ops)
        print("op tail: " + ("p%d = %.4f s (n=%d)" % (t[0], t[1], len(ops)) if t else
                             "n/a, needs more than 10 operations (n=%d)" % len(ops)))
        print("silver_rows_per_s vs BASELINE ~10,000 rows/min (%.0f rows/s): %.1fx"
              % (BASELINE_ROWS_PER_S, metrics["silver_rows_per_s"] / BASELINE_ROWS_PER_S))
        with open(last, "w") as f:
            json.dump({"seed": a.seed, "wall_s": metrics["wall_s"]}, f)
        out = {d["name"]: {"value": metrics[d["name"]], "unit": d["unit"]} for d in declared}
    else:
        metrics, n = per_layer(r)
        declared = DECLARED["per_layer"]
        for d in declared:
            print("%-34s %16.4f %-6s n=%d" % (d["name"], metrics[d["name"]], d["unit"], n[d["name"]]))
        traced_wall, _ = end_to_end(a.workload, r, gen_s)
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)
            print("tracing overhead: traced wall_s %.3f - untraced wall_s %.3f "
                  "(seed %d) = %+.3f s"
                  % (traced_wall["wall_s"], base["wall_s"], base["seed"],
                     traced_wall["wall_s"] - base["wall_s"]))
        else:
            print("tracing overhead: traced wall_s %.3f; no untraced run of this "
                  "workload recorded in this checkout yet" % traced_wall["wall_s"])
        out = {d["name"]: {"value": metrics[d["name"]], "unit": d["unit"]} for d in declared}
    print(json.dumps({"correct": correct, "attempted": len(measured),
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
