#!/usr/bin/env python3
"""Benchmark of the GTFS pipeline library: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark from source (build.py), starts one
JVM that generates the workload's inputs from the seed, measures for the
given seconds and checks the outputs, then prints every metric by name and
unit, and as its last line one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 1 the metrics are the per-layer ones and the spans are kept
in perfbench/.traces/. Exits non-zero when an output check fails.
See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

import build

BENCH = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("daily_dag", "analytics_mix")
JVM_TIMEOUT_S = 165

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die_with_parent():
    """In the child before exec: take the JVM down if this process dies,
    even by SIGKILL (Linux prctl PR_SET_PDEATHSIG)."""
    import ctypes
    ctypes.CDLL(None).prctl(1, signal.SIGKILL)


def driver_memory():
    """Half of MemTotal, clamped to 2..8 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def same(name, got, want):
    """Row lists equal: strings and integers exactly, other numbers to the
    0.01 both sides round to (a half-way value may land one step apart)."""
    if len(got) != len(want):
        return [f"duckdb: {name} has {len(got)} rows, DuckDB {len(want)}"]
    out = []
    for i, (g, w) in enumerate(zip(got, want)):
        for j, (x, y) in enumerate(zip(g, w)):
            if isinstance(x, str) or isinstance(y, str):
                ok = str(x) == str(y)
            elif isinstance(x, int) and isinstance(y, int):
                ok = x == y
            else:
                ok = abs(float(x) - float(y)) <= 0.0101
            if not ok:
                out.append(f"duckdb: {name} row {i} col {j}: engine {x} vs DuckDB {y}")
    return out


AGGREGATES = {
    "kpis": """SELECT count(*), count(DISTINCT trip_id),
                 round(avg(delay_minutes), 2),
                 count(*) FILTER (WHERE is_severe_delay) FROM fact""",
    "rush_hour": """SELECT t.rush_hour_period, count(*),
                 round(avg(delay_minutes), 2),
                 round(quantile_cont(delay_minutes, 0.5), 2),
                 round(quantile_cont(delay_minutes, 0.95), 2),
                 max(delay_minutes),
                 round(count(*) FILTER (WHERE delay_minutes > 15)::DOUBLE
                       / count(*) * 100, 2)
               FROM fact JOIN dim_time t USING (time_key)
               GROUP BY 1 ORDER BY 1""",
    "day_of_week": """WITH g AS (
                 SELECT d.day_of_week, d.day_name, count(*) AS n,
                   avg(delay_minutes) AS a, stddev_samp(delay_minutes) AS sd
                 FROM fact JOIN dim_date d USING (date_key) GROUP BY 1, 2)
               SELECT day_of_week, day_name, n, round(a, 2),
                 round(coalesce(sd, 0), 2), round(a - avg(a) OVER (), 2)
               FROM g ORDER BY 1""",
    "hourly_pattern": """SELECT t.hour, count(*), round(avg(delay_minutes), 2)
               FROM fact JOIN dim_time t USING (time_key)
               GROUP BY 1 ORDER BY 1""",
    "running_max": """SELECT event_type, max(value) FROM events
               GROUP BY 1 ORDER BY 1""",
}
CORPUS = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def duckdb_mismatches(d):
    """Cross-check in DuckDB, over the parquet the run wrote: the
    aggregate-only analytics reads, the stream drain's final running
    maxima, and the row count of each sampled registry entry against its
    oracle SQL."""
    import duckdb
    # no extension downloads; extension and spill directories inside the run
    # directory, so nothing is written under the home directory
    con = duckdb.connect(config={"autoinstall_known_extensions": False,
                                 "autoload_known_extensions": False,
                                 "extension_directory": os.path.join(d["tmp"], "duckdb"),
                                 "temp_directory": d["tmp"]})
    for t in ("fact", "dim_time", "dim_date"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{d['warehouse']}/{t}/*.parquet')")
    for t in CORPUS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{d['corpus']}/{t}.parquet/*.parquet')")
    out = []
    for name, q in AGGREGATES.items():
        if name not in d["results"]:
            out.append(f"duckdb: no engine result for {name}")
            continue
        want = [list(r) for r in con.execute(q).fetchall()]
        out += same(name, d["results"][name], want)
    for e in d["entries"]:
        n = con.execute(f"SELECT count(*) FROM ({e['sql']}) AS oracle").fetchone()[0]
        if n != e["rows"]:
            out.append(f"duckdb: {e['name']} has {e['rows']} rows, oracle {n}")
    return out


def remember(workload, seed, trace, res):
    """Facts that must repeat across runs of one seed, and the untraced
    unit time the traced run's overhead is taken against."""
    path = os.path.join(BENCH, ".state", f"{workload}-{seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    state = {}
    if os.path.exists(path):
        with open(path) as fh:
            state = json.load(fh)
    out = []
    for k, v in res.get("repeat", {}).items():
        if k in state and state[k] != v:
            out.append(f"{k} {v} differs from an earlier run of this seed: {state[k]}")
        state[k] = v
    m = res["metrics"]
    if not trace:
        state["unit_s"] = m["unit_s"]["value"]
    elif state.get("unit_s"):
        m["trace.overhead_pct"]["value"] = (m["trace.unit_s"]["value"] / state["unit_s"] - 1) * 100
    with open(path, "w") as fh:
        json.dump(state, fh)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes = build.ensure()
        cp = os.pathsep.join([classes, build.classpath()])
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    cmd = (["java", "-XX:-UsePerfData"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{driver_memory()}", f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
              str(a.trace), work, result])
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True, preexec_fn=die_with_parent)

        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(3)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        print(f"benchmark JVM exited with {rc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 4

    with open(result) as fh:
        res = json.load(fh)
    mismatches = list(res["mismatches"])
    if "duckdb" in res:
        mismatches += duckdb_mismatches(dict(res["duckdb"], tmp=os.path.join(work, "tmp")))
    mismatches += remember(a.workload, a.seed, a.trace, res)
    if a.trace:
        traces = os.path.join(BENCH, ".traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(result + ".trace.json",
                    os.path.join(traces, f"{a.workload}-{a.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)

    print("timing " + json.dumps(res["timing"]))
    for m in mismatches:
        print(f"MISMATCH {m}")
    for f in res["failures"]:
        print(f"FAILED {f}")
    for name, m in res["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    correct = res["correct"] and not mismatches
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
