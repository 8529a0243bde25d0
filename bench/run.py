#!/usr/bin/env python3
"""The repo benchmark: one command that builds the engine from source,
generates seeded inputs, runs one workload in one JVM on local[N],
checks every output and prints every metric by name with its unit.

Usage: python3 bench/run.py --workload triage_raw|stage_requery
           --seed N --seconds S --trace 0|1 [--lines N]

The last stdout line is one JSON object with the keys correct,
attempted, failed and metrics: the end-to-end metrics of BENCHMARK.json
with --trace 0, its per-layer metrics with --trace 1. Lines above it
are a human-readable table of everything measured. Any failure (build,
generation, an exception, a failed check) is reported on stderr with
the workload and the reason, and the exit code is then non-zero.

Everything a run writes stays under bench/.work/<workload>/, which is
emptied when the run starts (the spans of a traced run are left there
as spans.json).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("triage_raw", "stage_requery")
CORPUS_LINES = {"triage_raw": 8000, "stage_requery": 12000}
DOCS = 600           # documents of the mix table (fixed, seed 42)
DOCS_SEED = 42
RUN_LIMIT_S = 170    # every run must end within 180 s (build excluded)
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def run_jvm(classes, args, log_path, timeout):
    """Run BenchMain; return its peak RSS in MB. Raises on failure."""
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(os.path.dirname(log_path), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd += ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + build.classpath(),
            "graft.bench.BenchMain"] + args
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT)
        timer = threading.Timer(timeout, p.kill)
        timer.start()
        try:
            _, status, usage = os.wait4(p.pid, 0)
        finally:
            timer.cancel()
        p.returncode = os.waitstatus_to_exitcode(status)
    if p.returncode != 0:
        with open(log_path) as fp:
            tail = fp.read()[-3000:]
        why = "timed out" if p.returncode < 0 else f"exit code {p.returncode}"
        raise BenchError(f"benchmark JVM failed ({why}); log {log_path}:\n{tail}")
    return usage.ru_maxrss / 1024.0


def frame_hash(rows, cols):
    """tools/oracle_check.py's order-free value hash."""
    def cell(v):
        if v is None:
            return "NULL"
        return f"{v:.6f}" if isinstance(v, float) else str(v)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("|".join(cell(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_check(inputs, out_dir):
    """Compare each query result with its DuckDB oracle, as
    tools/oracle_check.py does. Returns a list of mismatch reasons."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{inputs}/documents.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fp:
        oracle = json.load(fp)
    bad = []
    for name, sql in sorted(oracle.items()):
        try:
            files = glob.glob(f"{out_dir}/{name}/*.parquet")
            s = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchall()
            scols = [d[0] for d in con.description]
            tbl = con.execute(sql).arrow()
            dcols = list(tbl.column_names)
            d = [tuple(c[i].as_py() for c in tbl.columns) for i in range(tbl.num_rows)]
        except Exception as e:  # an oracle or read error is a failed check
            bad.append(f"{name}: {type(e).__name__}: {e}")
            continue
        if sorted(scols) != sorted(dcols):
            bad.append(f"{name}: schema {sorted(scols)} vs oracle {sorted(dcols)}")
        elif len(s) != len(d):
            bad.append(f"{name}: {len(s)} rows vs oracle {len(d)}")
        elif frame_hash(s, scols) != frame_hash(d, dcols):
            bad.append(f"{name}: value hash differs from the oracle ({len(s)} rows)")
    con.close()
    return bad


def make_inputs(a, inputs):
    """Generate the run's inputs; return the corpus manifest, the JVM
    arguments naming the inputs and the mix's documents directory (None
    when the run has no mix)."""
    m = gen.gen_corpus(inputs, a.seed, a.lines or CORPUS_LINES[a.workload])
    args = ["--inputs", inputs,
            "--paths", ",".join(os.path.join(inputs, p) for p in m["paths"]),
            "--hot-ip", m["hot_ip"], "--start-epoch", str(m["start_epoch"])]
    docs = None
    if a.workload == "triage_raw" and a.trace:
        # a traced triage run also carries one oracled pass of the mix
        docs = os.path.join(inputs, "docs")
        gen.gen_documents(docs, DOCS_SEED, DOCS)
        args += ["--docs", docs]
    return m, args, docs


def check_manifest(workload, m, measured):
    """The pipeline's counts against the generator's planted truth. Every
    count the workload produces is checked; a missing one is a failure."""
    if workload == "triage_raw":
        want = {
            "sources.lines_in": m["rows_parsed"] + m["rows_rejected"],
            "sources.rows_rejected": m["rows_rejected"],
            "norm.rows_dropped": m["rows_dropped"],
            "norm.rows_out": m["rows_after_dedup"],
            "operators.tool_rows": m["tool_rows"],
            "operators.burst_rows": m["burst_rows"],
            "operators.hot_ip_rows": m["hot_ip_rows"],
        }
    else:
        want = {"sink.rows_staged": m["rows_after_dedup"]}
    return [f"{k} is missing; manifest says {v}" if k not in measured
            else f"{k} = {measured[k][0]:g}, manifest says {v}"
            for k, v in want.items() if k not in measured or measured[k][0] != v]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--lines", type=int, default=0,
                    help="corpus size override (tests use a tiny corpus)")
    a = ap.parse_args()
    try:
        result = run(a)
    except (BenchError, build.BuildError, OSError, ValueError, KeyError) as e:
        print(f"bench: workload {a.workload} failed: {e}", file=sys.stderr)
        sys.exit(1)
    print_result(a, result)
    if not result["correct"]:
        for f in result["failures"]:
            print(f"bench: workload {a.workload} check failed: {f}", file=sys.stderr)
        sys.exit(1)


def run(a):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fp:
        spec = json.load(fp)
    classes = build.build()
    t_start = time.monotonic()
    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    manifest, input_args, docs = make_inputs(a, inputs)
    out = os.path.join(work, "result.json")
    rss = run_jvm(classes,
                  ["--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                   "--work", work, "--out", out] + input_args,
                  os.path.join(work, "jvm.log"),
                  RUN_LIMIT_S - (time.monotonic() - t_start))
    with open(out) as fp:
        r = json.load(fp)
    measured = {k: (v["value"], v["unit"]) for k, v in r["metrics"].items()}
    measured["peak_rss_mb"] = (rss, "MB")
    failures = list(r["failures"]) + check_manifest(a.workload, manifest, measured)
    if docs:
        bad = oracle_check(docs, os.path.join(work, "mix_out"))
        failures += [f"oracle mismatch: {b}" for b in bad]
    attempted = r["attempted"]
    # every failed check fails at least one of the attempted operations
    failed = min(len(failures), attempted)
    measured["failed_frac"] = (failed / attempted, "ratio")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        # layers a workload leaves idle report 0 in a traced run
        v = measured.get(m["name"], (0.0, m["unit"]))[0]
        if v is None:
            raise BenchError(f"metric {m['name']} is not a number")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": not failures, "attempted": attempted, "failed": failed,
            "metrics": metrics, "measured": measured, "failures": failures}


ALIASES = {
    "triage_raw": {"first_s": "triage_first_s", "warm_s": "warm pass (median)"},
    "stage_requery": {"first_s": "stage_write_s", "warm_s": "requery_p50_s",
                      "tail_s": "requery_tail_s"},
}


def print_result(a, r):
    m = r["measured"]
    names = ALIASES[a.workload]
    print(f"# workload {a.workload}  seed {a.seed}  trace {a.trace}  "
          f"attempted {r['attempted']}  failed {r['failed']}  correct {r['correct']}")
    for k in sorted(m):
        v, unit = m[k]
        label = names.get(k, "")
        if k == "tail_s":
            label = (label + " " if label else "") + f"p{m['tail_pct'][0]:g}"
        print(f"#   {k:<44} {v:>16.6g} {unit:<8} {label}")
    print(json.dumps({k: r[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
