"""Benchmark of the travel medallion product and its streaming dedup.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload medallion --seed 1 --seconds 10 --trace 0

Builds the program from source (see build.py), generates the workload's
inputs from the seed (gen.py), runs one JVM with one Spark session at
local[<cpus>] as one closed-loop client (src/perfbench/Main.scala), checks
every output, and prints one JSON line as the last line of stdout:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones, from a run whose loop alternates traced and
untraced units. See README.md for what each workload and metric means.
"""

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

# workload -> set-up rounds whose median is the repeated part of setup_s
WORKLOADS = {"medallion": 2,
             "stream_dedup": gen.SIZES["stream"]["warmup_passes"]}
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def run_jvm(classpath, workload, seed, seconds, trace, input_dir, work):
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--setup-rounds", str(WORKLOADS[workload]),
            "--input", input_dir, "--work", work, "--out", out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: program timed out after {JVM_TIMEOUT_S} s")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: program exited with {code}")
    with open(out) as f:
        res = json.load(f)
    if res["attempted"] < 1:
        sys.stderr.write("\n".join(res["errors"]) + "\n")
        raise SystemExit("perfbench: the program attempted no operation")
    return res


def median(xs):
    if not xs:
        raise SystemExit("perfbench: no samples were measured")
    return statistics.median(xs)


# ── checks ──────────────────────────────────────────────────────────────

def _close(a, b):
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def check_loads(files, got_loads, label):
    """Each landed file's Bronze and Silver row counts against the truth."""
    problems = []
    loads = {ld["file"]: ld for ld in got_loads}
    for name, want in sorted(files.items()):
        got = loads.get(name)
        if got is None:
            problems.append(f"{label}{name}: not loaded")
            continue
        if got["bronze"] != want["bronze"]:
            problems.append(f"{label}{name}: Bronze rows {got['bronze']} != {want['bronze']}")
        if got["silver"] != want["silver"]:
            problems.append(f"{label}{name}: Silver rows {got['silver']} != {want['silver']}")
    if len(loads) != len(files):
        problems.append(f"{label}{len(loads)} files loaded, {len(files)} landed")
    return problems


def check_medallion(truth, res, landing):
    problems = check_loads(truth["files"], res.get("loads", []), "")
    problems += check_loads(truth["warmup_files"], res.get("warmup_loads", []),
                            "set-up batch: ")
    if res.get("reingested") != 0:
        problems.append(f"idempotent re-ingest loaded files: {res.get('reingested')}")
    problems += oracle.compare(os.path.join(res["warehouse"], "gold"), landing)
    problems += check_dashboard(truth["per_date"], res.get("calls", []))
    return problems


def check_dashboard(per_date, calls):
    """Each call's row count (and summed column) against the truth summed
    over its date range."""
    problems = []
    if not calls:
        return ["no dashboard calls completed"]

    def over(d1, d2, key):
        return sum(v[key] for d, v in per_date.items() if d1 <= d <= d2)

    expect = {  # fn -> (rows, total) from the truth
        "visits": lambda a, b: (over(a, b, "visits"), None),
        "movements": lambda a, b: (over(a, b, "moves"), None),
        "logs": lambda a, b: (over(a, b, "logs"), None),
        "transactions": lambda a, b: (over(a, b, "tx"), None),
        "flights": lambda a, b: (over(a, b, "flights"), None),
        "sleep": lambda a, b: (over(a, b, "sleep"), None),
        "dailySteps": lambda a, b: (over(a, b, "day"), over(a, b, "steps")),
        "spendByType": lambda a, b: (None, over(a, b, "spend")),
        "topTransactions": lambda a, b: (min(5, over(a, b, "tx")), None),
        "distanceByMode": lambda a, b: (None, over(a, b, "moves")),
    }
    for c in calls:
        fn = c["fn"]
        if fn == "dailySummary":
            problems += check_summary(per_date.get(c["d1"]), c)
            continue
        rows, total = expect[fn](c["d1"], c["d2"])
        if rows is not None and c["rows"] != rows:
            problems.append(f"{fn}({c['d1']}, {c['d2']}): {c['rows']} rows, expected {rows}")
        if total is not None and not _close(c["total"], total):
            problems.append(f"{fn}({c['d1']}, {c['d2']}): total {c['total']}, expected {total}")
    return problems


def check_summary(day, call):
    doc = json.loads(call["doc"])
    want = {"TOTAL_STEPS": day["steps"], "FLIGHTS": day["flights"],
            "SLEEP_DATA": day["sleep"], "MANUAL_LOGS": day["logs"],
            "TIMELINE_SEGMENTS": day["segments"]}
    got = {"TOTAL_STEPS": doc["TOTAL_STEPS"]}
    got.update({k: len(doc[k]) for k in want if k != "TOTAL_STEPS"})
    problems = [f"dailySummary({call['d1']}) {k}: {got[k]}, expected {v}"
                for k, v in want.items() if got[k] != v]
    if not _close(doc["TOTAL_SPENT"], day["spend"]):
        problems.append(f"dailySummary({call['d1']}) TOTAL_SPENT: "
                        f"{doc['TOTAL_SPENT']}, expected {day['spend']}")
    return problems


def check_stream(truth, res):
    problems = []
    passes = {p["pass"]: p for p in truth["passes"]}
    if not res.get("passes"):
        return ["no stream pass completed"]
    for got in res["passes"]:
        want = passes[got["pass"]]
        ids = [i for w in want["waves"] for i in w]
        rows = {r[0]: r for r in got["verdicts"]}
        if len(got["verdicts"]) != len(ids) or set(rows) != set(ids):
            problems.append(f"{got['pass']}: {len(got['verdicts'])} verdicts "
                            f"for {len(ids)} documents")
            continue
        dups = {int(k): v for k, v in want["duplicates"].items()}
        for doc_id, (_, is_dup, best, jac) in rows.items():
            if doc_id in dups:
                if not (is_dup and best == dups[doc_id] and jac == 1.0):
                    problems.append(f"{got['pass']}: planted duplicate {doc_id} "
                                    f"of {dups[doc_id]} got {rows[doc_id]}")
            elif is_dup:
                problems.append(f"{got['pass']}: {doc_id} flagged as a "
                                f"duplicate of {best}")
    return problems


# ── metrics ─────────────────────────────────────────────────────────────

def end_to_end(workload, gen_s, res):
    s = res["samples"]
    setup = (gen_s + res["session_s"] + res.get("setup_once_s", 0.0)
             + median(res["setup_rounds_s"]))
    if workload == "medallion":
        ratio = res["facts"]["stored_bytes"] / res["facts"]["landed_bytes"]
    else:
        ratio = median(s["stored_bytes_ratio"])
    return {
        "setup_s": setup,
        "land_to_output_s": median(s["land_to_output_s"]),
        "call_p50_ms": median(s["call_ms"]),
        "stored_bytes_ratio": ratio,
    }


def per_layer(workload, res):
    """The traced run's layer metrics. Its loop alternates traced and
    untraced units; the overhead compares the two."""
    layers = dict(res["layers"])
    key = "call_ms" if workload == "medallion" else "land_to_output_s"
    s = res["samples"]
    layers["trace.overhead_frac"] = median(s[f"traced.{key}"]) / median(s[key]) - 1
    return layers


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {a.workload}; "
                         f"choose one of {sorted(WORKLOADS)}")
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    classpath = build.build()
    run_dir = os.path.join(build.BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        input_dir = os.path.join(run_dir, "input")
        t0 = time.perf_counter()
        truth = gen.generate(input_dir, a.workload, a.seed)
        gen_s = time.perf_counter() - t0
        res = run_jvm(classpath, a.workload, a.seed, a.seconds, a.trace,
                      input_dir, os.path.join(run_dir, "work"))
        problems = [f"program: {e}" for e in res["errors"]]
        if a.workload == "medallion":
            problems += check_medallion(truth, res, os.path.join(input_dir, "landing"))
        else:
            problems += check_stream(truth, res)
        metrics = (per_layer(a.workload, res) if a.trace
                   else end_to_end(a.workload, gen_s, res))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for p in problems[:50]:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": not problems,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
