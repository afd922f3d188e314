#!/usr/bin/env python3
"""The benchmark of record. Run from the repository root:

    python3 perfbench/run.py --workload imaging|corpus|query_sweep \
        --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), runs one workload in a
fresh JVM on local[k] (k = min(4, nproc)), checks its outputs and prints one
JSON line last: with --trace 0 the end-to-end metrics, with --trace 1 the
per-layer metrics of a traced run. Metric names, units and bounds are in
BENCHMARK.json; what they mean is in perfbench/README.md. The full record
of a run (every call, errors, config, host weather, spans) is written under
.bench_build/perfbench/runs/.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("imaging", "corpus", "query_sweep")
DATA = HERE / "data" / "sf0.01"
ORACLE = ROOT / "tools" / "check_oracle.py"
# Per-layer metrics of layers a workload does not run (by name prefix): these
# read 0. Any other metric that is missing or not finite is printed as null.
NOT_RUN = {
    "imaging": ("functions.", "operators.blocking_precision", "operators.graphcc_jobs",
                "api.corpus.", "api.query_sweep."),
    "query_sweep": ("kernels.", "exprs.", "operators.shuffle_per_input", "api.imaging.", "api.corpus."),
    "corpus": ("kernels.", "exprs.", "operators.shuffle_per_input", "api.imaging.", "api.query_sweep."),
}
DEADLINE_S = 170
JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xmx3g", "-XX:+UseG1GC", "-XX:G1HeapRegionSize=32m", "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false"]


def weather():
    """(steal jiffies, total jiffies, 1-min load average) from /proc."""
    try:
        cpu = [int(x) for x in pathlib.Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
        load = float(pathlib.Path("/proc/loadavg").read_text().split()[0])
        return cpu[7] if len(cpu) > 7 else 0, sum(cpu[:8]), load
    except OSError:
        return 0, 0, float("nan")


def check_data():
    """Exits unless the tables under DATA match the SHA-256 sums recorded
    next to them (the copy must stay identical to the tables Verify uses)."""
    for line in (DATA / "SHA256SUMS").read_text().splitlines():
        digest, name = line.split()
        if hashlib.sha256((DATA / name).read_bytes()).hexdigest() != digest:
            sys.exit(f"perfbench: {DATA / name} does not match its recorded SHA-256")


def oracle_failures(out_dir, queries):
    """{query: mismatch} from tools/check_oracle.py, the DuckDB comparison that
    Verify's outputs are held to, run over the queries written to out_dir.
    A selected query with no oracle SQL fails too."""
    declared = json.loads((out_dir / "oracle_sql.json").read_text())
    fails = {q: "no oracle declared" for q in queries if q not in declared}
    r = subprocess.run([sys.executable, str(ORACLE), str(DATA), str(out_dir)],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = r.stdout.splitlines()
    for line in lines:
        if line.startswith("FAIL "):
            name, _, msg = line[len("FAIL "):].partition(": ")
            fails[name] = msg
    if r.returncode != 0 or not any(line.startswith("OK: ") for line in lines):
        for q in queries:
            fails.setdefault(q, f"check_oracle.py exited {r.returncode}: {r.stdout[-300:]}")
    return fails


def finite(o):
    """The record with every non-finite number replaced by null."""
    if isinstance(o, float) and (o != o or o in (float("inf"), float("-inf"))):
        return None
    if isinstance(o, dict):
        return {k: finite(v) for k, v in o.items()}
    if isinstance(o, (list, tuple)):
        return [finite(v) for v in o]
    return o


def quantile(xs, q):
    """Harrell-Davis estimate of the q-quantile: a Beta-weighted mean of all
    order statistics. The op mix is heterogeneous, so call times cluster;
    the plain sample quantile jumps between clusters from run to run, and
    this estimator does not."""
    import numpy as np
    s = np.sort(np.asarray(xs, dtype=float))
    n = len(s)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    t = (np.arange(20 * n) + 0.5) / (20 * n)        # midpoints of a fine grid on (0, 1)
    pdf = np.exp((a - 1) * np.log(t) + (b - 1) * np.log1p(-t))
    cdf = np.concatenate(([0.0], np.cumsum(pdf)))
    cdf /= cdf[-1]
    w = np.diff(cdf[::20])                          # Beta mass between (i-1)/n and i/n
    return float(np.dot(w, s))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    classes = build.build()
    check_data()
    t_start = time.monotonic()
    out = build.BUILD / "runs" / f"{a.workload}-seed{a.seed}-trace{a.trace}"
    scratch = build.BUILD / "spark"
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(scratch, ignore_errors=True)
    (scratch / "tmp").mkdir(parents=True)
    out.mkdir(parents=True)
    cores = min(4, os.cpu_count() or 1)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={scratch / 'tmp'}",
           "-cp", f"{classes}{os.pathsep}{build.spark_jars()}", "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cores", str(cores), "--out", str(out),
           "--scratch", str(scratch), "--data", str(DATA)]
    w0 = weather()
    with open(out / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            rc = proc.wait(timeout=DEADLINE_S - (time.monotonic() - t_start))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit("perfbench: run exceeded its deadline; see " + str(out / "jvm.log"))
    w1 = weather()
    if rc != 0 or not (out / "result.json").exists():
        sys.stderr.write((out / "jvm.log").read_text()[-3000:])
        sys.exit(f"perfbench: benchmark JVM failed ({rc})")
    r = json.loads((out / "result.json").read_text())

    errors = dict(r["errors"])
    if a.workload == "query_sweep":
        for q, msg in oracle_failures(out / "sweep", list(r["work"])).items():
            errors.setdefault(q, "oracle: " + msg)
    calls = [(op, s, ok and op not in errors) for op, s, ok in r["calls"]]
    good = [(op, s) for op, s, ok in calls if ok]
    lat = [s for _, s in good]
    # calls come pass by pass, one call per op in each
    per_pass = [[s for _, s, ok in calls[i:i + len(r["work"])] if ok]
                for i in range(0, len(calls), len(r["work"]))]
    per_pass = [p for p in per_pass if p]

    def latency(q):
        """Median over passes of each pass's q-quantile call time."""
        return statistics.median(quantile(p, q) for p in per_pass) if per_pass else float("nan")

    end_to_end = {
        "setup_s": statistics.median(r["setup_s_all"]),
        "setup_cold_s": r["setup_s_all"][0],
        "work_per_s": sum(r["work"][op] for op, _ in good) / sum(lat) if lat else float("nan"),
        "latency_p50_s": latency(0.5),
        "latency_p90_s": latency(0.9),
        "cpu_s": statistics.mean(r["cpu_per_pass_s"]),
        "retained_heap_mb": r["retained_heap_mb"],
        "ok_ratio": len(good) / len(calls),
    }
    failed = r["failed"] + sum(1 for op, _, ok in r["calls"] if ok and op in errors)

    steal = (w1[0] - w0[0]) / max(1, w1[1] - w0[1])
    record = dict(r, errors=errors, end_to_end=end_to_end,
                  failed_ratio=1 - end_to_end["ok_ratio"], failed=failed,
                  weather={"steal_share": steal, "loadavg_before": w0[2], "loadavg_after": w1[2],
                           "nproc": os.cpu_count(), "local_k": cores},
                  run_wall_s=time.monotonic() - t_start)
    del record["calls"]
    (out / "summary.json").write_text(json.dumps(finite(record), indent=1, allow_nan=False) + "\n")

    metrics = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = finite(r["per_layer"] if a.trace else end_to_end)
    for name, msg in sorted(errors.items()):
        print(f"FAILED {name}: {msg}")
    print(json.dumps({
        "correct": not errors,
        "attempted": r["attempted"],
        "failed": failed,
        "metrics": {m["name"]: {"value": 0.0 if m["name"].startswith(NOT_RUN[a.workload])
                                else values.get(m["name"]), "unit": m["unit"]}
                    for m in metrics},
    }))


if __name__ == "__main__":
    main()
