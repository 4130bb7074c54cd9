#!/usr/bin/env python3
"""graft benchmark: three closed-loop workloads over the engine's public
operators, timed call by call, with every output checked.

    python3 perfbench/run.py --workload raster_vector --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --scaling [--seed N] [--seconds S] [--record LABEL]
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --sweep 10 --workload catalog_churn [--trace 0] [--record LABEL]

A run builds the engine and the benchmark from source (perfbench/build.py),
starts one JVM at local[4], and prints as its last line
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, the per-layer metrics with --trace 1. The full
result (checks, counts, call series, host probe) and the span list go to
.bench_runs/. It exits 1 when a check fails and 2 when the run itself fails.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("raster_vector", "catalog_churn")
JVM_TIMEOUT_S = 165


def load_json(path):
    with open(path) as f:
        return json.load(f)


def spec():
    return load_json(os.path.join(HERE, "spec.json"))


def declared_metrics(trace):
    b = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    return {m["name"]: m["unit"] for m in b["per_layer" if trace else "end_to_end"]}


def host_probe():
    """Single-thread CPU rate (M loop iterations/s) and memory copy bandwidth
    (MB/s over a 64 MB buffer), so a run carries the host state it saw."""
    t0 = time.perf_counter()
    n, x = 0, 1
    while time.perf_counter() - t0 < 0.2:
        for _ in range(10000):
            x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        n += 10000
    cpu = n / (time.perf_counter() - t0) / 1e6
    buf = bytearray(64 << 20)
    t1 = time.perf_counter()
    reps = 0
    while time.perf_counter() - t1 < 0.3:
        bytes(buf)
        reps += 1
    bw = reps * 64 / (time.perf_counter() - t1)
    return {"cpu_mips": round(cpu, 3), "membw_mbps": round(bw, 1), "loadavg_1m": os.getloadavg()[0]}


def run_jvm(workload, seed, seconds, trace, cores, sizes, tag):
    """Runs one benchmark JVM; returns (exit code, result dict or None, spans path)."""
    s = spec()
    classes, jars = build.ensure_built()
    runs = os.path.join(ROOT, ".bench_runs")
    os.makedirs(runs, exist_ok=True)
    spans = os.path.join(runs, tag + "-spans.json")
    tmp = os.path.join(ROOT, ".bench_tmp", "%s-%d" % (workload, os.getpid()))
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "jtmp"))
    out = os.path.join(tmp, "result.json")
    cmd = [build.java()] + s["jvm"] + ["-Djava.io.tmpdir=" + os.path.join(tmp, "jtmp"),
                               "-cp", classes + os.pathsep + os.path.join(jars, "*"), "graftbench.Main"]
    args = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace, "cores": cores,
            "setup_reps": s["setup_reps"], "work": os.path.join(tmp, "work"), "out": out, "spans": spans}
    conf = dict(s["spark_conf"])
    conf["spark.local.dir"] = os.path.join(tmp, "local")
    conf["spark.sql.warehouse.dir"] = os.path.join(tmp, "warehouse")
    args.update({"conf." + k: v for k, v in conf.items()})
    args.update({"size." + k: v for k, v in sizes.items()})
    for k, v in args.items():
        cmd += ["--" + k, str(v)]
    proc = subprocess.Popen(cmd, cwd=tmp, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
        result = load_json(out) if os.path.exists(out) else None
        return code, result, spans
    except subprocess.TimeoutExpired:
        print("run: benchmark JVM timed out", file=sys.stderr)
        return 2, None, spans
    finally:
        # also on SIGTERM (raised as SystemExit): never leave the JVM behind
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)


def pinned_counts(workload, seed):
    """(name, expected) pairs for this run: counts are pinned for the default
    seed at the default sizes."""
    pinned = spec()["pinned"]
    if pinned.get("seed") != seed:
        return []
    return sorted(pinned.get("values", {}).get(workload, {}).items())


def bench(workload, seed, seconds, trace, cores=None, sizes=None, pins=None):
    """One benchmark run. `sizes` and `pins` replace the default sizes and
    their pinned counts. Returns (exit code, final line dict or None, record)."""
    s = spec()
    if sizes is None:
        sizes = s["sizes"][workload]
        pins = pinned_counts(workload, seed) if pins is None else pins
    cores = cores or s["cores"]
    tag = "%s-%s-s%d-t%d-c%d" % (time.strftime("%Y%m%dT%H%M%S"), workload, seed, trace, cores)
    pre = host_probe()
    code, result, spans = run_jvm(workload, seed, seconds, trace, cores, sizes, tag)
    post = host_probe()
    if result is None:
        return 2, None, None
    checks = [{"name": c["name"], "ok": c["ok"], "detail": c["detail"]} for c in result["checks"]]
    for name, want in pins or []:
        got = result["counts"].get(name)
        checks.append({"name": "pinned." + name, "ok": got == want,
                       "detail": "" if got == want else "got %s, pinned %s" % (got, want)})
    n_pinned = len(checks) - len(result["checks"])
    failed = result["failed"] + sum(1 for c in checks[len(result["checks"]):] if not c["ok"])
    attempted = result["attempted"] + n_pinned
    produced = result["per_layer" if trace else "end_to_end"]
    declared = declared_metrics(trace)
    if set(produced) != set(declared) or any(produced[k]["unit"] != u for k, u in declared.items()):
        print("run: metrics differ from BENCHMARK.json: %s"
              % sorted(set(produced) ^ set(declared)), file=sys.stderr)
        return 2, None, None
    line = {"correct": failed == 0 and not result["error"], "attempted": attempted, "failed": failed,
            "metrics": {k: produced[k] for k in declared}}
    record = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace, "cores": cores,
              "sizes": sizes, "host_probe": {"before": pre, "after": post},
              "failed_frac": failed / attempted, "checks": checks, "spans": os.path.relpath(spans, ROOT),
              "result": result, "line": line}
    with open(os.path.join(ROOT, ".bench_runs", tag + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if code not in (0, 1):
        return 2, None, record
    return (0 if line["correct"] else 1), line, record


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3, "iqr_frac": (q3 - q1) / q2 if q2 else None}


def sweep(workload, n, seconds, trace, label):
    """Runs seeds 1..n and reports each metric's quartiles and spread."""
    runs = []
    for seed in range(1, n + 1):
        code, line, rec = bench(workload, seed, seconds, trace)
        if line is None:
            raise SystemExit("sweep: seed %d failed to run" % seed)
        runs.append({"seed": seed, "code": code, "metrics": {k: v["value"] for k, v in line["metrics"].items()},
                     "host_probe": rec["host_probe"], "failed": line["failed"]})
        print("sweep %s seed %d: %s" % (workload, seed, runs[-1]["metrics"]), file=sys.stderr)
    names = runs[0]["metrics"].keys()
    summary = {"workload": workload, "seconds": seconds, "trace": trace, "runs": len(runs),
               "failed": sum(r["failed"] for r in runs),
               "metrics": {k: spread([r["metrics"][k] for r in runs]) for k in names}}
    if label:
        record_trajectory(dict(summary, label=label, per_run=runs))
    print(json.dumps(summary))


def record_trajectory(entry):
    """Appends one measured point to perfbench/trajectory.json."""
    path = os.path.join(HERE, "trajectory.json")
    traj = load_json(path) if os.path.exists(path) else []
    traj.append(dict(entry, date=time.strftime("%Y-%m-%d")))
    with open(path, "w") as f:
        json.dump(traj, f, indent=1)


# calls of raster_vector's two halves, for the per-half scaling figures
SCALING_PARTS = {
    "raster_tiling": ("warp.analyze", "warp.tiles", "stackops.stats", "stackops.trend", "stencil.gauss",
                      "spatialjoin.clip"),
    "vector_join": ("spatialjoin.pip", "spatialjoin.heat", "knn.knn"),
}


def scaling(seed, seconds, label):
    """raster_vector at local[1] against local[4]: scaling_eff (throughput
    at 4 / (4 x throughput at 1)) for the whole pass and for its raster and
    vector halves, and whether the output digests are bit-identical."""
    res = {}
    for cores in (1, 4):
        code, line, rec = bench("raster_vector", seed, seconds, 0, cores=cores)
        if line is None or code != 0:
            raise SystemExit("scaling: raster_vector at local[%d] failed" % cores)
        res[cores] = rec["result"]
    same = res[1]["checksums"] == res[4]["checksums"]
    out = {"checksums_identical": same, "scaling_eff": {}}
    for part, calls in SCALING_PARTS.items():
        t = {c: sum(res[c]["series"][k]["median_s"] for k in calls) for c in (1, 4)}
        out["scaling_eff"][part] = t[1] / (4 * t[4])
    t1, t4 = (res[c]["end_to_end"]["wall_s"]["value"] for c in (1, 4))
    out["scaling_eff"]["raster_vector"] = t1 / (4 * t4)
    if label:
        record_trajectory(dict(out, label=label, mode="scaling", seed=seed, seconds=seconds))
    print(json.dumps(out))
    return 0 if same else 1


def selftest():
    """Tiny-scale run of every workload: the report lists every declared
    metric, a correct run fails nothing, and a wrong pinned count shows up
    in failed_frac and the exit code."""
    tiny = spec()["selftest_sizes"]
    problems = []
    counts = {}
    for wl in WORKLOADS:
        for trace in (0, 1):
            code, line, rec = bench(wl, 7, 1, trace, sizes=tiny[wl])
            # bench() gives no result when the metrics differ from BENCHMARK.json
            if line is None:
                problems.append("%s trace %d: no result" % (wl, trace))
                continue
            if code != 0 or line["failed"]:
                problems.append("%s trace %d: %d failed" % (wl, trace, line["failed"]))
            counts[wl] = rec["result"]["counts"]
    wl = "raster_vector"
    if wl in counts:
        name, value = sorted(counts[wl].items())[0]
        code, line, rec = bench(wl, 7, 1, 0, sizes=tiny[wl], pins=[(name, value + 1)])
        if line is None or code == 0 or line["failed"] < 1 or rec["failed_frac"] <= 0:
            problems.append("a wrong pinned count did not fail the run")
    print(json.dumps({"selftest": "ok" if not problems else "failed", "problems": problems}))
    return 0 if not problems else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--sweep", type=int)
    ap.add_argument("--record")
    a = ap.parse_args()
    seed = spec()["default_seed"] if a.seed is None else a.seed
    seconds = a.seconds or load_json(os.path.join(ROOT, "BENCHMARK.json"))["run_seconds"]
    if a.selftest:
        return selftest()
    if a.scaling:
        return scaling(seed, seconds, a.record)
    if a.workload is None:
        ap.error("--workload is required")
    if a.sweep:
        return sweep(a.workload, a.sweep, seconds, a.trace, a.record)
    code, line, rec = bench(a.workload, seed, seconds, a.trace)
    if line is None:
        return 2
    print(json.dumps({"host_probe": rec["host_probe"], "failed_frac": rec["failed_frac"]}))
    print(json.dumps(line))
    return code


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
