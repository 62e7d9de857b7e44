#!/usr/bin/env python3
"""perfbench: the repository's benchmark.

    python3 perfbench/run.py --workload <lookup|curation|refresh>
        --seed <n> --seconds <s> --trace <0|1> [--results-dir <dir>]

Run from the root of a checkout. The first run builds the program from
source together with the harness (harness/build.py: the Scala compiler
that ships with Spark, nothing resolved) into the build directory
($CARGO_TARGET_DIR, default .bench_build); later runs reuse the build
while the sources are unchanged. Inputs are generated from --seed, every
answer is checked, and the last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
of BENCHMARK.json (--trace 0) or its per-layer metrics (--trace 1). The
full result (both metric sets under their workload-specific names, host
facts, errors, spans when traced) goes to a new, never-overwritten file
under <build>/perfbench/results unless --results-dir says otherwise.
"""

import argparse
import datetime
import json
import os
import secrets
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "harness"))
from build import BuildError, build, run_group  # noqa: E402  (harness/build.py)

# TPC-H scale of the graph's source tables: 60k lineitems, 86k edges for
# the read workloads; refresh ingests a tenth of that on every run, so a
# cold ingest and its deltas fit one run.
SF = {"lookup": 0.01, "curation": 0.01, "refresh": 0.001}
# Hard limit for one run; the JVM is killed past it.
RUN_LIMIT_S = 170
WORKLOADS = ("lookup", "curation", "refresh")
# Untimed lookups before the lookup workload measures: the ad-hoc lookup
# p50 settles only after ~230 requests (JIT), so the warm-up ends on a
# count, never on time.
WARM_REQUESTS = 230

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ host

def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_kb():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 8 << 20


def heap_gb():
    """A quarter of physical memory, clamped to [2, 8] GiB."""
    return max(2, min(8, mem_total_kb() // (4 << 20)))


def load_avg():
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def calibration_s():
    """A fixed single-thread integer workload, timed: divides host speed
    out of cross-window comparisons."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i
    return time.perf_counter() - t0


# ------------------------------------------------------------------ specs

def workload_spec(name, seed, cpus, data_dir, build_dir, work):
    import gen
    oracle = gen.Oracle(data_dir)
    if name == "curation":
        return {"curation": {"docs": 600, "warm_docs": 80, "exact_rate": 0.1,
                             "near_rate": 0.1, "recall_floor": 0.9, "max_tokens": 2048,
                             "min_iterations": 1}}
    # The even shape mix and the 25% repeat share are assumptions, not
    # taken from a client trace (README.md, "Generator properties").
    if name == "lookup":
        reqs, seq = gen.request_stream(oracle, seed, gen.LOOKUP_SHAPES,
                                       pool=700, length=4000, repeat=0.25)
        return {"warm_requests": WARM_REQUESTS - 80, "probe_requests": 80,
                "warm_cap_seconds": 60.0, "rate_share": 0.5, "open_share": 0.8, "limit_ms": 3000.0,
                "store_dir": os.path.join(build_dir, "store"),
                "requests": reqs, "sequence": seq}
    reqs, seq = gen.request_stream(oracle, seed, gen.REFRESH_SHAPES,
                                   pool=300, length=2000, repeat=0.25)
    plan = gen.refresh_plan(oracle, seed, 12)
    drops = os.path.join(work, "drops")
    gen.write_drops(oracle, plan, drops)
    return {"warm_requests": 10, "warm_cap_seconds": 30.0,
            "rate": 0.5 * cpus, "limit_ms": 3000.0, "min_deltas": 2,
            "refresh": plan, "drops_dir": drops,
            "requests": reqs, "sequence": seq}


# ------------------------------------------------------------------ run

def run_jvm(cp, spec_path, result_path, work, store, deadline):
    cmd = (["java", f"-Xmx{heap_gb()}g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", spec_path, result_path])
    env = dict(os.environ, SPARK_GRAFT_STORE=store)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        code = run_group(cmd, max(10, deadline - time.monotonic()), stdout=out,
                         stderr=subprocess.STDOUT, env=env)
    if code != 0 or not os.path.exists(result_path):
        with open(log, errors="replace") as f:
            tail = f.read()[-4000:]
        fail(f"harness {'timed out' if code is None else f'exited {code}'}:\n{tail}")
    with open(result_path) as f:
        return json.load(f)


def ensure_store(cp, spec, store, work, deadline):
    """Ingest the lookup workload's graph store once per checkout, in a JVM
    of its own: a lookup run's cold service start must not follow an ingest
    in the same process, whose JIT and code cache it would inherit (setup_s
    read ~3.3 s after an ingest against ~6.8 s cold)."""
    ready = os.path.join(store, ".ingested")
    if os.path.exists(ready):
        return
    path = os.path.join(work, "store-spec.json")
    with open(path, "w") as f:
        json.dump(dict(spec, workload="store", store_dir=store), f)
    run_jvm(cp, path, os.path.join(work, "store-result.json"), work, store, deadline)
    with open(ready, "w"):
        pass


def metric_defs(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        b = json.load(f)
    return b["end_to_end"], b["per_layer"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--results-dir")
    a = ap.parse_args()
    # a terminated run unwinds like an interrupted one: the JVM is killed
    # and the run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.monotonic()
    deadline = t_start + RUN_LIMIT_S

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("no program sources under src/main/scala/graft: run from a checkout root")
    if shutil.which("java") is None:
        fail("java not found on PATH")
    e2e_defs, layer_defs = metric_defs(root)

    build_dir = os.path.abspath(os.path.join(
        root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench"))
    os.makedirs(build_dir, exist_ok=True)
    try:
        cp = build(root, build_dir)
    except BuildError as e:
        fail(f"build failed: {e}")
    deadline = max(deadline, time.monotonic() + 150)  # a fresh build earns its own budget

    import gen
    cpus = nproc()
    host = {"nproc": cpus, "mem_total_kb": mem_total_kb(), "heap_gb": heap_gb(),
            "load_avg_start": load_avg(), "calibration_s": calibration_s()}
    sf = SF[a.workload]
    data_dir = gen.ensure_tpch(os.path.join(build_dir, "data", f"tpch-sf{sf}"), sf)

    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S.%f")[:-3]
    run_id = f"{stamp}-{secrets.token_hex(3)}-{a.workload}"
    work = os.path.join(build_dir, "runs", run_id)
    os.makedirs(work)
    try:
        spec = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "cpus": cpus, "sf_dir": data_dir, "work_dir": work}
        if a.workload == "lookup":
            ensure_store(cp, spec, os.path.join(build_dir, "store"), work, deadline)
            deadline = max(deadline, time.monotonic() + 150)  # so does the first ingest
        t0 = time.monotonic()
        spec.update(workload_spec(a.workload, a.seed, cpus, data_dir, build_dir, work))
        gen_s = time.monotonic() - t0
        store = spec.get("store_dir") or os.path.join(work, "store")
        spec["store_dir"] = store
        spec_path = os.path.join(work, "spec.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        t0 = time.monotonic()
        res = run_jvm(cp, spec_path, os.path.join(work, "result.json"), work, store, deadline)
        jvm_s = time.monotonic() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host["load_avg_end"] = load_avg()

    attempted = max(1, int(res["attempted"]))
    failed = int(res["failed"])
    e2e = dict(res["end_to_end"])
    e2e["ok_ratio"] = 1.0 - failed / attempted
    layers = dict(res["per_layer"])
    layers["fail_ratio"] = failed / attempted
    defs = layer_defs if a.trace else e2e_defs
    source = layers if a.trace else e2e
    metrics = {d["name"]: {"value": float(source.get(d["name"], 0.0)), "unit": d["unit"]}
               for d in defs}

    results_dir = a.results_dir or os.path.join(build_dir, "results")
    os.makedirs(results_dir, exist_ok=True)
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "run_id": run_id, "host": host, "input_generation_s": gen_s,
              "wall_s": time.monotonic() - t_start, "jvm_s": jvm_s, "attempted": attempted, "failed": failed,
              "wrong": res.get("wrong", 0), "errors": res.get("errors", []),
              "end_to_end": e2e, "per_layer": layers,
              "shape_p50_ms": res.get("shape_p50_ms", {})}
    if a.trace:
        record["spans"] = res.get("spans", [])
    with open(os.path.join(results_dir, f"{run_id}.json"), "x") as f:
        json.dump(record, f, indent=1)
    for err in res.get("errors", [])[:5]:
        print(f"perfbench: {err}", file=sys.stderr)
    print(json.dumps({"correct": int(res.get("wrong", 0)) == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
