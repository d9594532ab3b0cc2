#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measured JVM.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 30 --trace 0

Run from the root of a graft checkout. The first run builds the library
and the runner with sbt (offline); later runs reuse the build until a
source file changes. Each run:

  1. generates the workload's corpus from the seed (three times; the median
     counts toward set-up),
  2. starts one JVM that builds the session through GraftSession.builder()
     (three times, median), warms the tables, runs one cold pass over the
     workload's ops and then two warm passes (--seconds only caps them: the
     second does not start once the first took that many seconds),
  3. checks the outputs (DuckDB oracle where SparkEntry.oracleSql has one,
     result-digest equality across passes otherwise),
  4. prints the metrics by name with units, the failed ops with their
     errors, the host record, and last a JSON line.

--trace 0 reports the end-to-end metrics; --trace 1 attaches Spark's
listeners (cold pass and every other warm pass) and reports the per-layer
metrics instead. Everything the run writes stays under .bench_build/:
Spark's local dir and graft's ProcScratch are pointed there too, so the
program's own tmpfs-or-disk placement policy is not what is measured.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
    sys.exit("perfbench: no graft sources next to perfbench/; run from a graft checkout")

import check    # noqa: E402
import corpus   # noqa: E402
import layers   # noqa: E402

# Each workload: corpus size, ingest batch sizes, the ops of one pass and
# the tables set-up reads once before the cold pass.
WORKLOADS = {
    # Driver-bound: small read-only queries, one from each relational family
    # of graft.ops (core, join, set, SQL, function, temporal join, sketch,
    # event); planning, codegen and job submission dominate and the
    # executors idle.
    "relational": {
        "sf": 0.01,
        "ops": ["q_agg_sum_count", "q_sort_merge_join", "q_union_distinct",
                "q_sql_volume_shipping", "q_window_analytics", "q_asof_join",
                "q_hll_distinct", "q_event_funnel"],
        "warm": ["customer", "lineitem", "nation", "orders", "region", "supplier",
                 "events"],
    },
    # Executor-bound: dedup and ANN kernels (simhash signatures, IVF cells
    # and PQ distances, exact-hash grouping) over ten times the sf0.01
    # fixture's documents and embeddings; task CPU, candidate shuffles and
    # ScratchCache persistence.
    "similarity_10x": {
        "sf": 0.01, "docs": 5000, "vecs": 5000,
        "ops": ["q_dedup_exact", "q_dedup_simhash", "q_ann_ivf_sq8_rerank"],
        "warm": ["documents", "embeddings"],
    },
    # Write and streaming paths: an eager windowed stream (WAL, state store,
    # commits) and direct KeyedTable write/merge/compact and multi-sink
    # GroupCommit calls, each pass on fresh roots.
    "ingest": {
        "sf": 0.01, "keyed_rows": 20000,
        "ops": ["q_stream_tumbling", "keyed_write", "keyed_merge_sparse",
                "keyed_merge_wide", "keyed_compact", "group_commit_3sinks"],
        "warm": ["events"],
    },
}
SMOKE_SF = 0.001      # the smoke check's corpus, shaped like sf0.001
SMOKE_KEYED_ROWS = 2000
HEAP = "4g"
JVM_TIMEOUT_S = 150

END_TO_END = {  # name -> unit
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "op_p50_s": "s",
    "op_p90_s": "s", "cpu_s": "s", "heap_live_peak_mb": "MB", "ok_ratio": "ratio",
}


# ---------------------------------------------------------------- build

SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": "-Dsbt.override.build.repos=true "
                "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                " -Dsbt.offline=true -Xmx2g -XX:-UsePerfData",
}


def _stamp():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha1()
    tops = [os.path.join(ROOT, p) for p in ("build.sbt", "project", "src/main")]
    tops += [os.path.join(HERE, p) for p in ("build.sbt", "project", "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top)
            if "/target" not in d for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(state):
    """Build with sbt when a build input changed; return (classpath, jvm opts)."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = os.path.join(state, "build.stamp")
    stamp = _stamp()
    fresh = (os.path.exists(launch) and os.path.exists(stamp_file)
             and open(stamp_file).read() == stamp)
    if not fresh:
        log = os.path.join(state, "build.log")
        with open(log, "w") as out:
            rc = subprocess.call(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                env={**os.environ, **SBT_ENV}, timeout=840)
        if rc != 0:
            sys.exit(f"perfbench: build failed (sbt exit {rc}); see {log}")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    lines = open(launch).read().split("\n")
    return lines[0], [x for x in lines[1:] if x]


# ---------------------------------------------------------------- host

def spin_probe():
    """Seconds for a fixed amount of single-threaded Python work."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i % 7
    return time.perf_counter() - t


def host_record():
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":")
            if k in ("MemTotal", "MemAvailable"):
                mem[k] = int(v.split()[0]) // 1024
    return {"nproc": os.cpu_count(), "mem_total_mb": mem.get("MemTotal"),
            "mem_available_mb": mem.get("MemAvailable"),
            "loadavg": os.getloadavg()[0], "spin_s": spin_probe()}


def fs_kind(path):
    """'tmpfs' or 'disk' for the filesystem holding path."""
    path = os.path.realpath(path)
    best, kind = "", "disk"
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, fstype = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, kind = mnt, "tmpfs" if fstype in ("tmpfs", "ramfs") else "disk"
    return kind


# ---------------------------------------------------------------- metrics

def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    i = q * (len(xs) - 1)
    lo = int(i)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (i - lo)


def end_to_end(res, setup_s, failed, attempted):
    passes = res["passes"]
    warm = [p for p in passes if p["pass"] > 0]
    wall = [p["wall_ms"] / 1e3 for p in warm]
    lat = [(s["end"] - s["start"]) / 1e3 for s in res["samples"]
           if s["pass"] > 0 and not s["traced"] and s["error"] is None]
    cold = [p for p in passes if p["pass"] == 0][0]
    return {
        "setup_s": setup_s,
        "cold_pass_s": cold["wall_ms"] / 1e3,
        "pass_s": statistics.median(wall),
        "op_p50_s": quantile(lat, 0.5),
        "op_p90_s": quantile(lat, 0.9),
        "cpu_s": statistics.median(p["cpu_ns"] / 1e9 for p in warm),
        "heap_live_peak_mb": max(p["heap_live_bytes"] for p in passes) / 2 ** 20,
        "ok_ratio": 1.0 - failed / attempted,
    }, len(lat)


def overhead_ratio(samples):
    """Geometric mean over ops of traced / untraced warm latency. Each op
    runs traced and untraced in alternate passes, and which comes first
    alternates between ops, so the warm-up trend of later passes cancels."""
    by_op = {}
    for s in samples:
        if s["pass"] > 0 and s["error"] is None:
            by_op.setdefault(s["op"], {}).setdefault(s["traced"], []).append(
                s["end"] - s["start"])
    logs = [math.log(statistics.median(t[True]) / statistics.median(t[False]))
            for t in by_op.values() if True in t and False in t]
    return math.exp(statistics.mean(logs)) if logs else 1.0


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="one pass on a tiny sf0.001-shaped corpus")
    args = ap.parse_args()
    t_start = time.time()

    state = os.path.join(os.getcwd(), ".bench_build", "perfbench")
    os.makedirs(state, exist_ok=True)
    cp, jvm_opts = build(state)

    wl = WORKLOADS[args.workload]
    sf = SMOKE_SF if args.smoke else wl["sf"]
    rows = corpus.sizes(sf) if args.smoke else corpus.sizes(
        sf, wl.get("docs"), wl.get("vecs"))
    work = os.path.join(state, "run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "scratch", "results"):
        os.makedirs(os.path.join(work, d))
    host_start = host_record()

    # ---- set-up part 1: the corpus (median of three generations)
    t_setup = time.time()
    data, inputs = os.path.join(work, "corpus"), os.path.join(work, "inputs")
    corpus_s = []
    delta_bytes = 0
    for _ in range(1 if args.smoke else 3):
        t = time.perf_counter()
        corpus.write(args.seed, rows, data)
        if "keyed_rows" in wl:
            delta_bytes = corpus.write_ingest(
                args.seed, SMOKE_KEYED_ROWS if args.smoke else wl["keyed_rows"], inputs)
        corpus_s.append(time.perf_counter() - t)
    corpus_med = statistics.median(corpus_s)
    gen_wall = time.time() - t_setup

    # ---- the measured JVM
    env = {**os.environ,
           "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count())),
           "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
           "SPARK_GRAFT_SCRATCH_DIR": os.path.join(work, "scratch")}
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"] +
           jvm_opts +
           ["-cp", cp, "perfbench.Main", "--corpus", data, "--inputs", inputs,
            "--work", work, "--ops", ",".join(wl["ops"]), "--warm", ",".join(wl["warm"]),
            "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--sessions", "1" if args.smoke else "3"])
    t_launch = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    result_file = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        sys.exit(f"perfbench: runner JVM failed ({rc}):\n{tail}")
    res = json.load(open(result_file))
    host_end = host_record()

    # set-up: corpus median + JVM start + session-build median + warm-up
    jvm_boot = res["main_entry_ms"] / 1e3 - t_launch
    session_med = statistics.median(res["session_s"])
    setup = {"setup.corpus_s": corpus_med,
             "setup.session_s": jvm_boot + session_med,
             "setup.warmup_s": res["warmup_s"]}
    setup_s = sum(setup.values())

    # ---- output check (untimed)
    oracle_err = check.oracle(data, os.path.join(work, "results"), res["oracle"],
                              os.path.join(work, "tmp"))
    digest_err = check.digests(res["samples"])
    bad = {}
    for op in res["ops"]:
        errs = [s["error"] for s in res["samples"] if s["op"] == op and s["error"]]
        why = oracle_err.get(op) or digest_err.get(op) or (errs[0] if errs else None)
        if why:
            bad[op] = why
    attempted = len(res["samples"])
    failed = sum(1 for s in res["samples"] if s["error"] or s["op"] in bad)

    e2e, n_lat = end_to_end(res, setup_s, failed, attempted)
    cores = int(res["placement"]["cpus"])
    if args.trace:
        metrics = layers.compute(res["trace"], res["samples"], res["passes"], cores,
                                 delta_bytes)
        metrics.update(setup)
        metrics["trace.overhead_ratio"] = overhead_ratio(res["samples"])
        metrics = dict(sorted(metrics.items()))
        units = {n: layers.unit(n) for n in metrics}
    else:
        metrics, units = e2e, END_TO_END

    # ---- report
    pl = res["placement"]
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{len(res['ops'])} ops/pass, {len(res['passes']) - 1} warm passes, "
          f"{n_lat} warm op samples, corpus {rows}")
    for n in metrics:
        print(f"  {n:30s} {metrics[n]:16.6f} {units[n]}")
    print(f"  checks: {len(res['oracle'])} ops by DuckDB oracle, "
          f"{len(res['ops']) - len(res['oracle'])} by result digest")
    for op in res["ops"]:
        if op not in res["oracle"]:
            print(f"    digest-only {op}: {check.HASH_ONLY.get(op, 'no oracleSql entry')}")
    for op, why in bad.items():
        print(f"  FAILED {op}: {why}")
    print(f"  host: nproc={host_start['nproc']} SPARK_GRAFT_CPUS={pl['cpus']} "
          f"mem={host_start['mem_total_mb']}MB avail={host_start['mem_available_mb']}MB "
          f"heap={pl['max_heap_mb']}MB")
    print(f"  placement: localDir={pl['local_dir']} ({fs_kind(pl['local_dir'])}) "
          f"ProcScratch.base={pl['scratch_base']} ({fs_kind(work)})")
    print(f"  load: start {host_start['loadavg']:.2f} spin {host_start['spin_s']:.3f}s, "
          f"end {host_end['loadavg']:.2f} spin {host_end['spin_s']:.3f}s; "
          f"corpus generation wall {gen_wall:.2f}s, run wall {time.time() - t_start:.1f}s")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not bad, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": float(v), "unit": units[n]} for n, v in metrics.items()}}))


if __name__ == "__main__":
    main()
