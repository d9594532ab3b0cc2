"""Per-layer metrics from a traced run's span records.

Span kinds written by the runner (times are epoch milliseconds):
  op / build / action / release   one op and its three steps ("op" = pass:index)
  job, job_end, stage             from a SparkListener; jobs carry the op id
  qe                              from a QueryExecutionListener (planning phases)
  progress                        from a StreamingQueryListener (one trigger)

Self time partitions each op's wall: every instant goes to the innermost
layer covering it, in the order stage > job > catalyst phase > streaming
trigger > build / action / release step. Instants under none of these are
`trace.unaccounted_s`, so per-op self times plus the unaccounted time add
back to the op wall; `trace.layer_sum_error` reports the largest relative
difference any op shows, as a check on the accounting itself.
"""
import bisect
from collections import defaultdict

SELF_LAYERS = ("stage", "job", "catalyst", "trigger", "build", "action", "release")

# Counters summed over the traced op executions; reported per pass.
SUMMED = (
    "ops.build_s", "ops.build_jobs", "ops.build_self_s", "ops.action_self_s",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "catalyst.exchanges", "catalyst.self_s",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.gap_s", "sched.task_launch_s",
    "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.stage_self_s",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.write_s", "spill.bytes",
    "input.bytes", "scratch.release_s", "scratch.persisted", "scratch.cached_bytes",
    "streaming.batches", "streaming.state_rows",
    "sources.files_created", "sources.bytes_written", "trace.unaccounted_s",
)


def _union(iv):
    out = []
    for s, e in sorted(i for i in iv if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def _length(iv):
    return sum(e - s for s, e in iv)


def _minus(a, b):
    """Intervals of union `a` not covered by union `b`."""
    out, j = [], 0
    for s, e in a:
        cur = s
        while j < len(b) and b[j][1] <= cur:
            j += 1
        k = j
        while k < len(b) and b[k][0] < e:
            if b[k][0] > cur:
                out.append([cur, b[k][0]])
            cur = max(cur, b[k][1])
            k += 1
        if cur < e:
            out.append([cur, e])
    return out


def _clip(iv, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in iv if min(e, hi) > max(s, lo)]


def unit(name):
    """A per-layer metric's unit, from its name."""
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_share", "_ratio", "_max", "_amp", "_error")):
        return "ratio"
    return "count"


def self_times(op_span, layers):
    """{layer: self seconds} for one op; `layers` maps a name in
    SELF_LAYERS to its raw intervals."""
    lo, hi = op_span
    covered, out = [], {}
    for name in SELF_LAYERS:
        mine = _union(_clip(layers.get(name, []), lo, hi))
        out[name] = _length(_minus(mine, covered)) / 1e3
        covered = _union(covered + mine)
    out["unaccounted"] = (hi - lo) / 1e3 - _length(covered) / 1e3
    return out


def compute(records, samples, passes, cores, delta_bytes):
    """Per-layer metrics per pass: the traced warm op executions (each op
    is traced in every other warm pass) summed and divided by the number
    of whole passes they add up to; codegen from the traced cold pass."""
    by_kind = defaultdict(list)
    for r in records:
        by_kind[r["kind"]].append(r)
    spans = defaultdict(dict)                  # op id -> kind -> (s, e)
    for k in ("op", "build", "action", "release"):
        for r in by_kind[k]:
            spans[r["op"]][k] = (r["start"], r["end"])
    warm = sorted({p["pass"] for p in passes if p["pass"] > 0})
    ops = sorted((oid for oid in spans if int(oid.split(":")[0]) in warm),
                 key=lambda o: spans[o]["op"][0])
    traced = set(ops)
    name_of = {s["id"]: s["op"] for s in samples}
    starts = [spans[o]["op"][0] for o in ops]

    def owner(t):
        """Op whose interval holds epoch-ms time t (ops run one at a time)."""
        i = bisect.bisect_right(starts, t) - 1
        if i >= 0 and t <= spans[ops[i]]["op"][1]:
            return ops[i]
        return None

    jobs = {r["job"]: r for r in by_kind["job"] if r["op"] in spans}
    job_end = {r["job"]: r["end"] for r in by_kind["job_end"]}
    stage_op = {}
    for j in jobs.values():
        for s in j["stages"]:
            stage_op.setdefault(s, j["op"])
    layers = defaultdict(lambda: defaultdict(list))
    m = defaultdict(float, {k: 0.0 for k in SUMMED})
    for j in jobs.values():
        if j["op"] in traced:
            layers[j["op"]]["job"].append((j["start"], job_end.get(j["job"], j["start"])))
            m["sched.jobs"] += 1
            m["ops.build_jobs"] += j["phase"] == "build"
    skew = 0.0
    for s in by_kind["stage"]:
        oid = stage_op.get(s["stage"])
        if oid not in traced or s["start"] < 0:
            continue
        layers[oid]["stage"].append((s["start"], s["end"]))
        m["sched.stages"] += 1
        m["sched.tasks"] += s["tasks"]
        m["sched.task_launch_s"] += s["task_overhead_ms"] / 1e3
        m["exec.run_s"] += s.get("run_ms", 0) / 1e3
        m["exec.cpu_s"] += s.get("cpu_ns", 0) / 1e9
        m["exec.gc_s"] += s.get("gc_ms", 0) / 1e3
        m["shuffle.write_bytes"] += s.get("shuffle_write_bytes", 0)
        m["shuffle.read_bytes"] += s.get("shuffle_read_bytes", 0)
        m["shuffle.write_s"] += s.get("shuffle_write_ns", 0) / 1e9
        m["shuffle.fetch_wait_s"] += s.get("fetch_wait_ms", 0) / 1e3
        m["spill.bytes"] += s.get("spill_bytes", 0)
        m["input.bytes"] += s.get("input_bytes", 0)
        m["sources.bytes_written"] += s.get("output_bytes", 0)
        if name_of.get(oid, "").startswith("keyed_merge"):
            m["_merge_bytes"] += s.get("output_bytes", 0)
        if s["tasks"] >= 2 and s["task_median_ms"] > 0:
            skew = max(skew, s["task_max_ms"] / s["task_median_ms"])
    for q in by_kind["qe"]:
        phases = [q[p] for p in ("analysis", "optimization", "planning") if q[p]]
        oid = owner(phases[-1][0]) if phases else None
        if oid is None:
            continue
        for p in ("analysis", "optimization", "planning"):
            if q[p]:
                m[f"catalyst.{p}_s"] += (q[p][1] - q[p][0]) / 1e3
                layers[oid]["catalyst"].append(tuple(q[p]))
        m["catalyst.exchanges"] += q["exchanges"]
        m["sources.files_created"] += q["files"]
    trig = defaultdict(float)
    for p in by_kind["progress"]:
        oid = owner(p["start"])
        if oid is None:
            continue
        d = p["duration"]
        te = d.get("triggerExecution", 0)
        layers[oid]["trigger"].append((p["start"], p["start"] + te))
        trig[oid] += te / 1e3
        m["streaming.batches"] += 1
        m["streaming.state_rows"] += p["state_rows"]
        for key, name in (("triggerExecution", "trigger"), ("addBatch", "add_batch"),
                          ("queryPlanning", "query_planning"), ("walCommit", "wal_commit"),
                          ("commitOffsets", "commit_offsets")):
            m[f"_stream.{name}"] += d.get(key, 0) / 1e3
    wall = 0.0
    worst = 0.0
    for oid in ops:
        sp = spans[oid]
        for k in ("build", "action", "release"):
            layers[oid][k].append(sp[k])
        st = self_times(sp["op"], layers[oid])
        w = (sp["op"][1] - sp["op"][0]) / 1e3
        wall += w
        worst = max(worst, abs(sum(st.values()) - w) / w if w > 0 else 0.0)
        m["exec.stage_self_s"] += st["stage"]
        m["sched.gap_s"] += st["job"]
        m["catalyst.self_s"] += st["catalyst"]
        m["ops.build_self_s"] += st["build"]
        m["ops.action_self_s"] += st["action"]
        m["trace.unaccounted_s"] += st["unaccounted"]
        m["ops.build_s"] += (sp["build"][1] - sp["build"][0]) / 1e3
        m["scratch.release_s"] += (sp["release"][1] - sp["release"][0]) / 1e3
        if oid in trig:
            m["_stream.start_stop"] += w - trig[oid]
        name = name_of.get(oid, "")
        if name.startswith("keyed_merge"):
            m["_src.merge"] += w
        elif name == "keyed_compact":
            m["_src.compact"] += w
        elif name.startswith("group_commit"):
            m["_src.commit"] += w
    for s in samples:
        if s["traced"] and s["pass"] in warm:
            m["scratch.persisted"] += s["persisted"]
            m["scratch.cached_bytes"] += s["cached_bytes"]
    per_pass = sum(1 for s in samples if s["pass"] == 0)
    n = max(1.0, len(ops) / per_pass) if per_pass else 1.0
    out = {k: v / n for k, v in m.items() if not k.startswith("_")}
    # layers only some workloads exercise: shares of traced op wall, so a
    # workload without the layer reads 0 as a ratio, not as a constant time
    share = lambda k: m[k] / wall if wall > 0 else 0.0
    for name in ("trigger", "add_batch", "query_planning", "wal_commit",
                 "commit_offsets", "start_stop"):
        out[f"streaming.{name}_share"] = share(f"_stream.{name}")
    for name in ("merge", "compact", "commit"):
        out[f"sources.{name}_share"] = share(f"_src.{name}")
    out["sources.write_amp"] = (m["_merge_bytes"] / n) / delta_bytes if delta_bytes else 0.0
    out.pop("shuffle.fetch_wait_s", None)
    out["shuffle.fetch_wait_share"] = (m["shuffle.fetch_wait_s"] / m["exec.run_s"]
                                       if m["exec.run_s"] else 0.0)
    out["exec.busy_ratio"] = m["exec.run_s"] / (wall * cores) if wall > 0 else 0.0
    out["exec.wall_share"] = m["exec.stage_self_s"] / wall if wall > 0 else 0.0
    out["exec.skew_max"] = skew
    out["trace.layer_sum_error"] = worst
    cold = [p for p in passes if p["pass"] == 0]
    out["codegen.compile_s"] = cold[0]["codegen_ns"] / 1e9 if cold else 0.0
    out["codegen.classes"] = cold[0]["codegen_classes"] if cold else 0
    return out
