"""Turns the harness's raw records into the benchmark's metrics.

Pure functions over the JSON the JVM side writes, so the arithmetic
(percentiles, interval unions, span self time) is unit-tested without
Spark. Every timing comes with its sample count.
"""
import math
import statistics

# The gated timings are scaled to a host on which the JVM's host probe
# (HostProbe.sample, taken just before each op and each warm restart)
# takes this long: t × REFERENCE_PROBE_NS / probe. Unscaled figures are
# printed beside them under `*_raw_s`.
REFERENCE_PROBE_NS = 5e6


def percentile(values, q):
    """Linear-interpolated percentile, q in [0, 1] (numpy's default rule)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def union_length(intervals):
    """Total length covered by (start, end) intervals; overlaps count once."""
    total = 0
    cur_start = cur_end = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans):
    """{span name: total self time}: each span's duration minus the part of
    its interval its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover = union_length(
            (max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
            for c in children.get(s["id"], []))
        out[s["name"]] = out.get(s["name"], 0) + (s["end_ns"] - s["start_ns"] - cover)
    return out


def _dur(op):
    return (op["end_ns"] - op["start_ns"]) / 1e9


def _scaled(op):
    return _dur(op) * REFERENCE_PROBE_NS / op["probe_ns"]


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _mean(xs, default=0.0):
    return sum(xs) / len(xs) if xs else default


def end_to_end(raw, window):
    """End-to-end metrics of one window plus the governed-table extras.
    Returns {name: (value, unit, samples)}."""
    ops = window["ops"]
    done = [o for o in ops if o["ok"]]
    t = [_dur(o) for o in ops]
    by_cls = {}
    for o in ops:
        by_cls.setdefault(o["cls"], []).append(_dur(o))
    queries = by_cls.get("query", [])
    m = {
        "setup_s": (statistics.median(s * REFERENCE_PROBE_NS / p for s, p in
                                      zip(raw["setup_s"][1:], raw["setup_probe_ns"][1:])),
                    "s", len(raw["setup_s"]) - 1),
        "setup_raw_s": (statistics.median(raw["setup_s"][1:]), "s", len(raw["setup_s"]) - 1),
        "cold_setup_s": (raw["setup_s"][0] + raw["prime_s"], "s", 1),
        "ops_per_s": (len(done) / window["elapsed_s"], "1/s", len(done)),
        "op_p50_s": (percentile(t, 0.5), "s", len(t)),
        "op_p90_s": (percentile(t, 0.9), "s", len(t)),
        "op_p50_geomean_s": (kind_p50_geomean(ops, _scaled), "s", len(t)),
        "op_p50_geomean_raw_s": (kind_p50_geomean(ops), "s", len(t)),
        "host_probe_ms": (statistics.median(o["probe_ns"] for o in ops) / 1e6, "ms", len(t)),
        "query_p50_s": (percentile(queries, 0.5) if queries else 0.0, "s", len(queries)),
        "retained_heap_mb": (window["retained_heap_bytes"] / 2**20, "MB", 1),
    }
    commits = by_cls.get("commit", [])
    if commits:
        m["commit_p50_s"] = (percentile(commits, 0.5), "s", len(commits))
        m["commit_p90_s"] = (percentile(commits, 0.9), "s", len(commits))
    refreshes = by_cls.get("refresh", [])
    if refreshes:
        m["mv_refresh_p50_s"] = (percentile(refreshes, 0.5), "s", len(refreshes))
    end = window.get("end", {})
    if end.get("live_bytes"):
        m["stored_bytes_per_live_byte"] = (end["stored_bytes"] / end["live_bytes"],
                                           "ratio", 1)
    return m


def _per_op_sums(listener, op_ids):
    keys = {}
    for op in op_ids:
        for k, v in listener["per_op"].get(str(op), {}).items():
            keys[k] = keys.get(k, 0) + v
    return keys


def _jobs_by_op(listener):
    out = {}
    for j in listener["jobs"]:
        out.setdefault(j["op"], []).append((j["start_ms"] / 1e3, j["end_ms"] / 1e3))
    return out


PHASES = ("analysis", "optimization", "planning")


def _phases_by_op(executions):
    """{op: {phase: [(start_s, end_s)]}} from every execution's planning
    tracker. Nested executions overlap their parents, so phase time is
    always taken as an interval union."""
    out = {}
    for e in executions:
        acc = out.setdefault(e["op"], {p: [] for p in PHASES})
        for k, (start, end) in e.get("phases", {}).items():
            if k in acc:
                acc[k].append((start / 1e3, end / 1e3))
    return out


def per_layer(raw, untraced, traced):
    """Per-layer metrics from the traced window; {name: (value, unit)}.
    Counters and times are per op of the window (or per op of the named
    kind) unless the unit says otherwise."""
    ops = traced["ops"]
    n = max(1, len(ops))
    ids = [o["id"] for o in ops]
    lst = traced["listener"]
    sums = _per_op_sums(lst, ids)
    jobs = _jobs_by_op(lst)
    phases = _phases_by_op(traced["executions"])
    wall = {o["id"]: _dur(o) for o in ops}

    def plan_iv(op):
        return [iv for ivs in phases.get(op, {}).values() for iv in ivs]

    def plan_s(op):
        return union_length(plan_iv(op))

    def job_s(op):
        return union_length(jobs.get(op, []))

    def driver_s(op):
        """Op wall time covered by neither planning nor a running job."""
        return max(0.0, wall[op] - union_length(plan_iv(op) + jobs.get(op, [])))

    plan_total = sum(plan_s(i) for i in ids)
    m = {}
    for phase, name in zip(PHASES, ("analyze", "optimize", "physical")):
        m[f"plans.{name}_s"] = (sum(union_length(phases.get(i, {}).get(phase, []))
                                    for i in ids) / n, "s/op")
    m["plans.share"] = (plan_total / max(1e-9, sum(wall.values())), "ratio")
    mvq = [o for o in ops if o["kind"] == "mv_query"]
    hits = sum(1 for o in mvq if o.get("mv_rewrite"))
    m["plans.mv_rewrite_attempts"] = (len(mvq), "count")
    m["plans.mv_rewrite_hits"] = (hits, "count")
    m["plans.mv_rewrite_hit_ratio"] = (hits / len(mvq) if mvq else 0.0, "ratio")

    def s(key, scale=1.0):
        return sums.get(key, 0) * scale / n

    m.update({
        "exec.jobs": (s("jobs"), "count/op"),
        "exec.stages": (s("stages"), "count/op"),
        "exec.tasks": (s("tasks"), "count/op"),
        "exec.job_s": (sum(job_s(i) for i in ids) / n, "s/op"),
        "exec.driver_gap_s": (sum(driver_s(i) for i in ids) / n, "s/op"),
        "exec.task_run_s": (s("task_run_ms", 1e-3), "s/op"),
        "exec.task_cpu_s": (s("task_cpu_ns", 1e-9), "s/op"),
        "exec.task_wait_s": ((sums.get("task_duration_ms", 0) - sums.get("task_run_ms", 0))
                             / 1e3 / n, "s/op"),
        "exec.gc_s": (s("gc_ms", 1e-3), "s/op"),
        "exec.spill_bytes": (s("spill_bytes"), "B/op"),
        "exec.task_failures": (sums.get("task_failures", 0), "count"),
        "exec.stage_retries": (sums.get("stage_retries", 0), "count"),
        "exec.straggler_ratio": (_straggler(lst, ids), "ratio"),
        "shuffle.write_bytes": (s("shuffle_write_bytes"), "B/op"),
        "shuffle.write_records": (s("shuffle_write_records"), "count/op"),
        "shuffle.write_s": (s("shuffle_write_ns", 1e-9), "s/op"),
        "shuffle.read_bytes": (s("shuffle_read_bytes"), "B/op"),
        "shuffle.remote_read_bytes": (s("shuffle_remote_bytes"), "B/op"),
        "shuffle.fetch_wait_s": (s("shuffle_fetch_wait_ms", 1e-3), "s/op"),
        "shuffle.files": (traced["shuffle_files"], "count"),
        "shuffle.map_recomputes": (sums.get("map_recomputes", 0), "count"),
        "shuffle.share": ((sums.get("shuffle_write_ns", 0) / 1e9
                           + sums.get("shuffle_fetch_wait_ms", 0) / 1e3)
                          / max(1e-9, sums.get("task_run_ms", 0) / 1e3), "ratio"),
    })

    commits = [o for o in ops if o["cls"] == "commit" and o["ok"]]
    c_ids = [o["id"] for o in commits]
    end = traced.get("end", {})
    m.update({
        "sources.meta.resolve_s": (_median([o["resolve_ns"] / 1e9 for o in commits
                                            if "resolve_ns" in o]), "s"),
        "sources.meta.commit_driver_s": (_median([max(0.0, wall[i] - job_s(i))
                                                  for i in c_ids]), "s"),
        "sources.meta.fs_read_bytes": (_mean([o.get("fs_read_bytes", 0) for o in commits]),
                                       "B/commit"),
        "sources.meta.fs_write_bytes": (_mean([o.get("fs_write_bytes", 0) for o in commits]),
                                        "B/commit"),
        "sources.meta.log_bytes": (end.get("log_bytes", 0), "B"),
        "sources.meta.versions": (end.get("versions", 0), "count"),
        "sources.write.job_s": (_mean([job_s(i) for i in c_ids]), "s/commit"),
        "sources.write.files": (_mean([o.get("files_added", 0) for o in commits]),
                                "count/commit"),
        "sources.write.rows": (_mean([o.get("rows_added", 0) for o in commits]),
                               "count/commit"),
        "sources.write.bytes": (_mean([o.get("bytes_added", 0) for o in commits]),
                                "B/commit"),
    })

    reads = [o["id"] for o in ops if o["cls"] == "query"]
    scan_execs = [e for e in traced["executions"]
                  if e["op"] in set(reads) and e.get("manifest_scans", 0) > 0]
    listed = sum(e["files_listed"] for e in scan_execs)
    skipped = sum(e["files_skipped"] for e in scan_execs)
    nr = max(1, len(reads))
    m.update({
        "sources.scan.files_listed": (listed / nr, "count/read"),
        "sources.scan.files_skipped": (skipped / nr, "count/read"),
        "sources.scan.files_planned": (sum(e["files_planned"] for e in scan_execs) / nr,
                                       "count/read"),
        "sources.scan.skip_ratio": (skipped / listed if listed else 0.0, "ratio"),
        "sources.scan.bytes_read": (_mean([o.get("fs_read_bytes", 0) for o in ops
                                           if o["cls"] == "query"]), "B/read"),
    })

    refreshes = [o["id"] for o in ops if o["cls"] == "refresh" and o["ok"]]
    r_sums = _per_op_sums(lst, refreshes)
    nf = max(1, len(refreshes))
    m.update({
        "sources.mv.refresh_jobs": (r_sums.get("jobs", 0) / nf, "count/refresh"),
        "sources.mv.refresh_task_s": (r_sums.get("task_run_ms", 0) / 1e3 / nf, "s/refresh"),
        "sources.mv.refresh_driver_s": (_mean([driver_s(i) for i in refreshes]),
                                        "s/refresh"),
        "sources.mv.refresh_plan_s": (_mean([plan_s(i) for i in refreshes]), "s/refresh"),
    })

    probes = {p["kind"]: p for p in traced.get("probes", [])}
    for kind in ("min_hash_candidates", "exact_jaccard_pairs", "dedup_clusters",
                 "lsh_neighbors", "topk_neighbors"):
        p = probes.get("api." + kind)
        m[f"api.{kind}_s"] = (_dur(p) if p else 0.0, "s")
    cand = probes.get("api.min_hash_candidates", {}).get("candidate_pairs", 0)
    conf = probes.get("api.exact_jaccard_pairs", {}).get("confirmed_pairs", 0)
    dedup = probes.get("api.dedup_clusters")
    m.update({
        "api.candidate_pairs": (cand, "count"),
        "api.confirmed_pairs": (conf, "count"),
        "api.candidate_precision": (conf / cand if cand else 0.0, "ratio"),
        "api.cc_jobs": (lst["per_op"].get(str(dedup["id"]), {}).get("jobs", 0)
                        if dedup else 0, "count"),
        "jvm.gc_s": (traced["gc_ms"] / 1e3 / n, "s/op"),
        "jvm.heap_peak_mb": (traced["heap_peak_bytes"] / 2**20, "MB"),
    })

    selfs = self_times(traced["spans"])
    op_spans = [s for s in traced["spans"] if s["op"] in set(ids)]
    op_self = self_times(op_spans)
    for layer, prefix in (("plans", "plans."), ("exec", "exec."), ("sources", "sources.")):
        m[f"self.{layer}_s"] = (sum(v for k, v in op_self.items() if k.startswith(prefix))
                                / 1e9 / n, "s/op")
    m["self.bench_s"] = (op_self.get("op", 0) / 1e9 / n, "s/op")
    m["self.api_s"] = (sum(v for k, v in selfs.items() if k.startswith("api.")) / 1e9, "s")

    base = end_to_end(raw, untraced)
    mine = end_to_end(raw, traced)
    for k in ("ops_per_s", "op_p50_s", "op_p90_s"):
        m[f"trace.{k}"] = (mine[k][0], mine[k][1])
    m["trace.overhead_op_p50"] = (tracing_overhead(untraced["ops"], ops), "ratio")
    m["trace.overhead_ops_per_s"] = (1.0 - mine["ops_per_s"][0] / base["ops_per_s"][0],
                                     "ratio")
    for k in ("commit_p50_s", "commit_p90_s", "mv_refresh_p50_s",
              "stored_bytes_per_live_byte"):
        v = base.get(k)
        m[f"cdc.{k}"] = (v[0], v[1]) if v else (0.0, "s" if k.endswith("_s") else "ratio")
    return m


def times_by_kind(ops, dur=_dur):
    """{op kind: [seconds]}."""
    by = {}
    for o in ops:
        by.setdefault(o["kind"], []).append(dur(o))
    return by


def kind_p50_geomean(ops, dur=_dur):
    """Geometric mean over op kinds of each kind's median time: every kind
    counts once whatever its share of the window's ops, so the figure does
    not move with where the window ends in the op mix, and a slowdown of any
    one kind moves it."""
    meds = [statistics.median(ts) for ts in times_by_kind(ops, dur).values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def tracing_overhead(untraced_ops, traced_ops):
    """Median over op kinds run in both windows of (traced median time /
    untraced median time) - 1; comparing kind by kind keeps a different op
    mix in the two windows out of the estimate."""
    def medians(ops):
        return {k: statistics.median(v) for k, v in times_by_kind(ops).items()}
    a, b = medians(untraced_ops), medians(traced_ops)
    ratios = [b[k] / a[k] for k in a.keys() & b.keys() if a[k] > 0]
    return _median(ratios, 1.0) - 1.0


def _straggler(listener, op_ids):
    """Median over ops of max/median task time in the op's heaviest stage
    (the stage with the most task time)."""
    ids = set(op_ids)
    heaviest = {}
    for st in listener["stage_tasks"]:
        if st["op"] not in ids or len(st["task_ms"]) < 2:
            continue
        total = sum(st["task_ms"])
        if total > heaviest.get(st["op"], (-1, None))[0]:
            heaviest[st["op"]] = (total, st["task_ms"])
    ratios = [max(ts) / max(1.0, statistics.median(ts)) for _, ts in heaviest.values()]
    return _median(ratios)
