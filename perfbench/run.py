#!/usr/bin/env python3
"""The engine's benchmark: one closed-loop workload per run, in its own JVM.

    python3 perfbench/run.py --workload olap_join_agg --seed 1 --seconds 30 --trace 0

Run from the repository root. The first run compiles the engine and the
harness (see build.py). Each run generates its input tables from the seed,
sets the workload up several times (the median is `setup_s`), runs one
client that issues the next op when the previous one returns, checks every
op's output, and prints the metrics; the last stdout line is one JSON
object. `--trace 1` adds a traced window after the untraced one and
reports per-layer metrics, the tracing overhead and a span file. See
README.md for the workloads, the metrics and the layer each belongs to.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import datagen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("olap_join_agg", "governed_cdc", "llm_corpus")
QUERY_WORKLOADS = ("olap_join_agg", "llm_corpus")
RUN_LIMIT_S = 170
# The end-to-end metrics BENCHMARK.json gates: the ones every workload has
# and that stay steady over a window; the rest are printed.
GATED = ("op_p50_geomean_s", "retained_heap_mb", "setup_s")
JDK_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=0.01,
                   help="input scale factor (0.01: 60k lineitem rows)")
    p.add_argument("--inject-wrong", action="store_true",
                   help="corrupt the first read op's result (tests failure counting)")
    return p.parse_args(argv)


def run_jvm(classpath, args, data, work, out, deadline):
    here = os.path.dirname(os.path.abspath(__file__))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss16m", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(here, 'log4j2.properties')}"]
    for pkg in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{pkg}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--work", work, "--out", out,
            "--inject", "1" if args.inject_wrong else "0"]
    proc = subprocess.Popen(cmd, stdout=sys.stderr)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise SystemExit("perfbench: the workload JVM overran the run limit")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        raise SystemExit(f"perfbench: the workload JVM exited with {rc}")


def count_failures(raw, verdicts):
    """(attempted, failed, messages): every op of every window, every
    post-window check, and every op whose query failed the oracle."""
    ops = [o for w in raw["windows"] for o in w["ops"]]
    bad_queries = {q for q, v in verdicts.items() if v is not None}
    msgs = [f"oracle: {q}: {verdicts[q]}" for q in sorted(bad_queries)]
    failed = 0
    for o in ops:
        if not o["ok"] or o["kind"] in bad_queries:
            failed += 1
            if o.get("error"):
                msgs.append(f"op {o['id']}: {o['error']}")
    for c in raw["checks"]:
        if not c["ok"]:
            failed += 1
            msgs.append(f"check {c['name']}: {c['error']}")
    return len(ops) + len(raw["checks"]), failed, msgs


def main(argv):
    args = parse_args(argv)
    # a terminated run still stops its JVM and deletes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    repo = os.getcwd()
    classpath = build.build(repo)
    deadline = time.time() + RUN_LIMIT_S
    scratch = os.path.join(build.build_root(repo), f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        data, work = os.path.join(scratch, "data"), os.path.join(scratch, "work")
        datagen.generate(data, args.seed, args.scale)
        out = os.path.join(scratch, "raw.json")
        run_jvm(classpath, args, data, work, out, deadline)
        with open(out) as fh:
            raw = json.load(fh)
        verdicts = (oracle.check(data, os.path.join(work, "results"))
                    if args.workload in QUERY_WORKLOADS else {})
        attempted, failed, msgs = count_failures(raw, verdicts)
        untraced = raw["windows"][0]
        e2e = metrics.end_to_end(raw, untraced)
        e2e["failed_op_ratio"] = (failed / attempted, "ratio", attempted)
        for name, (value, unit, n) in e2e.items():
            print(f"{args.workload} {name} = {value:.6g} {unit} (n={n})")
        print(f"{args.workload} set-ups: " + ", ".join(f"{s:.3f}" for s in raw["setup_s"])
              + f" s; warm-up: {raw['prime_s']:.3f} s")
        for kind, ts in sorted(metrics.times_by_kind(untraced["ops"]).items()):
            print(f"{args.workload} op {kind}: n={len(ts)} p50={metrics.percentile(ts, 0.5):.3f} s")
        if args.trace:
            layers = metrics.per_layer(raw, untraced, raw["windows"][1])
            for name, (value, unit) in layers.items():
                print(f"{args.workload} {name} = {value:.6g} {unit}")
            spans_path = os.path.join(build.build_root(repo), "traces",
                                      f"{args.workload}-seed{args.seed}.json")
            os.makedirs(os.path.dirname(spans_path), exist_ok=True)
            with open(spans_path, "w") as fh:
                json.dump(raw["windows"][1]["spans"], fh)
            print(f"{args.workload} spans written to {os.path.relpath(spans_path, repo)}")
            reported = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        else:
            reported = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in GATED}
        for m in msgs:
            print(f"perfbench: FAILED {m}", file=sys.stderr)
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": reported}
        print(json.dumps(result))
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
