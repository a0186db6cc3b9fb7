#!/usr/bin/env python3
"""Benchmark of the lamapispark engine.

    python3 kgbench/run.py --workload link_pages --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Builds the engine and the benchmark with
`kgbench/build.py` when the sources changed, runs one workload in a fresh
JVM (`kgbench.Main`) and prints, as the last line of standard output, one
JSON object: `correct`, `attempted`, `failed` and `metrics`.

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1` they
are the per-layer ones, from a run with a Spark listener and spans around
the calls into each module. Workload sizes, the JVM flags and the Spark
session come from `kgbench/config.json`. A traced run also writes its spans
(with self time) and a summary under `.bench_build/kgbench/traces/`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "kgbench")
JVM_TIMEOUT_S = 170

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def load_config():
    with open(os.path.join(HERE, "config.json")) as fh:
        return json.load(fh)


def run_jvm(cfg, cp, args, deadline):
    """One `kgbench.Main` run; returns its raw measurement document."""
    wl = cfg["workloads"][args.workload]
    run_dir = os.path.join(OUT, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    raw_path = run_dir + ".json"
    log_path = run_dir + ".log"
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += cfg["jvm"] + [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
                         "-cp", cp, "kgbench.Main",
                         "--workload", args.workload, "--seed", str(args.seed),
                         "--seconds", str(args.seconds), "--trace", str(args.trace),
                         "--out", raw_path, "--work", run_dir,
                         "--setup_reps", str(cfg["setup_reps"])]
    for k in ("pages", "entities", "cells"):
        cmd += [f"--{k}", str(wl.get(k, 0))]
    for k, v in cfg["session"].items():
        cmd += [f"--{k}", str(v).format(run_dir=run_dir)]
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, stdout=log, stderr=log, cwd=ROOT)
            try:
                code = p.wait(timeout=max(1.0, deadline - time.time()))
            except BaseException:
                p.kill()
                p.wait()
                raise
        if code != 0:
            with open(log_path) as fh:
                tail = fh.read()[-4000:]
            raise RuntimeError(f"kgbench.Main exited with {code}:\n{tail}")
        with open(raw_path) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        for f in (raw_path, log_path):
            if os.path.exists(f):
                os.remove(f)


def write_trace(args, raw):
    """Spans with self time, and the run summary, for later reading."""
    d = os.path.join(OUT, "traces")
    os.makedirs(d, exist_ok=True)
    base = os.path.join(d, f"{args.workload}-seed{args.seed}")
    spans = raw.get("spans", [])
    selfs = stats.self_times(spans)
    with open(base + ".spans.jsonl", "w") as fh:
        for s in spans:
            fh.write(json.dumps(dict(s, self_ms=selfs[s["id"]])) + "\n")
    op_ms = [o["ms"] for o in raw["ops"]]
    tail = stats.tail_percentile(op_ms)
    summary = {
        "workload": args.workload, "seed": args.seed,
        "op_samples": len(op_ms),
        "op_ms_tail": ({"percentile": tail[0], "ms": tail[1], "samples_beyond": tail[2]}
                       if tail else None),
        "failures": raw["failures"],
    }
    with open(base + ".summary.json", "w") as fh:
        json.dump(summary, fh, indent=1)


def result(raw, problems=()):
    ops = raw["ops"]
    failed = sum(1 for o in ops if not o["ok"]) + len(problems)
    return {"correct": failed == 0 and not raw["failures"],
            "attempted": len(ops) + len(problems), "failed": failed}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated benchmark stops its JVM too (run_jvm kills it on exit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cfg = load_config()
    if args.workload not in cfg["workloads"]:
        ap.error(f"unknown workload {args.workload}; one of {sorted(cfg['workloads'])}")
    try:
        cp = build.build()
    except (RuntimeError, OSError) as e:
        print(f"[kgbench] build failed: {e}", file=sys.stderr)
        return 2
    try:
        raw = run_jvm(cfg, cp, args, time.time() + JVM_TIMEOUT_S)
        if args.trace == 0:
            line = dict(result(raw), metrics={
                name: {"value": stats.end_to_end(raw)[name], "unit": unit}
                for name, unit, _ in stats.END_TO_END})
        else:
            layers, problems = stats.per_layer(raw)
            write_trace(args, raw)
            for p in problems:
                print(f"[kgbench] {p}", file=sys.stderr)
            print(f"[kgbench] unattributed share of task time: "
                  f"{layers['pipeline.unattributed.share']:.4f}", file=sys.stderr)
            line = dict(result(raw, problems), metrics={
                name: {"value": layers[name], "unit": unit}
                for name, unit, _ in stats.PER_LAYER})
    except (RuntimeError, OSError, subprocess.TimeoutExpired) as e:
        print(f"[kgbench] run failed: {e}", file=sys.stderr)
        return 3
    for f in raw["failures"]:
        print(f"[kgbench] check failed: {f}", file=sys.stderr)
    print(f"[kgbench] set-up {[round(x, 2) for x in raw['setup_s']]} s, index build "
          f"{raw.get('index_build_s', 0):.1f} s, ops {[round(o['ms']) for o in raw['ops']]} ms, "
          f"window {raw['window_s']:.1f} s", file=sys.stderr)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
