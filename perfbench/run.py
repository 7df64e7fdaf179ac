#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 15 --trace 0

Run from the root of a graft checkout.  The first run builds the engine and
the workload runner with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged.  Inputs are generated from the seed
under a fresh per-run directory in .bench_build/runs/, which is removed when
the run ends.  The last line of stdout is the result object; lines before it
list every metric with its unit and direction, the input checksum and, with
--trace 1, the per-layer table.  See perfbench/README.md.
"""

import argparse
import fcntl
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("curate", "stream_rw")
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# stream_rw: one file dropped every STREAM_INTERVAL_MS
STREAM_INTERVAL_MS = 250
# curate: corpus size and layout, untimed warm-up passes, timed passes
CURATE_DOCS = 9000
CURATE_FILES = 8
CURATE_VECTORS = 6000
CURATE_WARMUP = 2
CURATE_PASSES = 2

# (name, unit, direction); the order is the order printed
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("op_p50_s", "s", "lower"),
    ("op_p90_s", "s", "lower"),
    ("input_mb_per_s", "MB/s", "higher"),
    ("heap_peak_mb", "MB", "lower"),
]
PER_LAYER = [
    ("per_op.jobs", "count", "lower"),
    ("per_op.tasks", "count", "lower"),
    ("per_op.task_run_s", "s", "lower"),
    ("per_op.task_cpu_s", "s", "lower"),
    ("per_op.analysis_s", "s", "lower"),
    ("per_op.optimization_s", "s", "lower"),
    ("per_op.planning_s", "s", "lower"),
    ("per_op.driver_gap_s", "s", "lower"),
    ("per_op.graft_self_s", "s", "lower"),
    ("per_op.input_mb", "MB", "lower"),
    ("per_op.shuffle_write_mb", "MB", "lower"),
    ("task_skew", "ratio", "lower"),
    ("jvm.gc_s", "s", "lower"),
    ("jvm.heap_after_gc_mb", "MB", "lower"),
    ("trace.overhead_pct", "%", "lower"),
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src", "build.sbt",
                "perfbench/build.sbt", "project/build.properties",
                "perfbench/project/build.properties"):
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; return the classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
                open(stamp_file).read() == stamp:
            return open(cp_file).read()
        log("perfbench: building (sbt)")
        res = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=840)
        lines = [ln for ln in res.stdout.splitlines() if ln.strip()]
        if res.returncode != 0 or not lines or ".jar" not in lines[-1]:
            log(res.stdout[-4000:])
            sys.exit("perfbench: build failed")
        with open(cp_file, "w") as f:
            f.write(lines[-1].strip())
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return lines[-1].strip()


# ----------------------------------------------------------------- inputs

def tree_sha256(path):
    h = hashlib.sha256()
    for d, dirs, fs in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(workload, seed, inputs, seconds, traced):
    """Write the workload's inputs and the plan files the JVM reads."""
    r = random.Random(f"{workload}:{seed}")
    if workload == "curate":
        c = os.path.join(inputs, "curate")
        truth = gen.curate(r, c, CURATE_DOCS, CURATE_FILES,
                           n_vec=CURATE_VECTORS)
        with open(os.path.join(c, "plan.tsv"), "w") as f:
            f.write(f"warmup\t{CURATE_WARMUP}\npasses\t{CURATE_PASSES}\n")
    else:
        per_window = int(seconds * 1000 / STREAM_INTERVAL_MS) + 2
        s = os.path.join(inputs, "stream")
        truth = gen.stream_rw(r, s, 3, per_window * (3 if traced else 1))
        with open(os.path.join(s, "plan.tsv"), "w") as f:
            f.write(f"initial\t{truth['n_initial']}\nfiles\t"
                    f"{truth['n_files']}\ninterval_ms\t{STREAM_INTERVAL_MS}\n"
                    f"rows_per_file\t{truth['rows_per_file']}\n")
    return truth


# ---------------------------------------------------------------- metrics

def pct(xs, q):
    """Linear-interpolated percentile of a non-empty list."""
    s = sorted(xs)
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def end_to_end(workload, res, t0, extra):
    ops = [o for o in res["ops"] if o["ok"]]
    busy = sum(o["dur_s"] for o in ops)
    if workload == "stream_rw":  # scheduled drop to visible
        lat = extra["visible_s"]
        mb_per_s = extra["ingest_mb_per_s"]
    else:
        lat = [o["dur_s"] for o in ops]
        mb_per_s = sum(o["bytes"] for o in ops) / 1e6 / busy
    return {
        "setup_s": res["first_op_ms"] / 1e3 - t0,
        "ops_per_s": len(ops) / busy,
        "op_p50_s": pct(lat, 0.5),
        "op_p90_s": pct(lat, 0.9),
        "input_mb_per_s": mb_per_s,
        "heap_peak_mb": max(res["heap_after_full_gc_mb"]),
    }


def per_layer(res, extra):
    spans = {s["name"]: s["m"] for s in res["spans"]}
    n_ops = max(1, extra["traced_ops"])

    def total(key, names=None):
        return sum(v[key] for k, v in spans.items()
                   if names is None or k in names)

    # driver gaps of nested spans are inside their parent's gap already
    top = [k for k, v in spans.items() if not v["nested"]]
    calls = [k for k in spans if not k.startswith("exec.")]
    return {
        "per_op.jobs": total("jobs") / n_ops,
        "per_op.tasks": total("tasks") / n_ops,
        "per_op.task_run_s": total("task_run_s") / n_ops,
        "per_op.task_cpu_s": total("task_cpu_s") / n_ops,
        "per_op.analysis_s": total("analysis_s") / n_ops,
        "per_op.optimization_s": total("optimization_s") / n_ops,
        "per_op.planning_s": total("planning_s") / n_ops,
        "per_op.driver_gap_s": total("driver_gap_s", top) / n_ops,
        "per_op.graft_self_s": total("self_s", calls) / n_ops,
        "per_op.input_mb": total("input_mb") / n_ops,
        "per_op.shuffle_write_mb": total("shuffle_write_mb") / n_ops,
        "task_skew": max((v["task_skew"] for v in spans.values()),
                         default=0.0),
        "jvm.gc_s": res["traced_gc_s"],
        "jvm.heap_after_gc_mb": pct(res["traced_heap_after_gc_mb"], 0.5),
        "trace.overhead_pct": extra["overhead_pct"],
    }


def layer_table(res, extra):
    """Rows of the printed per-layer table: one per span name and counter,
    plus the workload's derived layer figures."""
    rows = []
    for s in sorted(res["spans"], key=lambda s: s["name"]):
        for k, v in sorted(s["m"].items()):
            rows.append((f"{s['name']}.{k}", v))
    for k, v in sorted(res["layer"].items()):
        rows.append((k, v))
    for k, v in sorted(extra.get("layer", {}).items()):
        rows.append((k, v))
    # per-byte or fixed-cost bound: a row's task time spread over the
    # cores against the time the driver spends outside jobs and planning
    spans = {s["name"]: s["m"] for s in res["spans"]}
    for name in sorted(spans):
        if name.startswith("operators."):
            row = name[len("operators."):]
            both = [spans[name], spans.get(f"exec.collect[{row}]", {})]
            rows.append((f"{name}.task_run_per_core_s",
                         sum(m.get("task_run_s", 0) for m in both)
                         / res["cores"]))
            rows.append((f"{name}.driver_gap_planning_s",
                         sum(m.get("driver_gap_s", 0) + m.get("planning_s", 0)
                             for m in both)))
    return rows


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src/main/scala/graft"))):
        sys.exit("perfbench: run from the root of a graft checkout "
                 "(build.sbt and src/main/scala/graft not found)")
    classpath = build()
    t0 = time.time()

    run_root = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    inputs = os.path.join(run_root, "inputs")
    os.makedirs(inputs)
    try:
        truth = generate(a.workload, a.seed, inputs, a.seconds, a.trace == 1)
        gen_s = time.time() - t0
        checksum = tree_sha256(inputs)
        out = os.path.join(run_root, "result.json")
        tmp = os.path.join(run_root, "tmp")
        os.makedirs(tmp)
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
                "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", classpath, "graftbench.Main", a.workload, inputs,
                  run_root, str(a.seconds), str(a.trace), out])
        budget = 170 - (time.time() - t0)
        with open(os.path.join(run_root, "jvm.log"), "w") as jlog:
            proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT,
                                    cwd=run_root)
            try:
                rc = proc.wait(timeout=budget)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = -1
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(run_root, "jvm.log")) as f:
                log(f.read()[-6000:])
            sys.exit(f"perfbench: {a.workload} run failed (exit {rc})")
        with open(out) as f:
            res = json.load(f)

        verdicts, extra = checks.run(a.workload, res, truth, inputs)
        n_ops = len(res["ops"])
        failed_ops = sum(1 for o in res["ops"] if not o["ok"])
        for o in res["ops"]:
            if not o["ok"]:
                log(f"op failed: {o['kind']}: {o['note']}")
        failed_checks = [name for name, ok in verdicts if not ok]
        for name in failed_checks:
            log(f"check failed: {name}")
        attempted = n_ops + len(verdicts)
        failed = failed_ops + len(failed_checks)

        if a.trace:
            # mean op time of the traced window against the untraced
            # windows before and after it
            per = [b / max(1, n) for b, n in zip(res["phase_busy_s"],
                                                 res["phase_ops"])]
            extra["overhead_pct"] = 100.0 * (2 * per[1] / (per[0] + per[2]) - 1)
            extra["traced_ops"] = res["phase_ops"][1]
            metrics = per_layer(res, extra)
            spec = PER_LAYER
            table = layer_table(res, extra)
            print(f"# per-layer table ({a.workload}, traced window "
                  f"{res['traced_window_s']:.3f} s between untraced windows "
                  f"of {res['window_s']:.3f} s and {res['after_window_s']:.3f}"
                  f" s; tracing overhead {extra['overhead_pct']:+.2f}%)")
            for k, v in table:
                print(f"  {k:<60} {v:.6g}")
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            with open(os.path.join(BUILD, "traces",
                                   f"{a.workload}-{a.seed}.json"), "w") as f:
                json.dump({"spans": res["spans"], "layer": res["layer"],
                           "extra": extra.get("layer", {}),
                           "overhead_pct": extra["overhead_pct"]}, f, indent=1)
        else:
            metrics = end_to_end(a.workload, res, t0, extra)
            spec = END_TO_END

        print(f"# {a.workload} seed={a.seed} input_sha256={checksum} "
              f"ops={n_ops} failed={failed} window_s={res['window_s']:.3f}")
        print("#   artifact directories created: "
              + (", ".join(res["checks"]["artifact_dirs"]) or "none"))
        print("#   heap after each forced full GC (MB): " + " ".join(
            f"{x:.1f}" for x in res["heap_after_full_gc_mb"]))
        print(f"#   set-up: inputs {gen_s:.2f} s, session ready at "
              f"{res['session_ready_ms'] / 1e3 - t0:.2f} s, first op at "
              f"{res['first_op_ms'] / 1e3 - t0:.2f} s")
        kinds = {}
        for o in res["ops"]:
            kinds.setdefault(o["kind"], []).append(o["dur_s"])
        for k, ds in sorted(kinds.items()):
            print(f"#   op {k:<24} n={len(ds):<4} p50={pct(ds, 0.5):.4f} s "
                  f"max={max(ds):.4f} s in order: "
                  + " ".join(f"{d:.3f}" for d in ds))
        for name, unit, better in spec:
            print(f"  {name:<28} {metrics[name]:>14.6f} {unit:<6} "
                  f"({better} is better)")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {name: {"value": metrics[name], "unit": unit}
                        for name, unit, _ in spec},
        }))
    finally:
        shutil.rmtree(run_root, ignore_errors=True)


if __name__ == "__main__":
    main()
