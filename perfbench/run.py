#!/usr/bin/env python3
"""Benchmark command: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload analytics|pipeline|engine_mix \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program with sbt when its
sources changed (offline settings), generates the inputs, runs
`perfbench.PerfBench`, checks every output apart from the program
(perfbench/check.py) and prints, as its last line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
untraced, the per-layer metrics traced. Exits nonzero when an output is
wrong or the run cannot be made. Scratch files go to `.perfbench/`.
"""
import argparse
import hashlib
import inspect
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("analytics", "pipeline", "engine_mix")
SCALE = 0.01               # battery tables: sf0.01 shapes (lineitem 60k rows)
# Fixed and touched up front (-Xms = -Xmx, AlwaysPreTouch): how much of the
# heap G1 happens to touch is otherwise a run-to-run choice that swamps
# peak RSS. Peak RSS then moves with memory outside the heap.
HEAP = "3g"
MAX_MIX_PASSES = 12         # engine_mix script length: a warm-up and up to 11 timed passes
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config={home}/.sbt/repositories "
            "-Dsbt.offline=true -Xmx2g -XX:-UsePerfData")


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties")]
    for base, _, names in os.walk(os.path.join(root, "src", "main")):
        files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, work):
    """Compile with sbt when the sources changed; returns the classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(work, "classpath")
    stamp_file = os.path.join(work, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=SBT_OPTS.format(home=os.path.expanduser("~")))
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=root, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    lines = [l.strip() for l in open(log) if l.strip()]
    if r.returncode != 0 or not lines or "classes" not in lines[-1]:
        fail(f"build failed, see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def battery_data(work):
    """The ten battery tables, generated once per checkout."""
    stamp = hashlib.sha256((inspect.getsource(gen.battery_tables) + repr((gen.DATA_SEED, SCALE)))
                           .encode()).hexdigest()
    d = os.path.join(work, f"data-sf{SCALE}")
    stamp_file = os.path.join(d, ".stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(d, ignore_errors=True)
        gen.battery_tables(d, SCALE)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return d


def percentile(values, q):
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[max(0, min(len(v) - 1, int(-(-q * len(v) // 1)) - 1))]


def timed(rec):
    return [p for p in rec["passes"] if not p["warmup"]]


def end_to_end(rec):
    ok_ms = [o["ms"] for p in timed(rec) for o in p["ops"] if o["ok"]]
    return {
        "setup_s": (statistics.median(rec["setup_ms"]) / 1000, "s"),
        "pass_s": (statistics.median(p["wall_ms"] for p in timed(rec)) / 1000, "s"),
        "query_p50_s": (statistics.median(ok_ms) / 1000, "s"),
        "query_p90_s": (percentile(ok_ms, 0.9) / 1000, "s"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
    }


def mix_summary(rec):
    """engine_mix figures outside the gated metrics: per-statement-kind
    medians, bulk-load rate and storage footprint."""
    by = {}
    for p in timed(rec):
        for o in p["ops"]:
            kind = o["name"]
            if kind == "insert" and o["detail"].startswith("rejected"):
                kind = "insert_rejected"
            if o["ok"]:
                by.setdefault(kind, []).append(o["ms"])
    out = {f"{k}_p50_ms": round(statistics.median(v), 3) for k, v in sorted(by.items())}
    out["load_rows_per_s"] = round(rec["load_rows"] / (sum(rec["load_ms"]) / 1000), 1)
    out["stored_bytes_per_row"] = round(rec["stored_bytes"] / max(1, rec["live_rows"]), 2)
    return out


PER_LAYER = [
    ("tables.load_ms", "ms"), ("engine.build_ms", "ms"), ("engine.statements", "count"),
    ("operators.build_ms", "ms"), ("operators.build_jobs", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"), ("catalyst.executions", "count"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_retries", "count"), ("exec.run_ms", "ms"), ("exec.cpu_ms", "ms"),
    ("exec.gc_ms", "ms"), ("exec.slot_util", "ratio"),
    ("io.input_bytes", "bytes"), ("io.shuffle_read_bytes", "bytes"),
    ("io.shuffle_write_bytes", "bytes"), ("io.spill_bytes", "bytes"),
    ("store.files_written", "count"), ("store.files_retired", "count"),
    ("store.bytes_written", "bytes"), ("store.data_files", "count"), ("store.compact_ms", "ms"),
]


def per_layer(rec):
    """Each layer counter summed over a pass; the median over passes."""
    per_pass = []
    for p in timed(rec):
        tot = dict(p.get("layers", {}))
        for o in p["ops"]:
            for k, v in o.get("layers", {}).items():
                tot[k] = tot.get(k, 0.0) + v
        tot["exec.slot_util"] = tot.get("exec.run_ms", 0.0) / (rec["cores"] * p["wall_ms"])
        per_pass.append(tot)
    out = {"tables.load_ms": (statistics.median(rec["tables_load_ms"]), "ms")}
    for name, unit in PER_LAYER[1:]:
        out[name] = (statistics.median(t.get(name, 0.0) for t in per_pass), unit)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not (os.path.exists(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the repository root: build.sbt and src/main/scala/graft are missing")
    if not check.self_test():
        fail("checker self-test failed")
    work = os.path.join(root, ".perfbench")
    os.makedirs(work, exist_ok=True)
    classpath = build(root, work)
    data = battery_data(work)
    run_dir = os.path.join(work, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cmd_tail = []
    if a.workload == "engine_mix":
        gen.mix_inputs(run_dir, a.seed, MAX_MIX_PASSES)
        cmd_tail = [os.path.join(run_dir, "script.json")]
    cores = min(4, len(os.sched_getaffinity(0)))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={os.path.join(run_dir, 'derby')}"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in JVM_OPENS]
           + ["-cp", classpath, "perfbench.PerfBench", a.workload, str(a.seed),
              str(a.seconds), str(a.trace), data, run_dir, str(cores)] + cmd_tail)
    # The program reads some knobs from the environment (SPARK_LOCAL_DIRS,
    # GRAFT_*, SPARK_GRAFT_*); the benchmark passes none of them on.
    env = {k: v for k, v in os.environ.items() if not k.startswith(("SPARK_", "GRAFT_"))}
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        r = subprocess.run(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=170)
    if r.returncode != 0:
        fail(f"benchmark JVM exited {r.returncode}, see {run_dir}/jvm.log")
    rec = json.load(open(os.path.join(run_dir, "record.json")))
    ops = [o for p in rec["passes"] for o in p["ops"]]
    attempted, failed = len(ops), sum(not o["ok"] for o in ops)
    problems = check.check_run(a.workload, data, run_dir, rec)
    for p in problems:
        print(f"[perfbench] CHECK FAILED: {p}", file=sys.stderr)
    for o in ops:
        if not o["ok"]:
            print(f"[perfbench] FAILED {o['name']}: {o['detail']}", file=sys.stderr)
    metrics = per_layer(rec) if a.trace else end_to_end(rec)
    if a.workload == "engine_mix":
        print("[perfbench] engine_mix " + json.dumps(mix_summary(rec)), file=sys.stderr)
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
