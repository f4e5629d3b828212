#!/usr/bin/env python3
"""Benchmark driver: builds the harness, generates the seeded inputs, runs
one harness process, checks every call's output, and prints the metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload profile --seed 1 --seconds 15 --trace 0

Every metric is printed as `metric <name> <value> <unit>`; the last line of
standard output is one JSON object with the keys correct, attempted, failed
and metrics. `--trace 0` reports the end-to-end metrics, `--trace 1` the
per-layer ones. Work files live under perfbench/.work/.
"""
import argparse
import glob
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
WORK = os.path.join(HERE, ".work")
LAYERS = ["infer", "frame", "stats", "ops", "io"]
LAYER_KEYS = ["calls", "failed", "call_s", "build_s", "plan_s", "exec_s",
              "jobs", "job_wall_s", "gap_s", "task_s", "cpu_s", "gc_s",
              "shuffle_mb", "spill_mb"]
MB = 1e6
DEADLINE_S = 170.0
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of every input of the build: library and harness sources."""
    h = hashlib.sha256()
    files = sorted(
        glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True)
        + glob.glob(os.path.join(HERE, "src/**/*"), recursive=True)
        + [os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project/build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(digest):
    """Compiles the harness with the library (once per source digest) and
    returns the runtime classpath."""
    cp_file = os.path.join(WORK, "build", f"{digest}.classpath")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    log("building harness and library with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
        "-Dsbt.offline=true -Xmx2g"))
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=850)
    lines = [l for l in out.stdout.splitlines()
             if "target/scala-2.13/classes" in l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("build failed")
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def inputs(workload, seed):
    """Generated tables for (workload, seed), cached on disk; the cache
    keeps the few most recent inputs."""
    d = os.path.join(WORK, "data", f"{workload}-{seed}-{gen.digest()}")
    manifest = os.path.join(d, "manifest.json")
    if not os.path.exists(manifest):
        gen.generate(workload, seed, d)
    os.utime(d)
    cached = sorted(glob.glob(os.path.join(WORK, "data", "*")),
                    key=os.path.getmtime)
    for old in cached[:-3]:
        if old != d:
            shutil.rmtree(old, ignore_errors=True)
    with open(manifest) as f:
        return d, json.load(f)


def run_harness(cp, args, data, out, deadline):
    os.makedirs(out)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens",
                                                      f"{p}=ALL-UNNAMED")]
           + ["-Dio.netty.tryReflectionSetAccessible=true",
              f"-Djava.io.tmpdir={out}", "-Xmx4g", "-cp", cp,
              "perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--data", data, "--out", out]
           + (["--inject", args.inject] if args.inject else []))
    with open(os.path.join(out, "harness.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=logf, cwd=out)
        try:
            code = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("harness timed out")
    if code != 0:
        with open(os.path.join(out, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness exited with {code}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def per_call(calls):
    """Each call of the workload's sequence with its median latency over
    the measured passes. A failed call's latency is infinite."""
    by_key = {}
    for c in calls:
        by_key.setdefault(c["key"], []).append(
            c["call_s"] if c["ok"] else math.inf)
    return {k: median(xs) for k, xs in by_key.items()}


def interval_union(spans, lo, hi):
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in spans):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_metrics(spans, failed_keys, cores, untraced_walls, retained,
                  in_bytes):
    """Per-layer metrics from the spans of the traced passes, averaged per
    pass. Engine metrics count only the jobs that started inside a call. A
    call's self time is its span minus the union of its child job spans:
    the driver-only time reported as `<layer>.gap_s`. A call fails when the
    harness failed it or its key is in `failed_keys`."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    passes = [s for s in spans if s["kind"] == "pass"]
    n = len(passes)
    acc = {f"{layer}.{k}": 0.0 for layer in LAYERS for k in LAYER_KEYS}
    walls, busy, skew, cached = [], [], [], []
    jobs = stages = tasks = tasks_failed = write_bytes = write_files = 0
    for p in passes:
        task_s, slowest = 0.0, None
        for c in children.get(p["id"], []):
            js = [j for j in children.get(c["id"], []) if j["kind"] == "job"]
            sts = [st for j in js for st in children.get(j["id"], [])]
            wall = interval_union([(j["start"], j["end"]) for j in js],
                                  c["start"], c["end"]) / 1e3
            L = c["layer"]
            acc[f"{L}.calls"] += 1
            ok = c["ok"] and c["key"] not in failed_keys
            acc[f"{L}.failed"] += 0 if ok else 1
            for k in ("call_s", "build_s", "plan_s", "exec_s"):
                acc[f"{L}.{k}"] += c[k]
            acc[f"{L}.jobs"] += len(js)
            acc[f"{L}.job_wall_s"] += wall
            acc[f"{L}.gap_s"] += max(0.0, c["call_s"] - wall)
            for k in ("task_s", "cpu_s", "gc_s"):
                acc[f"{L}.{k}"] += sum(j[k] for j in js)
            acc[f"{L}.shuffle_mb"] += sum(j["shuffle_bytes"] for j in js) / MB
            acc[f"{L}.spill_mb"] += sum(j["spill_bytes"] for j in js) / MB
            jobs += len(js)
            stages += len(sts)
            tasks += sum(j["tasks"] for j in js)
            tasks_failed += sum(j["tasks_failed"] for j in js)
            task_s += sum(j["task_s"] for j in js)
            write_bytes += c["write_bytes"]
            write_files += c["write_files"]
            for st in sts:
                if slowest is None or (st["end"] - st["start"] >
                                       slowest["end"] - slowest["start"]):
                    slowest = st
        walls.append(p["wall_s"])
        busy.append(task_s / (cores * p["wall_s"]))
        skew.append(slowest["task_max_ms"] / max(1, slowest["task_median_ms"])
                    if slowest else 1.0)
        cached.append(p["cached_peak_bytes"])
    m = {}
    for k, v in acc.items():
        unit = ("count" if k.endswith((".calls", ".failed", ".jobs"))
                else "MB" if k.endswith("_mb") else "s")
        m[k] = (v / n, unit)
    m["spark.jobs"] = (jobs / n, "count")
    m["spark.stages"] = (stages / n, "count")
    m["spark.tasks"] = (tasks / n, "count")
    m["spark.tasks_failed"] = (tasks_failed / n, "count")
    m["spark.busy_ratio"] = (median(busy), "ratio")
    m["spark.task_skew"] = (median(skew), "ratio")
    m["spark.cached_mb"] = (max(cached) / MB, "MB")
    m["io.write_mb"] = (write_bytes / MB / n, "MB")
    m["io.files"] = (write_files / n, "count")
    m["io.bytes_per_input_byte"] = (write_bytes / n / in_bytes, "ratio")
    m["trace.wall_s"] = (median(walls), "s")
    m["trace.untraced_wall_s"] = (median(untraced_walls), "s")
    m["trace.overhead_s"] = (median(walls) - median(untraced_walls), "s")
    m["retained_mb"] = (retained / MB, "MB")
    return m


def bench_digest():
    """Hash of everything that decides what the calls compute besides the
    library: the input generator and the harness sources."""
    h = hashlib.sha256(gen.digest().encode())
    for f in sorted(glob.glob(os.path.join(HERE, "src/**/*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, HERE).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def check_fingerprints(calls, args, failed_keys):
    """Compares the warm pass's fingerprints with those stored by the
    first run of the same workload, seed, inputs and harness, whatever the
    library's code was then; returns the keys that differ. A run that
    finds no store writes one from its calls that passed every check."""
    path = os.path.join(WORK, "fingerprints", bench_digest(),
                        f"{args.workload}-{args.seed}.json")
    now = {c["key"]: c["fp"] for c in calls
           if c["pass"] == 0 and c["ok"] and c["key"] not in failed_keys}
    if os.path.exists(path):
        with open(path) as f:
            before = json.load(f)
        return {k for k, fp in now.items() if k in before and before[k] != fp}
    if not args.inject:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(now, f, indent=1)
    return set()


def environment(args, digest, result):
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                    capture_output=True, text=True,
                                    timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            commit = None
    return {"workload": args.workload, "seed": args.seed,
            "trace": args.trace, "seconds": args.seconds,
            "nproc": os.cpu_count(), "loadavg": list(os.getloadavg()),
            "commit": commit, "source_digest": digest,
            "spark_version": result["spark_version"],
            "cores": result["cores"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=list(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--inject", default="",
                    help="comma list of deliberate faults: throw, wrong")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("library sources not found next to perfbench/")
    digest = source_digest()
    cp = build(digest)
    deadline = time.time() + DEADLINE_S
    data, manifest = inputs(args.workload, args.seed)
    out = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}"
                       f"-t{args.trace}-{int(time.time() * 1000)}")
    t_jvm = time.time()
    result = run_harness(cp, args, data, out, deadline)
    log(f"harness {time.time() - t_jvm:.1f} s, setup {result['setup_s']:.1f} s,"
        f" measured {result['measured_s']:.1f} s")

    # Output checks: DuckDB oracles on the warm pass, fingerprints across
    # passes (in the harness) and across runs of the seed (here). A check
    # fails the call's key in every pass.
    with open(os.path.join(out, "oracle_sql.json")) as f:
        sqls = json.load(f)
    calls = result["calls"]
    outputs = {c["oracle_dir"]: c for c in calls if c["oracle_dir"]}
    oracle_fail = oracle.check(sqls, {d: c["oracle"]
                                      for d, c in outputs.items()},
                               os.path.join(out, "oracle"), data)
    failed_keys = {outputs[d]["key"]: why for d, why in oracle_fail.items()}
    for k in check_fingerprints(calls, args, failed_keys):
        failed_keys[k] = "fingerprint differs from an earlier run"
    for c in calls:
        if c["key"] in failed_keys:
            c["ok"], c["error"] = False, failed_keys[c["key"]]
    warm_failed = [c for c in calls if not c["measured"] and not c["ok"]]
    measured = [c for c in calls if c["measured"]]
    failed = [c for c in measured if not c["ok"]]
    for c in warm_failed + failed:
        log(f"FAILED pass {c['pass']} {c['layer']}.{c['fn']}: {c['error']}")

    env = environment(args, digest, result)
    print("env " + json.dumps(env))
    print(f"metric gen_s {manifest['gen_s']:.4f} s")
    for name, t in manifest["tables"].items():
        print(f"input {name} rows={t['rows']} bytes={t['bytes']}")

    untraced = [p for p in result["passes"]
                if p["measured"] and not p["traced"]]
    timed = [c for c in measured if not c["traced"]]
    lat = list(per_call(timed).values())
    e2e = {"setup_s": (result["setup_s"], "s"),
           "wall_s": (median([p["wall_s"] for p in untraced]), "s"),
           "call_p50_s": (median(lat), "s"),
           "call_tail_s": (max(lat), "s")}
    extra = {"failed_share": (len(failed) / len(measured), "ratio"),
             "calls_measured": (len(timed), "count"),
             "passes_measured": (len(untraced), "count"),
             "session_s": (result["session_s"], "s")}
    metrics = dict(e2e)
    if args.trace:
        with open(os.path.join(out, "spans.jsonl")) as f:
            spans = [json.loads(l) for l in f if l.strip()]
        metrics = layer_metrics(
            spans, failed_keys, result["cores"],
            [p["wall_s"] for p in untraced], result["retained_bytes"],
            sum(t["bytes"] for t in manifest["tables"].values()))
        metrics["failed_share"] = extra["failed_share"]
    for name, (v, unit) in {**e2e, **extra, **metrics}.items():
        print(f"metric {name} {v:.6g} {unit}")

    with open(os.path.join(out, "run.json"), "w") as f:
        json.dump({"env": env, "manifest": manifest,
                   "metrics": {k: v for k, (v, _) in
                               {**e2e, **extra, **metrics}.items()}}, f,
                  indent=1)
    for d in ("io", "oracle", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    runs = sorted(glob.glob(os.path.join(WORK, "runs", "*")),
                  key=os.path.getmtime)
    for old in runs[:-20]:
        shutil.rmtree(old, ignore_errors=True)

    print(json.dumps({
        "correct": not failed and not warm_failed,
        "attempted": len(measured), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
