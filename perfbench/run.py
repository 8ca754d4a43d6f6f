#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark program from source (sbt, into .bench_build/); every run then
generates its corpus from the seed, runs the workload in one JVM under its
own scratch root (.bench_work/<run>/, deleted at the end), checks the
results against DuckDB outside the timed region, and prints a report on
stderr and the result as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 runs the same workload
with span tracing and Spark listeners on and reports the per-layer metrics,
the tracing overhead against the untraced runs of this checkout, and the
unattributed share. Workloads, metrics and their meaning: perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import corpus  # noqa: E402

WORKLOADS = ("pipeline", "sql-interactive", "serve")
CPUS = 4  # Spark cores, through the engine's SPARK_GRAFT_CPUS
HEAP = "2g"
JVM_TIMEOUT_S = 170
E2E = [("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s"), ("p50_ms", "ms"),
       ("peak_rss_mb", "MB")]
# Per-layer metrics of a traced run: (name, unit, better). Metrics of a
# layer a workload does not use read 0. Meanings: perfbench/README.md.
PER_LAYER = [
    ("sql.parse_ms", "ms", "lower"), ("sql.lower_ms", "ms", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"), ("catalyst.optimize_ms", "ms", "lower"),
    ("catalyst.plan_ms", "ms", "lower"),
    ("codegen.compiles", "count", "lower"), ("codegen.compile_ms", "ms", "lower"),
    ("codegen.miss_ratio", "ratio", "lower"),
    ("exec.jobs", "count", "lower"), ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"), ("exec.task_run_s", "s", "lower"),
    ("exec.task_cpu_s", "s", "lower"), ("exec.gc_s", "s", "lower"),
    ("exec.driver_s", "s", "lower"), ("exec.shuffle_write_mb", "MB", "lower"),
    ("exec.shuffle_read_mb", "MB", "lower"), ("exec.spill_mb", "MB", "lower"),
    ("exec.input_mb", "MB", "lower"),
    ("registry.build_s", "s", "lower"), ("registry.persisted_mb", "MB", "lower"),
    ("registry.persisted_rdds", "count", "lower"), ("registry.tmp_mb", "MB", "lower"),
    ("stream.batches", "count", "lower"), ("stream.batch_ms", "ms", "lower"),
    ("stream.add_batch_s", "s", "lower"), ("stream.planning_s", "s", "lower"),
    ("stream.commit_s", "s", "lower"),
    ("result.rows", "count", "lower"), ("result.bytes", "B", "lower"),
    ("server.health_ms", "ms", "lower"), ("server.overhead_ms", "ms", "lower"),
    ("serve.read_p50_ms", "ms", "lower"), ("serve.read_p99_ms", "ms", "lower"),
    ("serve.write_p50_ms", "ms", "lower"), ("serve.write_p99_ms", "ms", "lower"),
    ("serve.max_qps", "1/s", "higher"),
    ("store.generations", "count", "lower"), ("store.bytes_per_user_byte", "ratio", "lower"),
    ("self.sql_parse_ms", "ms", "lower"), ("self.sql_lower_ms", "ms", "lower"),
    ("self.catalyst_ms", "ms", "lower"), ("self.exec_ms", "ms", "lower"),
    ("self.stream_ms", "ms", "lower"), ("unattributed_share", "ratio", "lower"),
] + [(f"overhead.{name}", unit, "lower") for name, unit in E2E]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def tree_digest(root, parts):
    """Digest of the sources the build depends on."""
    h = hashlib.sha1()
    for part in parts:
        base = os.path.join(root, part)
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs
                           if f.endswith((".scala", ".sbt", ".properties")))
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env(root):
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    tmp = os.path.join(build_dir(root), "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    env["GRAFT_BENCH_TARGET"] = os.path.join(build_dir(root), "target")
    return env


def build_dir(root):
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(root, d)


def build(root):
    """Compile engine + benchmark once per source state; returns the classpath."""
    bdir = build_dir(root)
    stamp = os.path.join(bdir, "stamp.json")
    want = tree_digest(root, ["src/main/scala", "perfbench/src", "perfbench/build.sbt",
                              "perfbench/project/build.properties"])
    if os.path.exists(stamp):
        with open(stamp) as f:
            st = json.load(f)
        if st.get("digest") == want:
            return st["classpath"], want
    os.makedirs(bdir, exist_ok=True)
    log("building engine and benchmark program (sbt)")
    t0 = time.time()
    with open(os.path.join(bdir, "build.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=sbt_env(root),
            stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
        out.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        die(f"build failed (see {bdir}/build.log)", 3)
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": want, "classpath": cp}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return cp, want


def dir_bytes(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def cpu_times():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 1


def run_jvm(root, cp, args, trace, work):
    out = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_PAIR_STORE": os.path.join(work, "pairstore"),
        "SPARK_GRAFT_STREAM_SCRATCH": os.path.join(work, "stream"),
    })
    for d in ("tmp", "pairstore", "stream"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # a pre-touched heap keeps the heap's share of the resident set fixed,
    # so peak_rss_mb moves with the memory outside the heap
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(trace),
              "--corpus", os.path.join(work, "corpus"), "--work", work,
              "--out", out])
    with open(os.path.join(work, "jvm.log"), "w") as jl:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=jl, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as jl:
            tail = jl.read()[-4000:]
        log(f"workload JVM failed ({code}):\n{tail}")
        return None
    with open(out) as f:
        return json.load(f)


def percentile(xs, p):
    s = sorted(xs)
    if not s:
        return 0.0
    k = max(0, min(len(s) - 1, -(-p * len(s) // 100) - 1))
    return s[int(k)]


def end_to_end(res):
    warm = res["warm"]
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "cold_s": sum(res["cold"].values()),
        "warm_s": sum(statistics.median(v) for v in warm.values() if v),
        "p50_ms": statistics.median(res["lat_ms"]) if res["lat_ms"] else 0.0,
        "peak_rss_mb": res["peak_rss_mb"],
    }


def one_run(root, cp, args, trace):
    """Generate, run and check one run in its own scratch root, then delete
    the root; returns (result, end-to-end metrics, failures) or None."""
    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = run_and_check(root, cp, args, trace, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    left = dir_bytes(work) if os.path.exists(work) else 0
    if left:
        log(f"scratch root left {left} bytes behind")
    if out:
        out[0]["info"]["scratch_left_bytes"] = left
    return out


def run_and_check(root, cp, args, trace, work):
    corpus.generate(args.seed, os.path.join(work, "corpus"))
    t_jvm, cpu0 = time.time(), cpu_times()
    res = run_jvm(root, cp, args, trace, work)
    if res is None:
        return None
    cpu1 = cpu_times()
    ru = resource.getrusage(resource.RUSAGE_CHILDREN)
    res["info"]["jvm_cpu_s"] = ru.ru_utime + ru.ru_stime
    res["info"]["t_jvm_total"] = time.time() - t_jvm
    res["info"]["cpu_steal_share"] = (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
    fp = hashlib.sha1(f"{args.seed}:{json.dumps(corpus.SIZES, sort_keys=True)}:".encode()
                      + open(os.path.join(HERE, "corpus.py"), "rb").read()).hexdigest()[:16]
    t0 = time.time()
    mism = check.run_checks(res, os.path.join(work, "corpus"),
                            os.path.join(root, ".bench_cache", f"oracle-{fp}.json"))
    res["check_s"] = time.time() - t0
    failures = {str(f["op"]): (f["kind"], f["cause"]) for f in res["failures"]}
    for op, kc in mism.items():
        failures.setdefault(op, kc)
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        os.makedirs(os.path.join(root, ".bench_out"), exist_ok=True)
        shutil.copy(spans, os.path.join(root, ".bench_out",
                                        f"spans-{args.workload}-{args.seed}.jsonl"))
    return res, end_to_end(res), failures


def untraced_history(root, workload, digest):
    """End-to-end results of this build's untraced runs of the workload."""
    path = os.path.join(root, ".bench_cache", f"untraced-{workload}-{digest[:12]}.jsonl")
    if not os.path.exists(path):
        return path, []
    with open(path) as f:
        return path, [json.loads(ln) for ln in f if ln.strip()]


def source_id(root, digest):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or f"tree:{digest[:12]}"
    except (OSError, subprocess.SubprocessError):
        return f"tree:{digest[:12]}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    for need in ("src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            die(f"{need} not found: run from the root of a graft checkout")
    wh = os.path.join(root, "spark-warehouse")
    wh_before = dir_bytes(wh) if os.path.exists(wh) else 0

    cp, digest = build(root)
    hist_path, hist = untraced_history(root, args.workload, digest)
    if args.trace and not hist:
        # tracing overhead needs an untraced baseline of this workload
        log("no untraced run of this workload yet: running one first")
        base = one_run(root, cp, args, 0)
        if base is None:
            die("untraced baseline run failed", 1)
        hist = [base[1]]
        with open(hist_path, "a") as f:
            f.write(json.dumps(base[1]) + "\n")

    t0 = time.time()
    out = one_run(root, cp, args, args.trace)
    if out is None:
        die("workload run failed", 1)
    res, e2e, failures = out
    attempted = int(res["attempted"])
    if not args.trace:
        os.makedirs(os.path.dirname(hist_path), exist_ok=True)
        with open(hist_path, "a") as f:
            f.write(json.dumps(e2e) + "\n")
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in E2E}
    else:
        layers = dict(res["layers"])
        # registry build time: per kind, the cold time minus the warm
        # median — two statistics kept apart, neither overwrites the other
        layers["registry.build_s"] = sum(
            max(0.0, c - statistics.median(res["warm"][k]))
            for k, c in res["cold"].items() if res["warm"].get(k))
        for name, _ in E2E:
            layers[f"overhead.{name}"] = e2e[name] - statistics.median(h[name] for h in hist)
        metrics = {name: {"value": layers.get(name, 0.0), "unit": unit}
                   for name, unit, _ in PER_LAYER}

    wh_after = dir_bytes(wh) if os.path.exists(wh) else 0
    stamp = {
        "source": source_id(root, digest), "nproc": os.cpu_count(), "cpus": CPUS,
        "heap": HEAP, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "corpus_scale": corpus.SCALE, "corpus_sizes": corpus.SIZES, **res["info"],
        "attempted": attempted, "failed": len(failures),
        "failed_frac": len(failures) / max(1, attempted),
        "check_s": round(res["check_s"], 3), "run_s": round(time.time() - t0, 3),
        "repo_warehouse_bytes_written": wh_after - wh_before,
    }
    report(stamp, e2e, res, failures)
    line = {"correct": not failures, "attempted": attempted, "failed": len(failures),
            "metrics": metrics}
    os.makedirs(os.path.join(root, ".bench_out"), exist_ok=True)
    with open(os.path.join(root, ".bench_out",
                           f"result-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({"stamp": stamp, "result": line,
                   "failures": {op: list(kc) for op, kc in failures.items()}},
                  f, indent=1, default=str)
    print(json.dumps(line))


def report(stamp, e2e, res, failures):
    log("stamp " + json.dumps(stamp, default=str))
    log("end-to-end " + " ".join(f"{k}={v:.4g}" for k, v in e2e.items())
        + f" (p90_ms={percentile(res['lat_ms'], 90):.4g} over {len(res['lat_ms'])} samples)")
    log("per kind (cold s / warm median s / n) " + " ".join(
        f"{k}={res['cold'].get(k, 0):.3f}/{statistics.median(v) if v else 0:.3f}/{len(v)}"
        for k, v in res["warm"].items()))
    log("warm samples (s) " + " ".join(
        f"{k}=[{','.join(f'{x:.3f}' for x in v)}]" for k, v in res["warm"].items()))
    if res["layers"]:
        log("layers " + " ".join(f"{k}={v:.4g}" for k, v in sorted(res["layers"].items())))
    for op, (kind, cause) in sorted(failures.items(), key=lambda x: int(x[0]))[:20]:
        log(f"FAILED op {op} [{kind}]: {cause}")


if __name__ == "__main__":
    main()
