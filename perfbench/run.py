#!/usr/bin/env python3
"""Benchmark of the graft CDC engine.

    python3 perfbench/run.py --workload replay --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt depends on the root
build); later runs reuse the build while the sources are unchanged.

Workloads: replay, follow, lake_rw (see perfbench/README.md). Each run
sizes itself from nproc and MemTotal, starts the benchmark JVM(s), checks
every output against its oracle, prints every metric as `name value unit`
and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. The full record of a run (host,
Spark conf, samples, percentiles, errors) goes to perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("replay", "follow", "lake_rw")
RUN_LIMIT_S = 170  # a run must end within 180 s

# Spark 4 on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    x for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_facts():
    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    nproc = len(os.sched_getaffinity(0))
    # a quarter of MemTotal, in whole GiB, clamped to 2..8 (the tier-1 run
    # gives its driver half); fixed and pre-touched, so that peak RSS
    # moves with native memory and heap settings, not with GC heuristics
    heap_g = min(8, max(2, round(mem_kb / 4 / 2**20)))
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True, timeout=10)
        commit = commit.stdout.strip() if commit.returncode == 0 else None
    except OSError:
        commit = None
    return {
        "nproc": nproc,
        "mem_total_mb": mem_kb // 1024,
        "heap_gb": heap_g,
        "disk_free_gb": round(shutil.disk_usage(ROOT).free / 2**30, 1),
        "git_commit": commit,
    }


def source_files():
    """Every file the build reads, program and benchmark."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: no {need} at the checkout root; "
                             "run from the root of a checkout of the repository")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    os.makedirs(BUILD, exist_ok=True)
    log("building the program and the benchmark with sbt")
    t0 = time.time()
    with open(os.path.join(BUILD, "sbt.log"), "w") as lf:
        env = dict(os.environ)
        env["JAVA_OPTS"] = (env.get("JAVA_OPTS", "") + " -XX:-UsePerfData").strip()
        p = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf, text=True,
            start_new_session=True)
        try:
            out, _ = p.communicate(timeout=700)
        except subprocess.TimeoutExpired:
            kill(p)
            raise SystemExit("perfbench: build timed out")
        lf.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        raise SystemExit(f"perfbench: build failed, see {BUILD}/sbt.log")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1].strip(), stamp


def kill(p):
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def jvm(cp, host, work, args, deadline):
    """Run the benchmark JVM to completion; return its result dict."""
    name = args.workload
    jwork = os.path.join(work, name)
    os.makedirs(os.path.join(jwork, "tmp"))
    out = os.path.join(jwork, "result.json")
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = str(host["nproc"])
    env["SPARK_LOCAL_DIRS"] = os.path.join(jwork, "spark-local")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    heap = f"{host['heap_gb']}g"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java, f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           *ADD_OPENS,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={os.path.join(jwork, 'tmp')}",
           "-cp", cp, "perfbench.Bench",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", jwork, "--out", out, "--small", "1" if args.small else "0",
           "--nproc", str(host["nproc"])]
    logf = os.path.join(work, f"{name}.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, cwd=jwork, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            kill(p)
            log(f"{name}: timed out")
    if p.returncode != 0 or not os.path.exists(out):
        with open(logf) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"perfbench: {name} exited with {p.returncode}")
    with open(out) as f:
        res = json.load(f)
    os.makedirs(OUT, exist_ok=True)
    shutil.copy(logf, os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.log"))
    spans = os.path.join(jwork, "spans.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(
            OUT, f"{args.workload}-seed{args.seed}-spans.jsonl"))
    return res


def percentile(xs, p):
    """Linear-interpolated percentile, p in 0..100."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def timing(xs):
    """Median and the highest whole percentile with at least ten samples
    beyond it (p50 when there are fewer than 20), with the sample count."""
    tail = max(50, int(100 * (1 - 10 / len(xs))))
    return {"p50": statistics.median(xs), "tail": percentile(xs, tail),
            "tail_pct": tail, "n": len(xs)}


def metrics(workload, nproc, res):
    """End-to-end metrics of a run, plus the workload's own named metrics."""
    s, v = res["samples"], res["values"]
    stats = {}
    if workload == "replay":
        lat, eps = s["replay_ms"], statistics.median(s["eps"])
        eps1 = statistics.median(s["eps_1t"])
        named = {"replay_eps": (eps, "events/s"), "replay_eps_1t": (eps1, "events/s"),
                 "scaling_efficiency": (eps / (nproc * eps1), "ratio")}
        stats["batch_ms"] = timing(s["batch_ms"])
        stats["replay_ms_1t"] = timing(s["replay_ms_1t"])
    elif workload == "follow":
        lat, eps = s["freshness_ms"], v["engine_eps"]
        named = {"offered_eps": (v["offered_eps"], "events/s"),
                 "lateness_ms_max": (max(s["lateness_ms"]), "ms")}
    else:
        # events merged per second of the closed loop, reads included
        lat = s["lookup_ms"]
        eps = v["round_batch"] * len(s["round_ms"]) / (sum(s["round_ms"]) / 1000.0)
        named = {"scan_s": (statistics.median(s["scan_ms"]) / 1000.0, "s"),
                 "merge_ms_p50": (statistics.median(s["merge_ms"]), "ms"),
                 "space_amp": (v["space_amp"], "ratio")}
        stats["scan_ms"] = timing(s["scan_ms"])
        stats["merge_ms"] = timing(s["merge_ms"])
    t = stats["latency_ms"] = timing(lat)
    op = {"follow": "freshness", "lake_rw": "lookup"}.get(workload)
    if op:
        named[f"{op}_ms_p50"] = (t["p50"], "ms")
        named[f"{op}_ms_tail"] = (t["tail"], "ms")
    named["error_rate"] = (res["failed"] / max(1, res["attempted"]), "share")
    e2e = {"setup_s": (res["setup_s"], "s"), "peak_rss_mb": (res["peak_rss_mb"], "MB"),
           "latency_ms_p50": (t["p50"], "ms"), "latency_ms_tail": (t["tail"], "ms"),
           "throughput_eps": (eps, "events/s")}
    return e2e, named, stats


def run(args):
    bench = load_benchmark()
    cp, stamp = build()
    host = host_facts()
    started = time.time()
    deadline = started + RUN_LIMIT_S
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    n = host["nproc"]
    try:
        res = jvm(cp, host, work, args, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    try:
        e2e, named, stats = metrics(args.workload, n, res)
    except (KeyError, statistics.StatisticsError, ZeroDivisionError):
        for e in res["errors"] + res["mismatches"]:
            log(e)
        raise SystemExit(f"perfbench: {args.workload} measured nothing")
    attempted, failed = res["attempted"], res["failed"]
    mismatches, errors = res["mismatches"], res["errors"]
    correct = not mismatches and failed == 0
    for m in mismatches + errors:
        log(m)

    if args.trace:
        layers = res["layers"]
        out = {k["name"]: {"value": layers[k["name"]], "unit": k["unit"]}
               for k in bench["per_layer"]}
    else:
        out = {k["name"]: {"value": e2e[k["name"]][0], "unit": k["unit"]}
               for k in bench["end_to_end"]}
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "small": args.small, "source_sha256": stamp,
        "host": dict(host, jdk=res["jdk"], spark_version=res["spark_version"]),
        "spark_conf": res["spark_conf"], "jvm_args": res["jvm_args"],
        "end_to_end": {k: {"value": x, "unit": u} for k, (x, u) in e2e.items()},
        "workload_metrics": {k: {"value": x, "unit": u} for k, (x, u) in named.items()},
        "timings": stats, "layers": res["layers"], "values": res["values"],
        "samples": res["samples"],
        "scaling_note": (f"4N is every vCPU here: nproc={n}; the 1-thread level "
                         "is the single-threaded baseline"),
        "attempted": attempted, "failed": failed, "errors": errors,
        "mismatches": mismatches, "wall_s": time.time() - started,
    }
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(
            OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)

    for k, (x, u) in list(e2e.items()) + list(named.items()):
        print(f"{k} {x:.6g} {u}")
    if args.trace:
        for k, x in res["layers"].items():
            print(f"{k} {x:.6g}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def selftest():
    """Small-size run of every workload, untraced and traced: the harness
    runs, the oracle gates pass and every metric of BENCHMARK.json is
    emitted by name and unit."""
    bench = load_benchmark()
    ok = True
    for w in WORKLOADS:
        for trace in (0, 1):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", "3",
                 "--seconds", "3", "--trace", str(trace), "--small"],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            problems = []
            if p.returncode != 0:
                problems.append(f"exit {p.returncode}: {p.stderr[-2000:]}")
            else:
                res = json.loads(p.stdout.strip().splitlines()[-1])
                want = bench["per_layer" if trace else "end_to_end"]
                if set(res["metrics"]) != {m["name"] for m in want}:
                    problems.append(f"metric names {sorted(res['metrics'])}")
                for m in want:
                    got = res["metrics"].get(m["name"], {})
                    if got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
                        problems.append(f"{m['name']}: {got}")
                if not res["correct"] or res["failed"] or res["attempted"] < 1:
                    problems.append(f"correct={res['correct']} failed={res['failed']}")
            status = "PASS" if not problems else "FAIL"
            ok = ok and not problems
            print(f"{status} {w} trace={trace} ({time.time() - t0:.0f} s)", flush=True)
            for x in problems:
                print("   ", x)
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    ap.add_argument("--selftest", action="store_true",
                    help="small run of every workload, traced and untraced")
    args = ap.parse_args()
    if args.selftest:
        return selftest()
    if not args.workload:
        ap.error("--workload is required")
    run(args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
