#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. Builds the program and the benchmark from
source (perfbench/build.py), runs one workload in one JVM on `local[4]`
inside a fresh run directory that holds the run's artifact store, sink,
checkpoints and Spark scratch space, deletes that directory, and prints
one JSON result line last on stdout. With --trace 1 the per-layer metrics
of BENCHMARK.json are reported instead of the end-to-end ones, and the
spans are written to .bench_trace/. Workloads, metrics and the layer map
are described in perfbench/LAYERS.md.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

DATA_DIR = "perfbench/data/sf0.01"
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
JVM_TIMEOUT_S = 170
# every cache the program keeps under graft.<name>.dir
CACHES = ["paircache", "simpaircache", "cccache", "semcache", "bpecache",
          "unigramcache", "wpcache", "lmcache", "manifestcache",
          "modelcache", "replaycache"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def jvm_command(classes, run_dir, main, args):
    """The java command for one benchmark JVM with its own empty stores."""
    props = [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
             "-Dlog4j2.configurationFile=" +
             os.path.join(HERE, "conf", "log4j2.properties"),
             "-Dspark.ui.enabled=false"]
    for c in CACHES:
        props.append(f"-Dgraft.{c}.dir=" +
                     os.path.join(run_dir, "artifacts", c))
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = classes + os.pathsep + build.spark_jars()
    return (["java", "-Xmx3g", "-Xss8m", "-XX:ReservedCodeCacheSize=512m",
             "-XX:-UsePerfData"] +
            opens + props + ["-cp", cp, main] + args)


def jvm_env(run_dir):
    env = dict(os.environ)
    for k in list(env):
        if k.startswith("SPARK_GRAFT_"):
            del env[k]
    for c in CACHES:
        env[f"SPARK_GRAFT_{c.upper()}_DIR"] = os.path.join(run_dir,
                                                           "artifacts", c)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    return env


def run_jvm(classes, main, args, run_dir):
    """Runs one JVM to completion; it never outlives this process."""
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    proc = subprocess.Popen(jvm_command(classes, run_dir, main, args),
                            cwd=ROOT, env=jvm_env(run_dir),
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"run: JVM exceeded {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    return proc.returncode, out


def check_names(result, declared):
    """Every metric name is well-formed and declared in BENCHMARK.json."""
    bad = [n for n in result["metrics"]
           if not NAME_RE.match(n) or n not in declared]
    if bad:
        raise SystemExit(f"run: undeclared or malformed metrics: {bad}")


# Artifact steps of graft.Warm that no benchmarked query reads; set-up does
# not publish them (BatchWorkload.Chains).
UNPUBLISHED_STEPS = ["simpair", "sem", "unigram", "lm", "wp", "manifest",
                     "replay_manifest", "replay_scd2", "replay_dedup",
                     "models"]
# Per-layer metrics (by prefix) of the layers a workload never calls. They
# read 0 there and are listed as bypassed. Any other declared metric that a
# traced run does not report fails the run.
BYPASSED = {
    "covid_stream": ["functions.", "artifacts.", "tables.self_ms",
                     "operators.self_ms", "plans.self_ms"],
    "batch": ["covid.", "stream.", "sink."] +
             [f"artifacts.{s}.s" for s in UNPUBLISHED_STEPS],
}


def shape(raw, spec, workload, trace):
    """Keeps exactly the declared metrics of the mode. A traced run reports
    its own end-to-end readings as trace.<name>."""
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    layer = {m["name"]: m for m in spec["per_layer"]}
    got = raw["metrics"]
    metrics, bypassed = {}, []
    if not trace:
        missing = [n for n in e2e if n not in got]
        if missing:
            raise SystemExit(f"run: end-to-end metrics not measured: {missing}")
        metrics = {n: got[n] for n in e2e}
    else:
        skip = BYPASSED.get(workload, [])
        missing = []
        for n, m in layer.items():
            src = n if n in got else n[len("trace."):]
            if any(n.startswith(p) for p in skip):
                if src in got:
                    raise SystemExit(f"run: {n} is measured on {workload}, "
                                     "which is declared to bypass it")
                metrics[n] = {"value": 0.0, "unit": m["unit"]}
                bypassed.append(n)
            elif src in got:
                metrics[n] = {"value": got[src]["value"], "unit": m["unit"]}
            else:
                missing.append(n)
        if missing:
            raise SystemExit(f"run: per-layer metrics not measured: {missing}")
        extra = [n for n in got if n not in layer and
                 "trace." + n not in layer]
        if extra:
            raise SystemExit(f"run: undeclared per-layer metrics: {extra}")
    result = {"correct": raw["correct"], "attempted": raw["attempted"],
              "failed": raw["failed"], "metrics": metrics}
    check_names(result, e2e if not trace else layer)
    return result, bypassed


def selftest():
    spec = load_spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    ok = True
    for n in names:
        if not NAME_RE.match(n):
            print(f"FAIL metric name {n!r} is malformed")
            ok = False
    if len(set(names)) != len(names):
        print("FAIL metric names repeat")
        ok = False
    print(("PASS" if ok else "FAIL") + " every declared metric name is valid")
    layer = [m["name"] for m in spec["per_layer"]]
    full = {n[len("trace."):] if n.startswith("trace.") else n:
            {"value": 1.0, "unit": "x"} for n in layer
            if not any(n.startswith(p) for p in BYPASSED["batch"])}

    def refused(metrics):
        try:
            shape({"correct": True, "attempted": 1, "failed": 0,
                   "metrics": metrics}, spec, "batch", trace=True)
            return False
        except SystemExit:
            return True
    cases = [("a complete traced batch result is accepted",
              not refused(full)),
             ("undeclared metric names are refused",
              refused({**full, "not-declared": {"value": 1, "unit": "ms"}})),
             ("a stressed layer metric that is not measured is refused",
              refused({k: v for k, v in full.items()
                       if k != "functions.Phash.ns_per_row"})),
             ("a bypassed layer metric that is measured is refused",
              refused({**full, "covid.clean_ms": {"value": 1, "unit": "ms"}}))]
    for what, passed in cases:
        print(("PASS " if passed else "FAIL ") + what)
        ok = ok and passed
    classes = build.build()
    run_dir = tempfile.mkdtemp(prefix="selftest-", dir=run_root())
    try:
        code, out = run_jvm(classes, "graft.bench.SelfTest", [run_dir],
                            run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(out, end="")
    return 0 if ok and code == 0 else 1


def run_root():
    d = os.path.join(ROOT, ".bench_run")
    os.makedirs(d, exist_ok=True)
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        print("run: program sources (src/main/scala) are not in this "
              "checkout", file=sys.stderr)
        return 2
    if a.selftest:
        return selftest()
    spec = load_spec()
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        print(f"run: unknown workload {a.workload!r}", file=sys.stderr)
        return 2
    classes = build.build()
    run_dir = tempfile.mkdtemp(prefix=f"{a.workload}-{a.seed}-",
                               dir=run_root())
    trace_out = os.path.join(ROOT, ".bench_trace",
                             f"{a.workload}-seed{a.seed}.jsonl")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--run-dir", run_dir, "--data", DATA_DIR,
            "--trace-out", trace_out]
    try:
        code, out = run_jvm(classes, "graft.bench.Main", args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    raw = next((json.loads(l) for l in reversed(lines)
                if l.startswith('{"correct"')), None)
    detail = next((json.loads(l) for l in reversed(lines)
                   if l.startswith('{"detail"')), None)
    if code != 0 or raw is None:
        print(f"run: benchmark JVM failed (exit {code})", file=sys.stderr)
        return 1
    result, bypassed = shape(raw, spec, a.workload, a.trace == 1)
    if detail is not None:
        rss = raw["metrics"].get("peak_rss_mb")
        if rss is not None:
            detail["detail"]["peak_rss_mb"] = rss["value"]
        if bypassed:
            detail["detail"]["bypassed_layer_metrics"] = bypassed
        print(json.dumps(detail))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    # a terminated run still stops its JVM and deletes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
