#!/usr/bin/env python3
"""Per-change benchmark of the graft engine (see perfbench/README.md).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a repository checkout. Builds the engine from
source on first use (perfbench/build.py), runs one workload in one JVM
at local[<cores>] inside a fresh temp root under .bench_build/ that is
deleted on exit, and prints as its last line one JSON object with the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
Exits non-zero when an output check failed or the run did not finish.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("replay-roundtrip", "corpus-curate", "stream-ingest")
# the run must end well inside the 180 s a run is allowed
JVM_TIMEOUT_S = 165

# Spark on JDK 17 outside spark-submit needs these (build.sbt has the
# same list for the engine's own mains)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test runs tiny inputs)")
    return ap.parse_args()


def load_json(path):
    with open(path) as f:
        return json.load(f)


def run_jvm(args, classes, root):
    """Run perfbench.Main; return (exit code, RESULT dict or None)."""
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=1g",
            f"-Djava.io.tmpdir={root}/jtmp"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(build.SPARK_JARS, "*")]),
              "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
              args.trace, str(args.scale), root])
    os.makedirs(f"{root}/jtmp")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    result = None
    killed = []

    def kill(*_):
        killed.append(True)
        os.killpg(proc.pid, signal.SIGKILL)

    old = signal.signal(signal.SIGALRM, kill)
    signal.alarm(JVM_TIMEOUT_S)
    try:
        for line in proc.stdout:
            if line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
            else:
                print(line, end="", flush=True)
        code = proc.wait()
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)
        if proc.poll() is None:
            kill()
            proc.wait()
    if killed:
        print(f"# run killed after {JVM_TIMEOUT_S} s", flush=True)
        return 1, None
    return code, result


def select_metrics(raw, spec, layers, workload, trace):
    """The declared metrics, with units, in declaration order. A
    per-layer metric this workload does not exercise reads 0; one it
    does exercise (layers.json) must have been measured."""
    missing = []
    out = {}
    if trace == "0":
        for m in spec["end_to_end"]:
            if m["name"] not in raw or raw[m["name"]] is None:
                missing.append(m["name"])
            else:
                out[m["name"]] = {"value": raw[m["name"]], "unit": m["unit"]}
    else:
        for m in spec["per_layer"]:
            v = raw.get(m["name"])
            if v is None:
                if workload in layers[m["name"]]["workloads"]:
                    missing.append(m["name"])
                v = 0
            out[m["name"]] = {"value": v, "unit": m["unit"]}
    for name in sorted(set(raw) - set(out) - set(missing)):
        print(f"# undeclared metric {name} = {raw[name]}")
    return out, missing


def main():
    args = parse_args()
    checkout = os.getcwd()
    spec = load_json(os.path.join(checkout, "BENCHMARK.json"))
    layers = {m["name"]: m for m in load_json(os.path.join(HERE, "layers.json"))}
    build_dir = os.path.join(checkout, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classes = build.build(checkout, build_dir)

    root = tempfile.mkdtemp(prefix="run-", dir=build_dir)
    try:
        code, result = run_jvm(args, classes, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    if result is None:
        sys.exit(f"perfbench: the run ended (exit {code}) without a result")

    metrics, missing = select_metrics(result["metrics"], spec, layers,
                                      args.workload, args.trace)
    correct = result["correct"] and code == 0 and not missing
    if missing:
        print(f"# not measured: {', '.join(missing)}")
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
