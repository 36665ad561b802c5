#!/usr/bin/env python3
"""Smoke test of the benchmark at a tiny input size.

    python3 perfbench/smoke_test.py      # from the repository root

For every workload it runs the benchmark untraced and traced and
asserts that every declared metric prints with its unit, that every
output check passed, that the layers a workload exercises were measured
that the tail latency is not below the median, and that the traced run
reports its overhead. It also asserts that BENCHMARK.json declares
exactly the per-layer metrics layers.json maps, and that the benchmark
refuses to run without the engine's sources.
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("replay-roundtrip", "corpus-curate", "stream-ingest")
# measured on their workload but legitimately zero
MAY_BE_ZERO = {"replay.order_violations", "trace.overhead_s",
               "trace.overhead_frac"}


def run(args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")]
                       + args, cwd=cwd, capture_output=True, text=True)
    return p.returncode, p.stdout.strip().splitlines()


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)
    declared = [m["name"] for m in spec["per_layer"]]
    assert len(set(declared)) == len(declared) and \
        set(declared) == {m["name"] for m in layers}, \
        "BENCHMARK.json per_layer names differ from perfbench/layers.json"

    for w in WORKLOADS:
        for trace in ("0", "1"):
            code, lines = run(["--workload", w, "--seed", "7", "--seconds", "1",
                               "--trace", trace, "--scale", "0.05"])
            assert code == 0, f"{w} trace {trace}: exit {code}\n" + "\n".join(lines)
            out = json.loads(lines[-1])
            assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, out
            want = spec["end_to_end"] if trace == "0" else spec["per_layer"]
            assert [(k, v["unit"]) for k, v in out["metrics"].items()] == \
                [(m["name"], m["unit"]) for m in want], f"{w}: metric names or units"
            assert not any(l.startswith("# undeclared") for l in lines), lines
            if trace == "0":
                m = out["metrics"]
                assert m["ok_frac"]["value"] == 1
                assert m["op_tail_s"]["value"] >= m["op_p50_s"]["value"], m
                assert any(l.startswith("# ops") and " tail is p" in l for l in lines)
            else:
                assert any(l.startswith("# traced ops") for l in lines)
                assert "trace.overhead_s" in out["metrics"]
                assert out["metrics"]["replay.order_violations"]["value"] == 0
                zero = [m["name"] for m in layers if w in m["workloads"]
                        and m["name"] not in MAY_BE_ZERO
                        and out["metrics"][m["name"]]["value"] == 0]
                assert not zero, f"{w}: layers not measured: {zero}"
            print(f"ok {w} trace {trace}", flush=True)

    # without the engine's sources the benchmark must fail, printing no result
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".bench_build"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = run(["--workload", WORKLOADS[0], "--seed", "1",
                           "--seconds", "1", "--trace", "0"], cwd=bare)
        assert code != 0 and not (lines and lines[-1].startswith("{")), lines
    finally:
        shutil.rmtree(bare)
    print("ok bare checkout refused")


if __name__ == "__main__":
    main()
