#!/usr/bin/env python3
"""Self-test of the benchmark itself (not of the program):

- BENCHMARK.json is well formed and names only metrics the runs print;
- every run's last stdout line parses, has exactly the result keys, and
  every metric name uses [A-Za-z0-9_.-] and carries a unit;
- the seed changes the generated universe, while both seeds of the suite
  pass against the same pinned digests;
- a deliberately wrong pinned digest is counted as a failed operation;
- in a directory holding only BENCHMARK.json and perfbench/, the
  benchmark fails fast without printing a result.

Run from the root of a checkout (about ten minutes at 4 cores):

    python3 perfbench/selftest.py
"""
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def run(workload, seed, trace, digests=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace)]
    if digests:
        cmd += ["--digests", digests]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=900)
    assert out.returncode == 0, f"{cmd} exited {out.returncode}: {out.stderr[-2000:]}"
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    env = next(json.loads(l)["env"] for l in lines if l.startswith('{"env"'))
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert isinstance(result["failed"], int)
    for name, m in result["metrics"].items():
        assert NAME.match(name), f"bad metric name {name!r}"
        assert set(m) == {"value", "unit"} and UNIT.match(m["unit"]), (name, m)
        assert isinstance(m["value"], (int, float)), (name, m)
    return result, env


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"] for m in bench["end_to_end"]}
    layer = {m["name"] for m in bench["per_layer"]}
    assert "setup_s" in e2e and not e2e & layer
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])
    workloads = [w["name"] for w in bench["workloads"]]

    inputs = {}
    for w in workloads:
        res, env = run(w, 1, 0)
        inputs[w, 1] = env["input_sha256"]
        assert res["correct"] and res["failed"] == 0, (w, res)
        assert set(res["metrics"]) == e2e, (w, sorted(res["metrics"]))
        assert all(v["value"] > 0 for v in res["metrics"].values()), (w, res)
        res, env = run(w, 2, 1)
        inputs[w, 2] = env["input_sha256"]
        assert res["correct"] and res["failed"] == 0, (w, res)
        assert set(res["metrics"]) == layer, (w, sorted(res["metrics"]))
        print(f"ok   {w}: metrics parse, names and units valid", flush=True)

    assert inputs["backtest_universe", 1] != inputs["backtest_universe", 2]
    print("ok   seed changes the universe; suite seeds 1 and 2 both match "
          "the pinned digests", flush=True)

    # a wrong pinned digest must count as a failure
    wrong = os.path.join(ROOT, ".bench_run", "wrong_digests.tsv")
    with open(os.path.join(HERE, "digests.tsv")) as fh:
        lines = fh.read().splitlines()
    with open(wrong, "w") as fh:
        for line in lines:
            if not line.startswith("#"):
                name, digest, rows = line.split("\t")
                line = "\t".join((name, "0" * len(digest), rows))
            fh.write(line + "\n")
    res, _ = run("query_suite", 1, 0, digests=wrong)
    os.remove(wrong)
    assert not res["correct"] and res["failed"] > 0, res
    print(f"ok   wrong digests: failed={res['failed']} of "
          f"{res['attempted']}", flush=True)
    # without the repository's sources there is nothing to build
    bare = os.path.join(ROOT, ".bench_run", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "project/project"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                          workloads[0], "--seed", "1", "--seconds", "1",
                          "--trace", "0"], cwd=bare, capture_output=True,
                         text=True, timeout=180)
    shutil.rmtree(bare)
    assert out.returncode != 0 and not out.stdout.strip(), out
    print("ok   sources missing: exit", out.returncode, "and no result",
          flush=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
