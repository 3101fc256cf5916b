#!/usr/bin/env python3
"""Smoke self-test of the benchmark itself.

    python3 perfbench/selftest.py

For each workload, at the smoke size (2 k seeds; the sf0.001 test
tables) and the default seed:
  * an untraced and a traced run print every metric of BENCHMARK.json
    with its unit, and pass their checks;
  * a run against a deliberately wrong recorded digest is caught: it
    reports `correct: false` and exits non-zero.
Finally the runner is started in a directory that holds only
BENCHMARK.json and `perfbench/`, where it must fail without a result.
Takes about five minutes on a 4-core host.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(HERE, ".work", "selftest")


def run(args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] + args,
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return p.returncode, result, p.stderr


def check(cond, msg):
    if not cond:
        raise AssertionError(msg)
    print(f"ok   {msg}", flush=True)


def smoke(workload, trace, expect=None):
    args = ["--workload", workload, "--seed", "42", "--seconds", "1", "--trace", str(trace),
            "--size", "smoke"]
    if expect:
        args += ["--expect", expect]
    return run(args)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)
    with open(os.path.join(HERE, "expected.json")) as f:
        recorded = json.load(f)

    for w in [x["name"] for x in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, res, err = smoke(w, trace)
            check(rc == 0 and res is not None and res["correct"],
                  f"{w} trace={trace}: correct run, exit 0" + ("" if rc == 0 else f"\n{err[-3000:]}"))
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{w} trace={trace}: every {key} metric printed with its unit")
            check(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                  f"{w} trace={trace}: every value is a number")
            check(res["attempted"] >= 1 and res["failed"] == 0, f"{w} trace={trace}: attempted/failed")

        # a wrong recorded digest must be caught
        bad = json.loads(json.dumps(recorded))
        slot = bad[w]["smoke"]
        if w == "crawl-deep":
            for k in slot["seen_digest_by_rounds"]:
                slot["seen_digest_by_rounds"][k] = "0" * 32
        else:
            first = sorted(slot["queries"])[0]
            slot["queries"][first]["digest"] = "0" * 32
        path = os.path.join(SCRATCH, f"wrong-{w}.json")
        with open(path, "w") as f:
            json.dump(bad, f)
        rc, res, _ = smoke(w, 0, expect=path)
        check(rc != 0 and res is not None and not res["correct"] and res["failed"] >= 1,
              f"{w}: a wrong expected digest is caught")

    # bare directory: only BENCHMARK.json and perfbench/ sources
    bare = os.path.join(SCRATCH, "bare")
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", ".work", ".cache", "runs"))
    rc, res, _ = run(["--workload", spec["workloads"][0]["name"], "--seed", "1",
                      "--seconds", "1", "--trace", "0"], cwd=bare)
    check(rc != 0 and res is None, "a directory without the engine sources fails without a result")
    shutil.rmtree(SCRATCH, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
