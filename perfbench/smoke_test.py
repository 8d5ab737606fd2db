#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny sizes, from the root of a checkout:

    python3 perfbench/smoke_test.py

For every workload in BENCHMARK.json it runs one untraced and one traced
run at `--scale tiny` and checks the result line: exactly the contract's
keys, a correct run with no failed operation, and exactly the declared
metrics with their units. Then it checks that the benchmark refuses to
run, printing no result, in a directory holding only BENCHMARK.json and
the benchmark's own files. Exits 1 on the first problem.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()


def run(cwd, workload, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def check_result(bench, workload, trace, done):
    where = f"{workload} --trace {trace}"
    assert done.returncode == 0, f"{where}: exit {done.returncode}\n{done.stderr[-2000:]}"
    result = json.loads(done.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, f"{where}: keys {sorted(result)}"
    assert result["correct"] is True and result["failed"] == 0, f"{where}: {done.stdout[-3000:]}"
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1, where
    declared = bench["per_layer"] if trace else bench["end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{where}: metrics differ from BENCHMARK.json: {set(got) ^ set(want)}"
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), f"{where}: {name} is not a number"
        if not trace:
            assert m["value"] > 0, f"{where}: {name} reads {m['value']}"
    print(f"ok  {where}: {result['attempted']} operations, {len(got)} metrics")


def check_refuses_without_sources():
    """A directory with only BENCHMARK.json and perfbench/ cannot build."""
    bare = ROOT / ".bench_build" / "smoke-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    done = run(bare, "imdb_etl", 0)
    shutil.rmtree(bare)
    assert done.returncode != 0, "ran without the library's sources"
    assert not any(l.startswith("{") for l in done.stdout.splitlines()), "printed a result"
    print(f"ok  refuses without the library's sources (exit {done.returncode})")


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    try:
        for w in bench["workloads"]:
            for trace in (0, 1):
                check_result(bench, w["name"], trace, run(ROOT, w["name"], trace))
        check_refuses_without_sources()
    except AssertionError as e:
        print(f"FAIL {e}")
        sys.exit(1)


if __name__ == "__main__":
    main()
