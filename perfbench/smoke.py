"""The benchmark's own smoke test (not part of the engine's test suite).

    python3 perfbench/smoke.py

Runs every workload at a tiny input size, untraced and traced (the
hot-cell traced run at its own size, where the share is claimed), and
checks that each run passes its correctness checks and prints every
metric BENCHMARK.json names, with its unit. Then checks that a
corrupted fingerprint fails the command, and that the command fails
without a result where the engine is missing. Takes about ten minutes
on a 4-vCPU host.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAGES = "100"


def run(*args: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "1", *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600)
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return proc.returncode, None


def check_metrics(result: dict, specs: list[dict], what: str) -> None:
    got = result["metrics"]
    for s in specs:
        m = got.get(s["name"])
        assert m is not None, f"{what}: {s['name']} not printed"
        assert m["unit"] == s["unit"], f"{what}: {s['name']} unit {m['unit']} != {s['unit']}"
        assert isinstance(m["value"], (int, float)), f"{what}: {s['name']} not a number"


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import layers

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["per_layer"] == layers.PER_LAYER, \
        "BENCHMARK.json per_layer differs from perfbench/layers.py PER_LAYER"
    workloads = [w["name"] for w in spec["workloads"]] + ["incremental_delta"]
    for wl in workloads:
        for trace, specs in (("0", spec["end_to_end"]), ("1", spec["per_layer"])):
            what = f"{wl} --trace {trace}"
            # the hot-cell share needs the workload's own size: at a tiny
            # size the 200-page probe region outweighs the main pages
            hot_trace = wl == "merge_hotcell_pairjoin" and trace == "1"
            size = [] if hot_trace else ["--pages", PAGES]
            rc, res = run("--workload", wl, "--trace", trace, *size)
            assert rc == 0 and res and res["correct"] and res["failed"] == 0, f"{what}: {rc} {res}"
            check_metrics(res, specs, what)
            if wl == "incremental_delta" and trace == "1":
                check_metrics(res, layers.INCREMENTAL, what)
                assert 0 < res["metrics"]["incremental.affected_frac"]["value"] <= 1
            if hot_trace:
                frac = res["metrics"]["join.hot_cell_addr_frac"]["value"]
                assert frac >= 0.5, f"{what}: hot cell holds only {frac:.2f} of addresses"
            print(f"ok   {what}", flush=True)

    rc, res = run("--workload", workloads[0], "--pages", PAGES, "--corrupt-fingerprint")
    assert rc != 0 and res is not None and not res["correct"] and res["failed"] > 0, (rc, res)
    print("ok   a corrupted fingerprint fails the run", flush=True)

    bare = tempfile.mkdtemp(prefix="perfbench-bare-", dir=ROOT)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, res = run("--workload", workloads[0], cwd=bare)
        assert rc != 0 and res is None, (rc, res)
    finally:
        shutil.rmtree(bare)
    print("ok   without the engine the run fails and prints no result", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
