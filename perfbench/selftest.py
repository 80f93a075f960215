"""Self-test of the benchmark at tiny size.

Run from the root of a checkout:

    python3 perfbench/selftest.py

It checks that
- each workload's timed run prints every end-to-end metric of
  ``BENCHMARK.json`` with its unit, and passes its correctness checks;
- the traced run prints every per-layer metric with its unit;
- one corrupted golden row makes ``failed`` > 0 on each workload;
- in a directory holding only ``BENCHMARK.json`` and the benchmark's
  files, the benchmark exits non-zero without printing a result;
- no run leaves a process behind (the self-test makes itself the
  subreaper of everything a run starts, so an orphaned JVM or Python
  worker would become its child).
"""

from __future__ import annotations

import ctypes
import json
import os
import shutil
import subprocess
import sys

from run import alive, descendants

REPO = os.getcwd()
WORK = os.path.join(REPO, ".perfbench")
SPEC = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
PR_SET_CHILD_SUBREAPER = 36


def bench(*extra: str, cwd: str = REPO) -> tuple[int, dict | None]:
    """Run the benchmark with its output in files, not pipes: a pipe
    stays open while any process that inherited it runs, so waiting on
    pipes would wait out a JVM left behind instead of catching it."""
    cmd = SPEC["command"] + ["--seed", "5", "--seconds", "1", *extra]
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "selftest.out"), "w+") as out, \
            open(os.path.join(WORK, "selftest.err"), "w+") as err:
        rc = subprocess.run(cmd, cwd=cwd, stdout=out, stderr=err,
                            timeout=600).returncode
        left = {pid for pid in descendants(os.getpid()) if alive(pid)}
        assert not left, f"processes left running after {cmd}: {sorted(left)}"
        out.seek(0)
        err.seek(0)
        lines = out.read().strip().splitlines()
        if rc != 0 and cwd == REPO:
            sys.stderr.write(err.read()[-4000:])
    last = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return rc, last


def expect_metrics(res: dict, spec_key: str) -> None:
    want = {m["name"]: m["unit"] for m in SPEC[spec_key]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"{spec_key}: got {sorted(got)} want {sorted(want)}"
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), (k, v)


def main() -> int:
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    workloads = [w["name"] for w in SPEC["workloads"]]
    for wl in workloads:
        rc, res = bench("--workload", wl, "--trace", "0", "--size", "tiny")
        assert rc == 0 and res, f"{wl}: exit {rc}"
        expect_metrics(res, "end_to_end")
        assert res["correct"] and res["failed"] == 0, f"{wl}: {res}"
        print(f"ok   {wl}: e2e metrics, {res['attempted']} ops, all correct")

        rc, res = bench("--workload", wl, "--trace", "0", "--size", "tiny",
                        "--corrupt-golden")
        assert rc == 0 and res and res["failed"] > 0 and not res["correct"], res
        print(f"ok   {wl}: a corrupted golden row fails "
              f"{res['failed']} of {res['attempted']} ops")

    rc, res = bench("--workload", workloads[0], "--trace", "1", "--size", "tiny")
    assert rc == 0 and res, f"trace: exit {rc}"
    expect_metrics(res, "per_layer")
    assert res["correct"], res
    print(f"ok   traced run: {len(res['metrics'])} per-layer metrics")

    bare = os.path.join(WORK, "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(REPO, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("__pycache__"))
    rc, res = bench("--workload", workloads[0], "--trace", "0", cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    assert rc != 0 and res is None, (rc, res)
    print(f"ok   without the program: exit {rc}, no result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
