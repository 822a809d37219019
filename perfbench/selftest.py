"""Self-test of the benchmark harness.  From the repository root:

    python3 perfbench/selftest.py

1. A tiny-size run of every workload in BENCHMARK.json, untraced and
   traced, exits 0, reports correct outputs, and prints every metric that
   BENCHMARK.json names, with its unit.
2. A tiny run whose expected outputs were deliberately corrupted after
   set-up counts the affected ops as failed and reports ``correct: false``.
3. A tiny run in which one op leaves a ``tempfile.mkdtemp`` directory
   behind counts that op as failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 300


def _run(args: list[str]) -> dict:
    p = subprocess.run([sys.executable, *args], cwd=ROOT, text=True,
                       capture_output=True, timeout=TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise AssertionError(f"{args} exited {p.returncode}:\n"
                             f"{p.stderr[-4000:]}")
    return json.loads(lines[-1])


def _bench_args(workload: str, trace: int) -> list[str]:
    return ["--workload", workload, "--seed", "1", "--seconds", "1",
            "--trace", str(trace), "--size", "tiny"]


def check_metrics(spec: dict) -> None:
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = _run(["perfbench/run.py", *_bench_args(wl, trace)])
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            assert got == want, f"{wl} trace={trace}: {got} != {want}"
            assert all(isinstance(v["value"], float)
                       for v in r["metrics"].values())
            assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
            print(f"ok   {wl} trace={trace}: {len(got)} metrics, "
                  f"{r['attempted']} ops")


def _corrupt(w) -> None:
    """Hook for run.main: make the oracle expect something else."""
    if w.name == "tile_build":
        w.pts.image_id[0] = "~corrupted"   # sorts after every image id
        return
    expected = w._expected

    def wrong(kind, pdf):
        want = expected(kind, pdf)
        if kind == "bbox":
            want = (want[0] + 1, *want[1:])
        return want

    w._expected = wrong


def _leak(w) -> None:
    """Hook for run.main: the first op leaves a temp directory behind."""
    op = w.op

    def leaky(i):
        if i == 0:
            tempfile.mkdtemp(prefix="leaked-")
        return op(i)

    w.op = leaky


def check_corrupted(spec: dict) -> None:
    for wl in (w["name"] for w in spec["workloads"]):
        r = _run(["perfbench/selftest.py", "--corrupt", wl])
        assert not r["correct"] and r["failed"] >= 1, r
        print(f"ok   {wl}: corrupted digest -> {r['failed']} of "
              f"{r['attempted']} ops failed")


def check_leak(spec: dict) -> None:
    wl = spec["workloads"][0]["name"]
    r = _run(["perfbench/selftest.py", "--leak", wl])
    assert not r["correct"] and r["failed"] == 1, r
    print(f"ok   {wl}: leaked temp directory -> 1 of {r['attempted']} "
          "ops failed")


HOOKS = {"--corrupt": _corrupt, "--leak": _leak}


def main() -> None:
    if sys.argv[1:2] and sys.argv[1] in HOOKS:
        sys.path.insert(0, HERE)
        import run

        run.main(_bench_args(sys.argv[2], 0), after_setup=HOOKS[sys.argv[1]])
        return
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_metrics(spec)
    check_corrupted(spec)
    check_leak(spec)
    print("selftest passed")


if __name__ == "__main__":
    main()
