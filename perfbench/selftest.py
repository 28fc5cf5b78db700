"""Self-test of the benchmark on a tiny configuration.

Runs ``run.py`` at sf0.001 with two queries per pass and four scheduled
ETL runs (the cold run, two warm-up runs, one measured run), and checks
that:

1. every workload of ``BENCHMARK.json`` prints, with ``--trace 0`` and ``--trace 1``, exactly the
   metrics ``BENCHMARK.json`` names for that mode, each with its unit, and
   passes its output check;
2. the output check fails when it is fed a deliberately wrong fingerprint;
3. in every traced run the self times of an operation's spans sum to the
   operation's wall time;
4. in a directory holding only ``BENCHMARK.json`` and the benchmark's own
   files, the benchmark exits with a non-zero code and prints no result.

Usage (from the root of a checkout; about four minutes on 4 cores)::

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from engine import DEDUP_SIM, self_times  # noqa: E402
from run import OUT_ROOT, RUN_ROOT  # noqa: E402

TINY = ["--sf", "tiny", "--limit", "2", "--etl-runs", "4"]
SEED = 7


def bench_run(root: str, workload: str, trace: int, *extra: str):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), *extra]
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    if result is not None and "correct" not in result:
        result = None
    return proc, result


def check(ok: bool, what: str, failures: list[str]) -> None:
    print(f"{'ok  ' if ok else 'FAIL'} {what}", flush=True)
    if not ok:
        failures.append(what)


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures: list[str] = []

    for workload in (w["name"] for w in bench["workloads"]):
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            proc, res = bench_run(root, workload, trace, *TINY)
            tag = f"{workload} --trace {trace}"
            if res is None:
                check(False, f"{tag}: prints a result (exit {proc.returncode}: "
                      f"{proc.stderr[-800:]})", failures)
                continue
            check(sorted(res) == ["attempted", "correct", "failed", "metrics"],
                  f"{tag}: result has exactly the four keys", failures)
            want = {m["name"]: m["unit"] for m in bench[section]}
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            check(got == want, f"{tag}: every {section} metric with its unit", failures)
            check(all(isinstance(v.get("value"), (int, float))
                      for v in res["metrics"].values()),
                  f"{tag}: every value is a number", failures)
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{tag}: output check passes ({res['attempted']} ops, "
                  f"{res['failed']} failed)", failures)
            if trace:
                path = os.path.join(root, OUT_ROOT, f"trace-{workload}-{SEED}.json")
                with open(path) as f:
                    spans = json.load(f)["spans"]
                selfs = self_times(spans)
                worst = 0.0
                for root_span in (s for s in spans if s["parent"] is None):
                    total = sum(selfs[s["id"]] for s in spans if s["op"] == root_span["id"])
                    worst = max(worst, abs(total - (root_span["end"] - root_span["start"])))
                check(worst < 1e-6,
                      f"{tag}: self times sum to span wall time (max error {worst:.2e} s)",
                      failures)

    proc, res = bench_run(root, "dedup_sim", 0, *TINY, "--tamper", DEDUP_SIM[0])
    check(res is not None and not res["correct"] and res["failed"] >= 1,
          f"a wrong fingerprint for {DEDUP_SIM[0]} fails the output check", failures)

    bare = os.path.join(root, RUN_ROOT, "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        for path in bench["paths"]:
            shutil.copytree(os.path.join(root, path), os.path.join(bare, path))
        proc, res = bench_run(bare, "dedup_sim", 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, RUN_ROOT))
        except OSError:
            pass
    check(proc.returncode != 0 and res is None,
          f"without the program: exit {proc.returncode} and no result", failures)

    print(f"{len(failures)} failed" if failures else "all checks passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
