"""Benchmark launcher: one run of one workload, one JSON result line.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload dedup_sim --seed 1 --seconds 15 --trace 0

Workloads (``BENCHMARK.json`` lists the first and last and says why):

- ``dedup_sim``  — queries of the dedup/similarity family at sf0.01;
- ``relational`` — queries of the relational/TPC-H/warehouse family at
  sf0.01 (run by hand; not in ``BENCHMARK.json``, see ``README.md``);
- ``etl_hourly`` — successive scheduled ``pipeline.run`` calls upserting
  seeded report pages into the three partitioned parquet tables.

One run:

1. refuses to start (exit 2, no result) unless the checkout holds the
   engine package;
2. records the host: ``nproc``, ``SPARK_GRAFT_CPUS`` (default: half the
   cores, see :func:`spark_threads`), Python/Java/Spark versions,
   ``tools/host_canary.py``'s JSON (run before any timing) and the share
   of CPU time the hypervisor stole while the engine ran;
3. generates the inputs from ``--seed`` into a fresh directory under
   ``.perfbench_run/`` (the query order, the ETL pages) — the query
   workloads' tables depend only on the scale factor, so their recorded
   fingerprints hold for every seed;
4. starts ``engine.py`` as a fresh process with every directory the engine
   writes to (ANN index, Spark local dirs, warehouse, temp) pointed into
   that run directory and the package on the Python workers' path, waits
   for it and for every process it left behind;
5. deletes the run directory and checks that no other file of the
   checkout was created, changed or deleted;
6. prints each operation's time to stderr, a host line and, last,
   ``{"correct", "attempted", "failed", "metrics"}`` — end-to-end metrics
   with ``--trace 0``, per-layer metrics with ``--trace 1``, when the spans
   are also written to ``.perfbench_out/trace-<workload>-<seed>.json``.

End-to-end metrics (``--trace 0``):

- ``setup_s`` — spawn of the engine process until the session is ready,
  the inputs are touched and (``dedup_sim``) the IVF-PQ index is built;
- ``cold_s`` — the cold pass: every query once in a fresh session, or the
  first scheduled ETL run;
- ``warm_s`` — one warm pass after the warm-up passes: the sum over
  queries of each query's median warm time, or the median warm ETL run;
- ``op_p50_s`` — median of the warm operations;
- ``ops_ok_share`` — operations that ran and passed the output check,
  over operations attempted;
- ``stored_bytes_per_row`` — ``etl_hourly``: bytes on disk of the three
  tables over their live rows; query workloads: bytes of the input tables
  the workload reads over their rows.

Per-layer metrics and the end-to-end metric each should move are listed in
``README.md``.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # the checkout must stay byte-identical

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("dedup_sim", "relational", "etl_hourly")
PACKAGE = "cdmx_airquality_etl_spark"
RUN_ROOT = ".perfbench_run"
OUT_ROOT = ".perfbench_out"
# a run must end within 180 s; warm passes stop early enough to leave
# room for the launcher's own work after the engine exits
ENGINE_DEADLINE_S = 140.0
ENGINE_TIMEOUT_S = 165.0


def fail(msg: str, code: int = 2) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


# ---------------------------------------------------------------------------
# Checkout state
# ---------------------------------------------------------------------------


def snapshot(root: str) -> dict[str, tuple]:
    """Path -> (kind, size, mtime) for everything in the checkout except
    the benchmark's own run and output directories."""
    state = {}
    for dirpath, dirs, files in os.walk(root):
        if dirpath == root:
            dirs[:] = [d for d in dirs if d not in (RUN_ROOT, OUT_ROOT)]
        for d in dirs:
            state[os.path.relpath(os.path.join(dirpath, d), root)] = ("dir", 0, 0)
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.lstat(p)
            except FileNotFoundError:
                continue
            state[os.path.relpath(p, root)] = ("file", st.st_size, st.st_mtime_ns)
    return state


def diff_snapshots(before: dict, after: dict) -> list[str]:
    out = [f"+{p}" for p in after.keys() - before.keys()]
    out += [f"-{p}" for p in before.keys() - after.keys()]
    out += [f"~{p}" for p in before.keys() & after.keys() if before[p] != after[p]]
    return sorted(out)


# ---------------------------------------------------------------------------
# Processes
# ---------------------------------------------------------------------------


def cpu_times() -> list[int]:
    """The host's aggregate CPU time counters (``/proc/stat`` ``cpu`` line)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time stolen by the hypervisor in between:
    high values mean other tenants were taking the cores."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def become_subreaper() -> None:
    """Make orphaned descendants (the JVM, Python workers) our children, so
    they can be waited for after the engine process exits."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    PR_SET_CHILD_SUBREAPER = 36
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def descendants(pid: int) -> list[int]:
    parent = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            parent[int(p)] = int(raw[raw.rindex(")") + 2 :].split()[1])
    out, todo = [], [pid]
    while todo:
        cur = todo.pop()
        kids = [c for c, pp in parent.items() if pp == cur]
        out += kids
        todo += kids
    return out


def reap_all(timeout: float = 30.0) -> None:
    """Wait for every descendant to end: a grace period, then SIGTERM, then
    SIGKILL."""
    t0 = time.monotonic()
    me = os.getpid()
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        left = descendants(me)
        if not left:
            return
        waited = time.monotonic() - t0
        if waited > 5:
            sig = signal.SIGKILL if waited > timeout / 2 else signal.SIGTERM
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        if waited > timeout:
            raise RuntimeError(f"processes {left} did not end")
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# Host record
# ---------------------------------------------------------------------------


def spark_threads() -> int:
    """Spark task threads: half the cores. The JVM's JIT compiler and GC
    threads, the driver and the Python workers run beside the tasks; at
    one task thread per core they outnumber the cores and a run measures
    the scheduler as much as the program."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def host_record(root: str, env: dict) -> dict:
    rec = {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "python": platform.python_version(),
        "platform": platform.platform(),
    }
    # one repetition of each canary component: the full five-rep canary
    # costs ~11 s per run on a 4-core host
    canary = os.path.join(root, "tools", "host_canary.py")
    code = ("import json, sys; sys.path.insert(0, 'tools'); "
            "from host_canary import canary; print(json.dumps(canary(reps=1)))")
    if os.path.exists(canary):
        try:
            out = subprocess.run([sys.executable, "-B", "-c", code], cwd=root,
                                 capture_output=True, text=True, timeout=60, env=env)
            rec["host_canary"] = json.loads(out.stdout.strip().splitlines()[-1])
        except (OSError, subprocess.TimeoutExpired, ValueError, IndexError) as e:
            rec["host_canary"] = f"failed: {e}"
    else:
        rec["host_canary"] = "tools/host_canary.py absent"
    return rec


# ---------------------------------------------------------------------------
# One run
# ---------------------------------------------------------------------------


def load_benchmark(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_args(argv):
    ap = argparse.ArgumentParser(description="Run one benchmark workload once.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    # self-test knobs (selftest.py): a smaller scale factor, fewer queries
    # per pass, a shorter ETL schedule, a deliberately wrong fingerprint
    ap.add_argument("--sf", default="default", help=argparse.SUPPRESS)
    ap.add_argument("--limit", type=int, default=0, help=argparse.SUPPRESS)
    ap.add_argument("--etl-runs", type=int, default=0, help=argparse.SUPPRESS)
    ap.add_argument("--tamper", action="append", default=[], help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def run_engine(a, root: str, run_dir: str, expected: dict, datagen, t_start: float):
    """Generate the inputs into ``run_dir``, run ``engine.py`` there and
    return its result with the host record, or None if it failed."""
    dirs = {k: os.path.join(run_dir, k) for k in
            ("data", "pages", "etl", "warehouse", "spark-local", "annindex", "tmp")}
    for d in dirs.values():
        os.makedirs(d)
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(spark_threads()))
    env.update({
        # executors' Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")])),
        "PYTHONDONTWRITEBYTECODE": "1",
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "SPARK_GRAFT_ANN_INDEX_DIR": dirs["annindex"],
        "TMPDIR": dirs["tmp"],
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, [
            env.get("JAVA_TOOL_OPTIONS"),
            f"-Djava.io.tmpdir={dirs['tmp']}", "-XX:-UsePerfData",
        ])),
    })
    host = host_record(root, env)

    sf_key = "tiny" if a.sf == "tiny" else "default"
    engine_args = [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--warehouse-dir", dirs["warehouse"],
        "--out", os.path.join(run_dir, "result.json"),
    ]
    if a.workload == "etl_hourly":
        n_runs = a.etl_runs or datagen.ETL_MAX_RUNS
        for k, pages in enumerate(datagen.etl_schedule(a.seed, n_runs)):
            datagen.write_pages(os.path.join(dirs["pages"], f"run_{k:03d}.parquet"), pages)
        engine_args += ["--pages-dir", dirs["pages"], "--etl-dir", dirs["etl"],
                        "--etl-runs", str(n_runs)]
    else:
        datagen.write_tables(
            dirs["data"], expected["scale_factors"][sf_key], expected["data_seed"]
        )
        exp_path = os.path.join(run_dir, "expected.json")
        with open(exp_path, "w") as f:
            json.dump({"queries": expected["queries"][sf_key]}, f)
        engine_args += ["--data-dir", dirs["data"], "--expected", exp_path,
                        "--limit", str(a.limit)]
        for name in a.tamper:
            engine_args += ["--tamper", name]

    log_path = os.path.join(run_dir, "engine.log")
    spent = time.monotonic() - t_start
    t_spawn = time.monotonic()
    cmd = [sys.executable, os.path.join(HERE, "engine.py"), *engine_args,
           "--t-spawn", repr(t_spawn), "--deadline", repr(ENGINE_DEADLINE_S - spent)]
    cpu_before = cpu_times()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=ENGINE_TIMEOUT_S - spent)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    host["steal_share"] = round(steal_share(cpu_before, cpu_times()), 4)
    print(f"perfbench: {spent:.1f} s before the engine, engine "
          f"{time.monotonic() - t_spawn:.1f} s", file=sys.stderr)
    if code != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        print(f"perfbench: engine exit status {code}", file=sys.stderr)
        return None
    with open(os.path.join(run_dir, "result.json")) as f:
        result = json.load(f)
    result["host"] = {**host, **result.pop("versions")}
    return result


def main(argv=None) -> int:
    t_start = time.monotonic()
    a = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        return fail(f"no {PACKAGE}/ in {root}: run from the root of a checkout")
    try:
        bench = load_benchmark(root)
        with open(os.path.join(HERE, "expected.json")) as f:
            expected = json.load(f)
    except (OSError, ValueError) as e:
        return fail(f"cannot read the benchmark definition: {e}")
    try:
        import datagen
    except ImportError as e:
        return fail(f"cannot import the input generator: {e}")

    become_subreaper()
    before = snapshot(root)
    run_dir = os.path.join(root, RUN_ROOT, f"{os.getpid()}")
    try:
        result = run_engine(a, root, run_dir, expected, datagen, t_start)
    finally:
        reap_all()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, RUN_ROOT))
        except OSError:
            pass  # another run's directory is still there
    changed = diff_snapshots(before, snapshot(root))
    if changed:
        print(f"perfbench: the run changed the checkout: {changed[:20]}", file=sys.stderr)
    if result is None:
        return fail("the engine did not produce a result", 1)

    for op in result["ops"]:
        print(f"perfbench: {op['phase']} {op['name']} {op['s']:.3f} s"
              + ("" if op["ok"] else f" failed: {op['error']}"), file=sys.stderr)
    section, values = (
        ("per_layer", result["per_layer"]) if a.trace
        else ("end_to_end", result["end_to_end"])
    )
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in bench[section]}
    if a.trace:
        out_dir = os.path.join(root, OUT_ROOT)
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"host": result["host"], "workload": a.workload, "seed": a.seed,
                       "per_layer": result["per_layer"], "ops": result["ops"],
                       "warm_passes": result["warm_passes"],
                       "spans": result["spans"]}, f)
    print(json.dumps({"host": result["host"]}))
    print(json.dumps({
        "correct": result["failed"] == 0 and not changed,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
