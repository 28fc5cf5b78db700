"""The measured process: one SparkSession, one closed-loop client.

``run.py`` starts this file as a fresh process and passes the run's
directories; it writes one JSON result file and exits. Everything timed
happens here, on one thread, one operation at a time.

Set-up (``setup_s``) runs from the moment ``run.py`` spawned this process
until the session is ready, the workload's inputs are touched and, for
``dedup_sim``, the persisted IVF-PQ index is built. Then a cold pass,
``WARM_UP`` warm-up passes left out of the metrics while the JIT settles,
and warm passes: at least ``MIN_WARM``, more while they fit in
``--seconds`` counted from the start of the cold pass.

- Query workloads: a pass runs every query of the workload once, in a
  fresh order drawn from the seed. One query operation calls the registry
  builder, plans the result's fingerprint aggregate (row count +
  order-independent sum of ``xxhash64`` over every column), executes it
  and collects the one-row answer, which is compared with
  ``expected.json``. Cached frames are dropped between operations,
  outside the timed region.
- ``etl_hourly``: a pass is one scheduled run, ``spark.read.parquet(pages)``
  + ``pipeline.run`` into the three partitioned tables; history grows from
  run to run. Row counts are checked after every run and the final tables
  against :class:`datagen.UpsertModel`.

With ``--trace 1`` the run is a profile instead: the entry points of each
layer are wrapped (``operators.fanout.scan_fanout_parallelism``,
``pipeline.ingest_reports``, ``quality.gate``, ``pipeline.merge_into_parquet``),
every span sets its own Spark job group, and after each operation, outside
the timed region, the stages of each span's job group are read from the
``AppStatusStore`` and the JVM and Python-worker counters are differenced.
The warm passes follow ``TRACED_PATTERN`` of untraced (U) and traced (T)
passes; the per-layer numbers cover the set-up, the cold pass and the
traced warm passes, and ``trace.overhead_s`` is the mean traced minus the
mean untraced warm pass, leaving out the first warm pass.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import re
import statistics
import sys
import time

# Passes after the cold one that are run but not measured: the first
# warm passes still run faster each time while the JIT compiles the hot
# code (an ETL run took 7.6, 7.0 and then 5.2-5.9 s on a 4-core host; in
# a slow process q_dedup_containment fell from 3.1 to 2.1 s over five
# warm passes).
WARM_UP = {"dedup_sim": 2, "relational": 1, "etl_hourly": 2}
# Measured warm passes every run makes however long they take (a pass is
# one scheduled run for etl_hourly). They are sized so that on a 4-core
# host the window (--seconds) closes before they end: extra passes would
# come only on fast runs, and later passes run faster (JIT settling),
# which would couple warm_s to the run's own speed.
MIN_WARM = {"dedup_sim": 5, "relational": 4, "etl_hourly": 5}
# untraced (U) and traced (T) warm passes of a traced run. The first warm
# pass still carries JIT warm-up and is left out of trace.overhead_s; the
# symmetric U T T U after it cancels a linear drift (ETL history growing)
TRACED_PATTERN = "UUTTU"

WORKLOAD_TABLES = {
    "dedup_sim": ("documents", "embeddings"),
    "relational": (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events",
    ),
}

# The queries each query workload runs. The full families (dedup.py +
# similarity.py = 29 queries; relational*, tpch_ext*, warehouse, flagship =
# 83) take 44 s and 37 s for one cold pass on a 4-core host, more than a run
# can spend, so each workload runs a fixed subset; expected.json holds
# fingerprints for both full families, so a subset can change without
# re-recording. dedup_sim keeps the family's mechanisms: scan fan-out
# (exact, containment), Bloom pre-filters, build-time eager jobs and the
# candidate self-join (containment) and the persisted ANN index
# (ivfpq_probe). relational takes every twelfth query of its
# family in registry order (flagship, relational*, tpch_ext* queries).
DEDUP_SIM = (
    "q_dedup_exact",
    "q_dedup_containment",
    "q_similarity_ann_ivfpq_probe",
)
DEDUP_SIM_MODULES = ("dedup", "similarity")
RELATIONAL_MODULES = (
    "relational", "relational_ext", "relational_ext2", "relational_ext3",
    "relational_ext4", "tpch_ext", "tpch_ext2", "tpch_ext3", "warehouse",
    "flagship",
)
RELATIONAL_STRIDE = 12


def family(registry: dict, modules: tuple[str, ...]) -> list[str]:
    """Registered queries of ``modules``, in registry order."""
    return [n for n, fn in registry.items() if fn.__module__.rsplit(".", 1)[-1] in modules]


def relational_queries(registry: dict) -> tuple[str, ...]:
    return tuple(family(registry, RELATIONAL_MODULES)[::RELATIONAL_STRIDE])


# ---------------------------------------------------------------------------
# Tracing
# ---------------------------------------------------------------------------


class Tracer:
    """Spans kept in memory: name, start, end, parent, run id and the id of
    the operation (root span) they belong to. When enabled, each span sets
    its own Spark job group so the stages it launches can be found later;
    leaving a span restores the enclosing span's group."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._jsc = None

    def attach(self, spark) -> None:
        self._jsc = spark.sparkContext._jsc

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent,
            "op": self.spans[parent]["op"] if parent is not None else sid,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sid: int | None) -> None:
        if self._jsc is None:
            return
        if sid is None:
            self._jsc.clearJobGroup()
        else:
            self._jsc.setJobGroup(f"pb{sid}", self.spans[sid]["name"], False)

    def wrap(self, module, attr: str, span_name: str) -> None:
        """Replace ``module.attr`` by a function that runs it in a span."""
        inner = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(span_name):
                return inner(*args, **kwargs)

        setattr(module, attr, traced)

    def op_spans(self, op_id: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op_id]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the durations of its direct children."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None and s["parent"] in out:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


# ---------------------------------------------------------------------------
# Counters read from outside the program
# ---------------------------------------------------------------------------

_STAGE_FIELDS = (
    "stages", "tasks", "failed_tasks", "run_ms", "cpu_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "output_bytes", "output_records",
)


class Counters:
    """Spark ``AppStatusStore`` stages per job group, ``CodegenMetrics`` and
    the JVM MXBeans through py4j, and Python worker CPU from ``/proc``."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._jvm = sc._jvm
        self._scala_sc = sc._jsc.sc()
        self._store = self._scala_sc.statusStore()
        mf = self._jvm.java.lang.management.ManagementFactory
        self._mf = mf
        self.jvm_pid = int(mf.getRuntimeMXBean().getPid())
        self._tick = os.sysconf("SC_CLK_TCK")

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the final metrics of the finished stages."""
        self._scala_sc.listenerBus().waitUntilEmpty()

    def group_stages(self, group: str) -> dict:
        """Totals over the stages of every job run under ``group``."""
        from py4j.protocol import Py4JJavaError

        acc = dict.fromkeys(_STAGE_FIELDS, 0)
        acc["jobs"] = 0
        seen = set()
        conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        for job_id in self._sc.statusTracker().getJobIdsForGroup(group):
            acc["jobs"] += 1
            job = self._store.job(job_id)
            for sid in conv.asJava(job.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted from the store, or never submitted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                acc["stages"] += 1
                acc["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                acc["failed_tasks"] += st.numFailedTasks()
                acc["run_ms"] += st.executorRunTime()
                acc["cpu_ms"] += st.executorCpuTime() / 1e6
                acc["shuffle_read_bytes"] += st.shuffleReadBytes()
                acc["shuffle_write_bytes"] += st.shuffleWriteBytes()
                acc["spill_bytes"] += st.diskBytesSpilled()
                acc["output_bytes"] += st.outputBytes()
                acc["output_records"] += st.outputRecords()
        return acc

    def jvm(self) -> dict:
        jvm, mf = self._jvm, self._mf
        meta = 0
        for pool in mf.getMemoryPoolMXBeans():
            if pool.getName() == "Metaspace":
                meta = pool.getUsage().getUsed()
        cg = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        return {
            "codegen.compiles": jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount(),
            "codegen.compile_ms": cg.compileTime() / 1e6,
            "jvm.jit_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
            "jvm.classes_loaded": mf.getClassLoadingMXBean().getTotalLoadedClassCount(),
            "jvm.metaspace_bytes": meta,
            "exec.gc_ms": sum(g.getCollectionTime() for g in mf.getGarbageCollectorMXBeans()),
            "python.worker_cpu_s": self.python_cpu_s(),
        }

    def python_cpu_s(self) -> float:
        """CPU seconds of the JVM's Python workers, live or already reaped
        (a reaped child's time moves into its parent's cutime/cstime)."""
        stats = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            comm = raw[raw.index("(") + 1 : raw.rindex(")")]
            rest = raw[raw.rindex(")") + 2 :].split()
            # fields after comm: state ppid ... utime(12) stime cutime cstime
            stats[int(pid)] = (comm, int(rest[1]), [int(x) for x in rest[11:15]])
        children: dict[int, list[int]] = {}
        for pid, (_, ppid, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        ticks = sum(stats[self.jvm_pid][2][2:]) if self.jvm_pid in stats else 0
        todo = list(children.get(self.jvm_pid, []))
        while todo:
            pid = todo.pop()
            comm, _, t = stats[pid]
            if comm.startswith("python"):
                ticks += sum(t)
            todo.extend(children.get(pid, []))
        return ticks / self._tick

    def peak_rss_mb(self) -> float:
        total = 0
        for pid in (os.getpid(), self.jvm_pid):
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        return total / 1024


_EXCHANGE = re.compile(r"^[\s|:+\-]*(Exchange|BroadcastExchange) ", re.M)
_ROUND_ROBIN = re.compile(r"^[\s|:+\-]*Exchange RoundRobinPartitioning", re.M)


def plan_stats(qe) -> dict:
    """Exchanges and round-robin (fan-out) exchanges in the executed plan;
    for an adaptive plan only its final section is counted."""
    text = qe.executedPlan().toString()
    if "== Final Plan ==" in text:
        text = text.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return {
        "plan.exchanges": len(_EXCHANGE.findall(text)),
        "operators.fanout.engaged": len(_ROUND_ROBIN.findall(text)),
    }


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


def fingerprint_frame(df):
    """One-row frame: (row count, order-independent sum of row hashes)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    named = df.toDF(*[f"c{i}" for i in range(len(df.columns))])
    cols = [
        F.to_json(F.col(f.name)) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in named.schema.fields
    ]
    return named.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(20,0)")).alias("hash"),
    )


class Run:
    """One benchmark run inside the measured process."""

    def __init__(self, args):
        self.args = args
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", args.trace)
        self.ops: list[dict] = []
        self.warm_passes: list[tuple[str, float]] = []  # (U|T, op seconds)
        self.layer: dict[str, float] = {}  # counter totals over profiled ops
        self.profiled: list[int] = []  # root span ids of profiled ops
        self.rows_in = 0  # ETL source rows of the profiled scheduled runs
        self.spark = None
        self.counters = None

    # -- set-up ----------------------------------------------------------

    def setup(self) -> None:
        from cdmx_airquality_etl_spark import pipeline, quality
        from cdmx_airquality_etl_spark.operators import fanout, similarity
        from cdmx_airquality_etl_spark.session import get_spark
        from cdmx_airquality_etl_spark.sources.parquet import load_table

        a, tr = self.args, self.tracer
        if a.trace:
            tr.wrap(fanout, "scan_fanout_parallelism",
                    "operators.fanout.scan_fanout_parallelism")
            tr.wrap(pipeline, "ingest_reports", "sources.html_ingest.ingest_reports")
            tr.wrap(pipeline, "merge_into_parquet", "plans.merge")
            tr.wrap(quality, "gate", "quality.gate")
        with tr.span("setup"):
            with tr.span("session.get_spark"):
                self.spark = get_spark(
                    "perfbench",
                    extra_conf={"spark.sql.warehouse.dir": a.warehouse_dir},
                )
            self.spark.sparkContext.setLogLevel("ERROR")
            tr.attach(self.spark)
            with tr.span("sources.parquet.load_table"):
                if a.workload == "etl_hourly":
                    self.spark.read.parquet(a.pages_dir).count()
                else:
                    for t in WORKLOAD_TABLES[a.workload]:
                        load_table(self.spark, a.data_dir, t).count()
            if a.workload == "dedup_sim":
                with tr.span("operators.similarity.ensure_ivfpq_index"):
                    similarity.ensure_ivfpq_index(self.spark, a.data_dir)
            if a.workload == "etl_hourly":
                with tr.span("pipeline.bootstrap"):
                    self.etl_config = pipeline.PipelineConfig(warehouse_dir=a.etl_dir)
                    pipeline.bootstrap(self.spark, self.etl_config)
        self.setup_s = time.monotonic() - a.t_spawn
        self.counters = Counters(self.spark)

    # -- one operation -----------------------------------------------------

    def op(self, phase: str, name: str, body, traced: bool) -> dict:
        """Time ``body()``; with ``traced`` also profile it (untimed)."""
        tr = self.tracer
        tr.enabled = traced
        before = self.counters.jvm() if traced else None
        holder: dict = {}
        t0 = time.perf_counter()
        with tr.span("op", phase=phase, target=name) as root:
            try:
                out, err = body(holder), None
            except Exception as e:  # noqa: BLE001 — a failed op is a result
                out, err = None, f"{type(e).__name__}: {e}"[:400]
        rec = {"phase": phase, "name": name, "s": time.perf_counter() - t0,
               "traced": traced, "out": out, "ok": err is None, "error": err}
        self.ops.append(rec)
        if traced:
            self._profile(root["id"], before, holder.get("qe"))
        tr.enabled = False
        return rec

    def _profile(self, op_id: int, before: dict, qe) -> None:
        after = self.counters.jvm()
        for k, v in after.items():
            self.layer[k] = self.layer.get(k, 0) + v - before[k]
        self.counters.drain()
        self.profiled.append(op_id)
        for s in self.tracer.op_spans(op_id):
            s["stages"] = self.counters.group_stages(f"pb{s['id']}")
        if qe is not None:
            for k, v in plan_stats(qe).items():
                self.layer[k] = self.layer.get(k, 0) + v

    # -- passes ------------------------------------------------------------

    def measure(self, run_pass) -> None:
        """Cold pass, then in a traced run ``TRACED_PATTERN``; in an
        untraced run ``WARM_UP`` passes and warm passes until the window
        closes (at least ``MIN_WARM``). ``run_pass`` returns False when the
        workload has no more input."""
        a = self.args
        t0 = time.perf_counter()
        run_pass("cold", a.trace)
        if a.trace:
            for kind in TRACED_PATTERN:
                run_pass("warm", kind == "T")
            return
        for _ in range(WARM_UP[a.workload]):
            if not run_pass("warmup", False):
                return
        n = 0
        while True:
            start = len(self.ops)
            if not run_pass("warm", False):
                break
            n += 1
            last = sum(o["s"] for o in self.ops[start:])
            if n >= MIN_WARM[a.workload] and (
                time.perf_counter() - t0 + last > a.seconds
                or time.monotonic() - a.t_spawn + last > a.deadline
            ):
                break

    def _pass_time(self, start: int, traced: bool) -> None:
        self.warm_passes.append(
            ("T" if traced else "U", sum(o["s"] for o in self.ops[start:]))
        )

    # -- query workloads ---------------------------------------------------

    def run_queries(self) -> None:
        from cdmx_airquality_etl_spark import QUERIES

        a = self.args
        with open(a.expected) as f:
            expected = json.load(f)["queries"]
        for name in a.tamper:  # self-test: a deliberately wrong fingerprint
            expected[name] = dict(expected[name], rows=expected[name]["rows"] + 1)
        names = list(DEDUP_SIM if a.workload == "dedup_sim" else relational_queries(QUERIES))
        if a.limit:
            names = names[: a.limit]
        rng = random.Random(a.seed)

        def body_for(name):
            fn = QUERIES[name]
            tr = self.tracer

            def body(holder):
                with tr.span("operators.build"):
                    df = fn(self.spark, a.data_dir)
                fp = fingerprint_frame(df)
                with tr.span("plan"):
                    qe = fp._jdf.queryExecution()
                    qe.executedPlan()
                holder["qe"] = qe
                with tr.span("exec"):
                    row = fp.collect()[0]
                return [int(row["rows"]), None if row["hash"] is None else str(row["hash"])]

            return body

        def run_pass(phase, traced):
            order = names[:]
            rng.shuffle(order)
            start = len(self.ops)
            for name in order:
                rec = self.op(phase, name, body_for(name), traced)
                self.spark.catalog.clearCache()
                want = expected.get(name)
                if not rec["ok"]:
                    continue
                if want is None:
                    rec["ok"], rec["error"] = False, "no expected fingerprint"
                elif rec["out"][0] != want["rows"] or (
                    want["hash"] is not None and rec["out"][1] != want["hash"]
                ):
                    rec["ok"] = False
                    rec["error"] = f"fingerprint {rec['out']} != expected {want}"
            if phase == "warm":
                self._pass_time(start, traced)
            return True

        self.measure(run_pass)

    # -- etl_hourly ----------------------------------------------------------

    def run_etl(self) -> None:
        from cdmx_airquality_etl_spark import pipeline

        from datagen import UpsertModel, etl_schedule

        a = self.args
        schedule = etl_schedule(a.seed, a.etl_runs)
        model = UpsertModel()
        self.etl_model = model
        state = {"k": 0}

        def run_pass(phase, traced):
            k = state["k"]
            if k >= len(schedule):
                return False
            state["k"] = k + 1
            path = os.path.join(a.pages_dir, f"run_{k:03d}.parquet")
            tr = self.tracer

            def body(holder):
                html_df = self.spark.read.parquet(path)
                with tr.span("pipeline.run"):
                    return pipeline.run(self.spark, html_df, self.etl_config)

            start = len(self.ops)
            rec = self.op(phase, "scheduled_run", body, traced)
            model.apply(schedule[k])
            if traced:
                self.rows_in += sum(1 + len(p[3]) + len(p[4]) for p in schedule[k])
            want = {"cdmx": len(model.cdmx), "edomex": len(model.edomex),
                    "gral_stats": len(model.gral)}
            if rec["ok"] and rec["out"] != want:
                rec["ok"], rec["error"] = False, f"row counts {rec['out']} != {want}"
            if phase == "warm":
                self._pass_time(start, traced)
            return True

        self.measure(run_pass)
        bad = self.check_etl_tables(model)
        if bad:
            self.ops[-1]["ok"] = False
            self.ops[-1]["error"] = f"final tables differ from the model: {bad}"

    def check_etl_tables(self, model) -> list[str]:
        """Compare the final tables with the model, key by key."""
        specs = {
            "gral_stats": (["report_ts"], "temp_celsius_int", model.gral),
            "cdmx": (["report_ts", "clave_str"], "calidad_del_aire_str", model.cdmx),
            "edomex": (["report_ts", "clave_str"], "calidad_del_aire_str", model.edomex),
        }
        bad = []
        for name, (keys, col, want) in specs.items():
            rows = self.spark.read.parquet(self.etl_config.table_path(name)).select(
                *keys, "nupdates", col
            ).collect()
            got = {}
            for r in rows:
                key = r[0] if len(keys) == 1 else tuple(r[: len(keys)])
                if key in got:
                    bad.append(f"{name}: duplicate key {key}")
                got[key] = [r["nupdates"], r[col]]
            if got != want:
                diff = [k for k in set(got) | set(want) if got.get(k) != want.get(k)]
                bad.append(f"{name}: {len(diff)} keys differ, e.g. {sorted(diff, key=str)[:3]}")
        return bad

    # -- metrics -------------------------------------------------------------

    def end_to_end(self) -> dict:
        a = self.args
        cold = [o["s"] for o in self.ops if o["phase"] == "cold"]
        warm = [o for o in self.ops if o["phase"] == "warm"]
        by_name: dict[str, list[float]] = {}
        for o in warm:
            by_name.setdefault(o["name"], []).append(o["s"])
        warm_s = [o["s"] for o in warm]
        failed = sum(not o["ok"] for o in self.ops)
        if a.workload == "etl_hourly":
            stored = sum(dir_bytes(self.etl_config.table_path(name))
                         for name in ("gral_stats", "cdmx", "edomex"))
            rows = self.etl_model.rows()
        else:
            import pyarrow.parquet as pq

            files = [os.path.join(a.data_dir, f"{t}.parquet")
                     for t in WORKLOAD_TABLES[a.workload]]
            stored = sum(os.path.getsize(f) for f in files)
            rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        return {
            "setup_s": self.setup_s,
            "cold_s": sum(cold),
            "warm_s": sum(statistics.median(v) for v in by_name.values()),
            "op_p50_s": statistics.median(warm_s),
            "ops_ok_share": 1 - failed / len(self.ops),
            "stored_bytes_per_row": stored / rows,
        }

    def per_layer(self) -> dict:
        spans = [s for s in self.tracer.spans if s["end"] is not None]
        selfs = self_times(spans)
        counted = set(self.profiled) | {0}  # span 0 is the set-up
        by_name: dict[str, float] = {}
        stage_tot: dict[str, float] = {}
        own: dict[str, dict] = {}
        for s in spans:
            if s["op"] not in counted:
                continue
            by_name[s["name"]] = by_name.get(s["name"], 0.0) + selfs[s["id"]]
            st = s.get("stages")
            if st:
                acc = own.setdefault(s["name"], dict.fromkeys(st, 0))
                for k, v in st.items():
                    acc[k] += v
                    stage_tot[k] = stage_tot.get(k, 0) + v
        L = self.layer
        merge = own.get("plans.merge", {})
        t = [dt for kind, dt in self.warm_passes[1:] if kind == "T"]
        u = [dt for kind, dt in self.warm_passes[1:] if kind == "U"]
        out = {
            "session.get_spark_s": by_name.get("session.get_spark", 0.0),
            "sources.parquet.load_table_s": by_name.get("sources.parquet.load_table", 0.0),
            "operators.similarity.ensure_ivfpq_index_s":
                by_name.get("operators.similarity.ensure_ivfpq_index", 0.0),
            "operators.build_s": by_name.get("operators.build", 0.0),
            "operators.build_stages": own.get("operators.build", {}).get("stages", 0),
            "operators.fanout.probe_s":
                by_name.get("operators.fanout.scan_fanout_parallelism", 0.0),
            "operators.fanout.engaged": L.get("operators.fanout.engaged", 0),
            "plan.s": by_name.get("plan", 0.0),
            "plan.exchanges": L.get("plan.exchanges", 0),
            "exec.s": by_name.get("exec", 0.0),
            "exec.jobs": stage_tot.get("jobs", 0),
            "exec.stages": stage_tot.get("stages", 0),
            "exec.tasks": stage_tot.get("tasks", 0),
            "exec.run_ms": stage_tot.get("run_ms", 0),
            "exec.cpu_ms": stage_tot.get("cpu_ms", 0.0),
            "exec.cpu_ratio": stage_tot.get("cpu_ms", 0.0) / max(stage_tot.get("run_ms", 0), 1),
            "exec.shuffle_read_bytes": stage_tot.get("shuffle_read_bytes", 0),
            "exec.shuffle_write_bytes": stage_tot.get("shuffle_write_bytes", 0),
            "exec.spill_bytes": stage_tot.get("spill_bytes", 0),
            "exec.gc_ms": L.get("exec.gc_ms", 0),
            "exec.failed_tasks": stage_tot.get("failed_tasks", 0),
            "codegen.compiles": L.get("codegen.compiles", 0),
            "codegen.compile_ms": L.get("codegen.compile_ms", 0.0),
            "jvm.jit_ms": L.get("jvm.jit_ms", 0),
            "jvm.classes_loaded": L.get("jvm.classes_loaded", 0),
            "jvm.metaspace_bytes": L.get("jvm.metaspace_bytes", 0),
            "python.worker_cpu_s": L.get("python.worker_cpu_s", 0.0),
            "pipeline.self_s": by_name.get("pipeline.run", 0.0),
            "sources.html_ingest.ingest_reports_s":
                by_name.get("sources.html_ingest.ingest_reports", 0.0),
            "quality.gate_s": by_name.get("quality.gate", 0.0),
            "plans.merge.s": by_name.get("plans.merge", 0.0),
            "plans.merge.bytes_written": merge.get("output_bytes", 0),
            "plans.merge.rows_rewritten_per_row_in":
                merge.get("output_records", 0) / self.rows_in if self.rows_in else 0.0,
            "trace.overhead_s": statistics.mean(t) - statistics.mean(u) if t and u else 0.0,
            "trace.spans": len(spans),
            "driver.peak_rss_mb": self.counters.peak_rss_mb(),
        }
        return out


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t-spawn", type=float, required=True)
    ap.add_argument("--deadline", type=float, required=True)
    ap.add_argument("--data-dir")
    ap.add_argument("--pages-dir")
    ap.add_argument("--etl-dir")
    ap.add_argument("--etl-runs", type=int)
    ap.add_argument("--warehouse-dir", required=True)
    ap.add_argument("--expected")
    ap.add_argument("--limit", type=int, default=0)
    ap.add_argument("--tamper", action="append", default=[])
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    a.trace = bool(a.trace)

    run = Run(a)
    run.setup()
    if a.workload == "etl_hourly":
        run.run_etl()
    else:
        run.run_queries()
    result = {
        "attempted": len(run.ops),
        "failed": sum(not o["ok"] for o in run.ops),
        "ops": [{k: o[k] for k in ("phase", "name", "s", "traced", "ok", "error")}
                for o in run.ops],
        "warm_passes": run.warm_passes,
        "versions": {
            "spark": run.spark.version,
            "java": run.spark.sparkContext._jvm.System.getProperty("java.version"),
        },
    }
    if a.trace:
        result["per_layer"] = run.per_layer()
        result["spans"] = run.tracer.spans
    else:
        result["end_to_end"] = run.end_to_end()
    with open(a.out, "w") as f:
        json.dump(result, f)
    run.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
