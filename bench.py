"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The harness that records this output keeps only the last ~2000 chars of
stdout, and a 98-entry per-query dict overflows that (BENCH_r02 recorded
``parsed: null`` for exactly this reason). So the printed line carries the
aggregate plus a fixed HEADLINE subset of per-query timings and is
length-guarded to fit the capture window; the full per-query breakdown is
written to ``BENCH_DETAIL.json`` next to this script.

Each query is forced with a noop-sink write (full execution, no driver
collect/serialization cost in the measurement). One warm-up scan first so
JVM/codegen/parquet-footer warmup isn't attributed to the first query.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cdmx_airquality_etl_spark import QUERIES  # noqa: E402
from cdmx_airquality_etl_spark.session import get_spark  # noqa: E402
from cdmx_airquality_etl_spark.sources.parquet import load_table  # noqa: E402

# Representative subset reported inline (the full dict goes to
# BENCH_DETAIL.json): ordered MOST-IMPORTANT-FIRST — the length guard pops
# entries from the END of the dict, so the historically expensive
# dedup/similarity/skew family (the point of the headline set) leads and
# the cheap generic shapes are the expendable tail.
HEADLINE = [
    "q_dedup_fuzzy",
    "q_dedup_minhash",
    "q_dedup_clusters",
    "q_dedup_embedding",
    "q_similarity_ann_lsh",
    "q_similarity_ann_pq",
    "q_similarity_ann_ivfpq",
    "q_pagerank",
    "q_join_skew_salted",
    "q_dedup_exact",
    "q_similarity_topk",
    "q_curation_pipeline",
    "q_text_stats",
    "q_quality_score",
    "q_range_join",
    "q_asof_join",
    "q_sessionize",
    "q_corr_manual",
    "q_group_agg",
    "q_dim_join_broadcast",
    "q_merge_fullouter",
    "q_window_rank",
    "q_pivot",
]

# The recording harness keeps the last 2000 chars of stdout; leave slack
# for a trailing newline and any stray log line.
_MAX_LINE = 1800


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # experiment hook (e.g. the round-8 codegen A/B): semicolon-separated
    # k=v pairs applied on top of the standard session config
    extra = {}
    for kv in filter(None, os.environ.get("SPARK_GRAFT_BENCH_CONF", "").split(";")):
        k, _, v = kv.partition("=")
        extra[k.strip()] = v.strip()
    spark = get_spark("bench", extra_conf=extra or None)
    spark.sparkContext.setLogLevel("ERROR")
    # Clearing the cache between queries races the ContextCleaner against
    # in-flight task completions, producing benign-but-noisy
    # "Failed to update accumulator ... non-existent accumulator" ERROR
    # stack traces from DAGScheduler. The recording harness keeps only the
    # stdout/stderr TAIL, and that spam once truncated the result line
    # (BENCH_r02). Gate that one logger to FATAL for the bench process
    # only — the engine's own sessions keep full logging.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.scheduler.DAGScheduler",
            jvm.org.apache.logging.log4j.Level.FATAL,
        )
    except Exception:
        pass  # log4j2 API unavailable: noise is cosmetic, never fail bench

    # warm-up: JVM, codegen, parquet footers — touch every table once so no
    # query is charged for its table's first footer/schema read
    for t in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ):
        load_table(spark, sf_dir, t).count()

    timings: dict[str, float] = {}
    for name, fn in QUERIES.items():
        t0 = time.time()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            timings[name] = round(time.time() - t0, 3)
        except Exception as e:  # noqa: BLE001
            print(f"bench error in {name}: {e}", file=sys.stderr)
            timings[name] = -1.0
        # drop caches a query may have built (dedup/decontamination cache
        # shared subtrees): each query is measured cold on an otherwise
        # empty executor heap, and cached blocks never pressure later
        # queries' GC
        spark.catalog.clearCache()

    ok = {k: v for k, v in timings.items() if v >= 0}

    # Warm steady-state pass over the HEADLINE set: the first execution of a
    # hash-heavy plan is dominated by whole-stage-codegen JIT (measured this
    # round: q_quality_classifier 3.3 s cold → 0.6 s by run 3), and a sweep
    # that runs every query exactly once charges that compile cost to the
    # operator. A second timed run per headline query records what a
    # production cluster — where plans run repeatedly — actually pays. The
    # aggregate `value` stays the cold sum (comparable across rounds);
    # disable with SPARK_GRAFT_BENCH_WARM=0 for a fast cold-only sweep, or
    # set SPARK_GRAFT_BENCH_WARM=full for a warm pass over EVERY query so
    # cold-JIT attribution works for the non-headline tail too (the full
    # warm dict lives only in BENCH_DETAIL.json — the driver line never
    # carries it, so the 1800-char guard is unaffected).
    warm: dict[str, float] = {}
    warm_mode = os.environ.get("SPARK_GRAFT_BENCH_WARM", "1")
    warm_set = list(QUERIES) if warm_mode == "full" else HEADLINE
    if warm_mode != "0":
        for name in warm_set:
            if timings.get(name, -1.0) < 0:
                continue
            t0 = time.time()
            try:
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                warm[name] = round(time.time() - t0, 3)
            except Exception as e:  # noqa: BLE001
                print(f"bench warm error in {name}: {e}", file=sys.stderr)
            spark.catalog.clearCache()

    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(
            {
                "metric": "total_wall_sec_all_queries",
                "value": round(sum(ok.values()), 3),
                "unit": "sec",
                "queries": timings,
                "warm_queries": warm,
                "warm_note": "second timed run of each "
                + ("registered" if warm_mode == "full" else "HEADLINE")
                + " query; cold-vs-warm gap is first-run codegen JIT",
                "sf": sf,
                "n_queries": len(timings),
                "n_failed": len(timings) - len(ok),
            },
            f,
            indent=1,
            sort_keys=True,
        )

    headline = {k: timings[k] for k in HEADLINE if k in timings}
    failed = sorted(k for k, v in timings.items() if v < 0)
    result = {
        "metric": "total_wall_sec_all_queries",
        "value": round(sum(ok.values()), 3),
        "unit": "sec",
        "queries": headline,
        "sf": sf,
        "n_queries": len(timings),
        "n_failed": len(failed),
        "failed": failed[:10],
        "detail": "BENCH_DETAIL.json",
    }
    line = json.dumps(result, separators=(",", ":"))
    dropped = []
    while len(line) > _MAX_LINE and result["queries"]:
        # HEADLINE is ordered most-important-first, so popitem() (LIFO)
        # sheds the expendable tail, never the expensive dedup family
        dropped.append(result["queries"].popitem()[0])
        line = json.dumps(result, separators=(",", ":"))
    if dropped:
        print(
            f"bench line over {_MAX_LINE} chars: dropped {dropped} "
            "(full dict in BENCH_DETAIL.json)",
            file=sys.stderr,
        )
    print(line)
    return 0 if len(ok) == len(timings) else 1


if __name__ == "__main__":
    sys.exit(main())
