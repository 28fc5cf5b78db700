"""Record the query workloads' expected fingerprints, checked against the
registry's DuckDB oracles.

For each scale factor in ``expected.json`` this generates the benchmark's
tables, runs every query of the two query families the workloads draw
from (``dedup.py`` + ``similarity.py``; ``relational*.py``,
``tpch_ext*.py``, ``warehouse.py``, ``flagship.py``) on Spark and
its oracle (``registry.resolve_oracles``) on DuckDB, compares the two
results as canonicalized value multisets (``tools/check_oracle.py``'s
comparison) and, when they match, stores the Spark result's fingerprint
(row count + order-independent row-hash sum, ``engine.fingerprint_frame``).
Queries listed under ``rows_only`` are compared by row count only: their
values are not reproducible across sessions. A query that has no oracle
or disagrees with it is reported and left out, which makes every later
benchmark run fail it.

Usage (from the root of a checkout; writes perfbench/expected.json)::

    PYTHONPATH=. python3 perfbench/record_expected.py
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]


def main() -> int:
    import duckdb
    from check_oracle import canon_frame

    import datagen
    from engine import DEDUP_SIM_MODULES, RELATIONAL_MODULES, family, fingerprint_frame

    from cdmx_airquality_etl_spark import QUERIES
    from cdmx_airquality_etl_spark.registry import resolve_oracles
    from cdmx_airquality_etl_spark.session import get_spark

    path = os.path.join(HERE, "expected.json")
    with open(path) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench_run", "record")
    os.environ["SPARK_GRAFT_ANN_INDEX_DIR"] = os.path.join(work, "annindex")
    spark = get_spark("perfbench-record")
    spark.sparkContext.setLogLevel("ERROR")
    names = family(QUERIES, DEDUP_SIM_MODULES) + family(QUERIES, RELATIONAL_MODULES)
    bad = []
    for key, sf in spec["scale_factors"].items():
        data = os.path.join(work, key)
        datagen.write_tables(data, sf, spec["data_seed"])
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = data
        oracles = resolve_oracles(data)
        con = duckdb.connect()
        for t in datagen.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        out = {}
        for name in names:
            df = QUERIES[name](spark, data)
            s_pdf = df.toPandas()
            spark.catalog.clearCache()
            if name not in oracles:
                bad.append(f"{key} {name}: no oracle")
                continue
            d_pdf = con.sql(oracles[name]).df()
            same = sorted(s_pdf.columns) == sorted(d_pdf.columns) and (
                canon_frame(s_pdf) == canon_frame(d_pdf)
            )
            if not same:
                bad.append(f"{key} {name}: spark and oracle differ "
                           f"({len(s_pdf)} vs {len(d_pdf)} rows)")
                continue
            row = fingerprint_frame(QUERIES[name](spark, data)).collect()[0]
            spark.catalog.clearCache()
            out[name] = {
                "rows": int(row["rows"]),
                "hash": None if name in spec["rows_only"] or row["hash"] is None
                else str(row["hash"]),
            }
            print(f"{key} {name}: {out[name]}", flush=True)
        spec["queries"][key] = out
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    with open(path, "w") as f:
        json.dump(spec, f, indent=1, sort_keys=True)
        f.write("\n")
    for b in bad:
        print(f"NOT RECORDED {b}", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
