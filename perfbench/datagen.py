"""Seeded inputs for the benchmark workloads.

Two generators, both pure functions of their arguments:

- :func:`write_tables` writes the ten driver-shaped parquet tables the query
  workloads read (TPC-H-ish star schema, ``events``, ``documents``,
  ``embeddings``), one row group per file like TESTDATA.md's tables. The
  tables depend only on the scale factor, so one recorded fingerprint per
  query holds for every run.
- :func:`etl_schedule` builds the report pages of successive scheduled ETL
  runs in the shape of the public air-quality page (``tests/test_html_ingest``
  ``PAGE``), and :class:`UpsertModel` is the pure-Python model of the keyed
  upsert those pages must produce.

Row-count laws per table follow TESTDATA.md's tables (documents 50k·sf,
orders 1.5M·sf, lineitem ≈ 4 lines per order, events 1M·sf, embeddings
2000·(sf/0.1)^0.602 unit vectors of 64 dims).
"""

from __future__ import annotations

import json
import os
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)
_US_DAY = 86_400 * 1_000_000


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(table.encode())])


def _ts(day: str) -> int:
    return int(np.datetime64(day, "us").astype(np.int64))


def _documents(rng, sf):
    n = max(20, round(50_000 * sf))
    lens = rng.integers(10, 101, n)
    words = _VOCAB[rng.integers(0, len(_VOCAB), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # exact duplicates at TESTDATA.md's rate (8 pairs per 5000 docs), at
    # least two so every dedup query has something to find
    dups = np.flatnonzero(rng.random(n) < 0.0016)
    if len(dups) < 2:
        dups = np.array([n // 3, 2 * n // 3])
    for i in dups:
        texts[i] = texts[int(rng.integers(0, i))]
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(
            rng.choice(["en", "zh", "es", "fr", "de"], n,
                       p=[0.41, 0.15, 0.15, 0.15, 0.14]),
            pa.string(),
        ),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, sf):
    n = max(50, round(2000 * (sf / 0.1) ** 0.60206))
    vecs = rng.standard_normal((n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }


def _dims(rng, sf):
    n_cust, n_supp, n_part = (max(10, round(k * sf)) for k in (150_000, 10_000, 200_000))
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    adj = ["large", "hot", "blue", "red", "small", "green", "dim", "shiny"]
    noun = ["ring", "bolt", "screw", "nut", "washer", "pin", "clip", "rod"]
    return {
        "region": {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
            "c_mktsegment": pa.array(segments[rng.integers(0, 5, n_cust)]),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [f"{adj[i % 8]} {noun[i // 8]}" for i in rng.integers(0, 64, n_part)]
            ),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(ptypes[rng.integers(0, len(ptypes), n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + np.arange(n_part) * 0.1 % 1000, 2)),
        },
    }, n_cust, n_supp, n_part


def _orders_lineitem(rng_o, rng_l, sf, n_cust, n_supp, n_part):
    n = max(100, round(1_500_000 * sf))
    span = (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int)
    odate = _ts("1995-01-01") + rng_o.integers(0, span + 1, n) * _US_DAY
    orders = {
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng_o.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng_o.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng_o.uniform(1000.0, 500_000.0, n), 2)),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(
            np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                rng_o.integers(0, 5, n)
            ]
        ),
    }
    k = np.maximum(1, rng_l.poisson(4.0, n))
    lok = np.repeat(np.arange(n), k)
    m = len(lok)
    first = np.repeat(np.cumsum(k) - k, k)
    lineitem = {
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng_l.integers(0, n_part, m), pa.int64()),
        "l_suppkey": pa.array(rng_l.integers(0, n_supp, m), pa.int64()),
        "l_linenumber": pa.array(np.arange(m) - first + 1, pa.int32()),
        "l_quantity": pa.array(rng_l.integers(1, 51, m).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng_l.uniform(900.0, 105_000.0, m), 2)),
        "l_discount": pa.array(np.round(rng_l.uniform(0.0, 0.10, m), 2)),
        "l_tax": pa.array(np.round(rng_l.uniform(0.0, 0.08, m), 2)),
        "l_returnflag": pa.array(np.array(["R", "A", "N"])[rng_l.integers(0, 3, m)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng_l.integers(0, 2, m)]),
        "l_shipdate": pa.array(
            np.repeat(odate, k) + rng_l.integers(1, 96, m) * _US_DAY, pa.timestamp("us")
        ),
    }
    return orders, lineitem


def _events(rng, sf):
    n = max(100, round(1_000_000 * sf))
    return {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(_ts("2024-01-01") + rng.integers(0, 30 * _US_DAY, n),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, round(15_000 * sf)), n), pa.int64()),
        "event_type": pa.array(
            np.array(["signup", "click", "view", "purchase", "error"])[rng.integers(0, 5, n)]
        ),
        "value": pa.array(np.round(np.abs(rng.standard_normal(n)) * 70.0, 2)),
        "props": pa.array([json.dumps({"k": int(v)}) for v in rng.integers(0, 100, n)]),
    }


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every table to ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    dims, n_cust, n_supp, n_part = _dims(_rng(seed, "dims"), sf)
    orders, lineitem = _orders_lineitem(
        _rng(seed, "orders"), _rng(seed, "lineitem"), sf, n_cust, n_supp, n_part
    )
    cols = {
        **dims,
        "orders": orders,
        "lineitem": lineitem,
        "events": _events(_rng(seed, "events"), sf),
        "documents": _documents(_rng(seed, "documents"), sf),
        "embeddings": _embeddings(_rng(seed, "embeddings"), sf),
    }
    for name in TABLES:
        pq.write_table(pa.table(cols[name]), os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy", row_group_size=1 << 30)


# ---------------------------------------------------------------------------
# ETL report pages
# ---------------------------------------------------------------------------

# (clave, alcaldía / municipio as printed on the page)
CDMX_STATIONS = [
    ("UIZ", "Iztapalapa"), ("PED", "&Aacute;lvaro Obreg&oacute;n"),
    ("MER", "Venustiano Carranza"), ("BJU", "Benito Ju&aacute;rez"),
    ("CUA", "Cuajimalpa"), ("AJM", "Tlalpan"), ("CAM", "Azcapotzalco"),
    ("CCA", "Coyoac&aacute;n"), ("GAM", "Gustavo A. Madero"),
    ("HGM", "Cuauht&eacute;moc"), ("IZT", "Iztacalco"), ("MGH", "Miguel Hidalgo"),
    ("MPA", "Milpa Alta"), ("SFE", "Santa Fe"), ("TAH", "Tl&aacute;huac"),
]
EDOMEX_STATIONS = [
    ("ACO", "Ecatepec"), ("ATI", "Atizap&aacute;n"), ("CHO", "Chalco"),
    ("FAC", "Naucalpan"), ("NEZ", "Nezahualc&oacute;yotl"),
]
QUALITIES = ["buena", "aceptable", "mala", "muy_mala", "extremadamente_mala"]
_PARAMS = ["Ozono", "PM10", "PM2.5", "Di&oacute;xido de nitr&oacute;geno"]
_RECOS = ["Usa protector solar", "Evita actividades al aire libre", "Sin riesgo"]
_SCORES = ["Buena", "Regular", "Mala"]
_WEEKDAYS = ["lunes", "martes", "mi&eacute;rcoles", "jueves", "viernes",
             "s&aacute;bado", "domingo"]
_MONTHS = ["enero", "febrero", "marzo", "abril", "mayo", "junio", "julio",
           "agosto", "septiembre", "octubre", "noviembre", "diciembre"]
_FIRST_DAY = np.datetime64("2025-01-01")
# scheduled runs generated per benchmark run; a run stops when its window
# closes, so this only has to outlast the window on a fast host
ETL_MAX_RUNS = 16


def _station_rows(rng, stations, quality_of):
    rows = []
    for clave, geo in stations:
        q = QUALITIES[int(rng.integers(0, len(QUALITIES)))]
        quality_of[clave] = q
        rows.append(
            f"<tr><td>{clave}</td><td>{geo}</td>"
            f'<td><img src="https://cdn/aire/{q}.svg"/></td>'
            f"<td>{_PARAMS[int(rng.integers(0, len(_PARAMS)))]}</td></tr>"
        )
    return "".join(rows)


def _page(rng, day: np.datetime64, hour: int):
    """One report page plus the values the upsert must keep for it."""
    y, m, d = (int(x) for x in str(day).split("-"))
    weekday = _WEEKDAYS[int((day.astype(int) + 3) % 7)]  # 1970-01-01 was a Thursday
    temp = int(rng.integers(5, 32))
    cdmx_q: dict[str, str] = {}
    edomex_q: dict[str, str] = {}
    cdmx = _station_rows(rng, CDMX_STATIONS, cdmx_q)
    edomex = _station_rows(rng, EDOMEX_STATIONS, edomex_q)
    html = (
        "<html><body>"
        f'<div id="textohora">{hour} h, {weekday} {d} de {_MONTHS[m - 1]} de {y}</div>'
        f'<div id="recomendacioniuv">{_RECOS[int(rng.integers(0, len(_RECOS)))]}</div>'
        '<div id="pronosticoaire"><table><tr>'
        f"<td>{_SCORES[int(rng.integers(0, 3))]}</td>"
        f"<td>{_SCORES[int(rng.integers(0, 3))]}</td></tr></table></div>"
        f'<div id="textotemperatura">{temp} &deg;C</div>'
        '<div id="tabladf"><table><tr><td>encabezado decorativo</td></tr>'
        "<tr><td>Clave</td><td>Alcald&iacute;a</td><td>Calidad del aire</td>"
        f"<td>Par&aacute;metro</td></tr>{cdmx}"
        "<tr><td>MAL</td><td>solo dos celdas</td></tr></table></div>"
        '<div id="tablaedomex"><table><tr><td>encabezado decorativo</td></tr>'
        "<tr><td>Clave</td><td>Municipio</td><td>Calidad del aire</td>"
        f"<td>Par&aacute;metro</td></tr>{edomex}</table></div>"
        "</body></html>"
    )
    report_ts = y * 1_000_000 + m * 10_000 + d * 100 + hour
    return html, report_ts, temp, cdmx_q, edomex_q


@dataclass
class UpsertModel:
    """Expected state of the three ETL tables after a sequence of runs:
    one row per key, ``nupdates`` = number of runs whose batch held the
    key, data columns from the latest such run."""

    gral: dict[int, list] = field(default_factory=dict)  # ts -> [nupdates, temp]
    cdmx: dict[tuple, list] = field(default_factory=dict)  # (ts, clave) -> [n, q]
    edomex: dict[tuple, list] = field(default_factory=dict)

    def apply(self, pages) -> None:
        for _html, ts, temp, cdmx_q, edomex_q in pages:
            self._bump(self.gral, ts, temp)
            for clave, q in cdmx_q.items():
                self._bump(self.cdmx, (ts, clave), q)
            for clave, q in edomex_q.items():
                self._bump(self.edomex, (ts, clave), q)

    @staticmethod
    def _bump(table, key, value) -> None:
        n = table[key][0] + 1 if key in table else 1
        table[key] = [n, value]

    def rows(self) -> int:
        return len(self.gral) + len(self.cdmx) + len(self.edomex)


def etl_schedule(seed: int, n_runs: int, rescrape_share: float = 0.25):
    """Pages of ``n_runs`` successive scheduled runs. Run ``r`` carries the
    24 hourly pages of day ``r`` plus ``rescrape_share`` × 24 re-scrapes of
    distinct earlier hours (earlier days only, so a key occurs at most once
    per batch and its counter moves once per run)."""
    rng = np.random.default_rng([seed, zlib.crc32(b"etl")])
    runs = []
    n_re = round(24 * rescrape_share)
    for r in range(n_runs):
        day = _FIRST_DAY + r
        slots = [(day, h) for h in range(24)]
        if r:
            picks = rng.choice(24 * r, size=min(n_re, 24 * r), replace=False)
            slots += [(_FIRST_DAY + int(p) // 24, int(p) % 24) for p in sorted(picks)]
        runs.append([_page(rng, d, h) for d, h in slots])
    return runs


def write_pages(path: str, pages) -> None:
    pq.write_table(
        pa.table({
            "page_id": pa.array(np.arange(len(pages)), pa.int64()),
            "html": pa.array([p[0] for p in pages], pa.string()),
        }),
        path,
    )
