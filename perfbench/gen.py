"""Seeded input generator for the benchmark workloads.

Every table is drawn from one ``numpy.random.Generator`` seeded by the
run's ``--seed`` and written with pyarrow, so the same seed (and scale)
gives byte-identical parquet files and therefore identical expected
answers. Nothing here starts Spark: generation happens before the
program's process exists and its time is kept out of every metric.

Schemas follow the repo's synthetic TPC-H-like tables (lineitem,
orders, customer, events, documents, ...), so the registry queries and
their DuckDB oracles run unchanged on the generated directory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale 1.0; the tests shrink them through ``scale``.
WIDE_ROWS = 120_000
WIDE_FILES = 4
DOCS = 4_000
DOC_DUP_RATE = 0.49
TPCH_ORDERS = 1_500
TPCH_CUSTOMERS = 150
TPCH_PARTS = 200
TPCH_SUPPLIERS = 10
EVENTS = 4_000

EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
DAY_US = 86_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000

WORDS = (
    "the a of and to in is data table query value spark column row key "
    "join scan sort hash merge window batch stream filter group order part "
    "line customer fast slow big small vector agg plan stage task shuffle "
    "partition schema record field index cache memory disk network driver "
    "executor cluster metric report check valid error count sum mean"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.5, 0.15, 0.12, 0.13, 0.10]


def _write(table: pa.Table, path: str, files: int = 1) -> None:
    """One parquet file at ``path`` (files == 1) or ``files`` equal
    slices under the directory ``path``."""
    if files == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def _ts(us: np.ndarray, null: np.ndarray | None = None) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"), mask=null)


def _words(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    vocab = np.array(WORDS)
    lens = rng.integers(lo, hi + 1, n)
    picks = rng.integers(0, len(vocab), int(lens.sum()))
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(vocab[picks[at : at + ln]]))
        at += ln
    return out


def _mask(rng: np.random.Generator, n: int, rate: float) -> np.ndarray:
    return rng.random(n) < rate


def gen_validate(out: str, seed: int, scale: float = 1.0) -> None:
    """``lineitem`` (WIDE_FILES files) with seeded nulls, negatives,
    out-of-range values, bad flags, over-long comments and colliding
    (l_orderkey, l_linenumber) keys, plus a small ``orders`` table that
    the config reads under a ``condition``."""
    rng = np.random.default_rng([seed, 1])
    n = max(200, int(WIDE_ROWS * scale))
    n_orders = max(50, n // 4)
    qty = rng.integers(1, 51, n).astype(np.float64)
    qty[_mask(rng, n, 0.003)] = 60.0
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    price[_mask(rng, n, 0.002)] *= -1.0
    disc = rng.integers(0, 11, n) / 100.0
    disc[_mask(rng, n, 0.002)] = 0.15
    tax = rng.integers(0, 9, n) / 100.0
    flag = np.array(["A", "N", "R"])[rng.integers(0, 3, n)].astype(object)
    flag[_mask(rng, n, 0.001)] = "X"
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20_000, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 1_000, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(qty, mask=_mask(rng, n, 0.005)),
            "l_extendedprice": pa.array(price),
            "l_discount": pa.array(disc),
            "l_tax": pa.array(tax),
            "l_returnflag": pa.array(flag, pa.string()),
            "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
            "l_shipdate": _ts(
                EPOCH_1995_US + rng.integers(0, 7 * 365, n) * DAY_US, _mask(rng, n, 0.001)
            ),
            "l_comment": pa.array(_words(rng, n, 1, 8), pa.string()),
        }
    )
    _write(lineitem, os.path.join(out, "lineitem"), WIDE_FILES)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, max(10, n_orders // 10), n_orders), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
            "o_totalprice": pa.array(np.round(rng.uniform(-2_000.0, 500_000.0, n_orders), 2)),
            "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, 7 * 365, n_orders) * DAY_US),
        }
    )
    _write(orders, os.path.join(out, "orders.parquet"))


def gen_docs(out: str, seed: int, scale: float = 1.0) -> None:
    """``documents`` with a DOC_DUP_RATE share of exact duplicates
    (copies of earlier texts under new doc_ids), short low-quality
    texts, and e-mail / IPv4 / phone strings for the PII scrubber."""
    rng = np.random.default_rng([seed, 2])
    n = max(100, int(DOCS * scale))
    n_base = n - int(n * DOC_DUP_RATE)
    base = _words(rng, n_base, 4, 60)
    pii = rng.integers(0, 20, n_base)
    for i in np.nonzero(pii == 0)[0]:
        base[i] += f" mail user{i}@example.com now"
    for i in np.nonzero(pii == 1)[0]:
        base[i] += f" host 10.{i % 250}.{i % 7}.{i % 199} up"
    for i in np.nonzero(pii == 2)[0]:
        base[i] += f" call 555-{i % 1000:03d}-{i % 10000:04d} today"
    pick = np.concatenate([np.arange(n_base), rng.integers(0, n_base, n - n_base)])
    order = rng.permutation(n)
    text = [base[j] for j in pick[order]]
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )
    _write(docs, os.path.join(out, "documents.parquet"))


def gen_tpch(out: str, seed: int, scale: float = 1.0) -> None:
    """A small star schema (region, nation, customer, supplier, part,
    orders, lineitem) plus an ``events`` stream, in the value domains
    the registry queries filter on."""
    rng = np.random.default_rng([seed, 3])
    n_ord = max(100, int(TPCH_ORDERS * scale))
    n_cust = max(20, int(TPCH_CUSTOMERS * scale))
    n_part = max(20, int(TPCH_PARTS * scale))
    n_supp = TPCH_SUPPLIERS
    _write(
        pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        os.path.join(out, "region.parquet"),
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        os.path.join(out, "nation.parquet"),
    )
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
                "c_mktsegment": pa.array(segments[rng.integers(0, 5, n_cust)]),
            }
        ),
        os.path.join(out, "customer.parquet"),
    )
    _write(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
            }
        ),
        os.path.join(out, "supplier.parquet"),
    )
    adjectives = np.array(["small", "red", "green", "large", "forest", "steel"])
    nouns = np.array(["ring", "widget", "bolt", "gear", "panel"])
    _write(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": pa.array(
                    np.char.add(
                        np.char.add(adjectives[rng.integers(0, 6, n_part)], " "),
                        nouns[rng.integers(0, 5, n_part)],
                    )
                ),
                "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
                "p_type": pa.array(
                    np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
                        rng.integers(0, 6, n_part)
                    ]
                ),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": pa.array(np.round(900.0 + np.arange(n_part) * 0.1, 2)),
            }
        ),
        os.path.join(out, "part.parquet"),
    )
    odate = EPOCH_1995_US + rng.integers(0, 6 * 365 + 200, n_ord) * DAY_US
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
                "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2)),
                "o_orderdate": _ts(odate),
                "o_orderpriority": pa.array(
                    np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                        rng.integers(0, 5, n_ord)
                    ]
                ),
            }
        ),
        os.path.join(out, "orders.parquet"),
    )
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(okey, pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(lnum, pa.int32()),
                "l_quantity": pa.array(qty),
                "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
                "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
                "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
                "l_shipdate": _ts(np.repeat(odate, lines) + rng.integers(1, 122, n_li) * DAY_US),
            }
        ),
        os.path.join(out, "lineitem.parquet"),
    )
    n_ev = max(200, int(EVENTS * scale))
    _write(
        pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), pa.int64()),
                "ts": _ts(EPOCH_2024_US + np.sort(rng.integers(0, 30 * DAY_US, n_ev))),
                "user_id": pa.array(rng.integers(0, max(10, n_ev // 60), n_ev), pa.int64()),
                "event_type": pa.array(
                    np.array(["click", "error", "purchase", "signup", "view"])[
                        rng.integers(0, 5, n_ev)
                    ]
                ),
                "value": pa.array(np.round(rng.uniform(0.01, 500.0, n_ev), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
        os.path.join(out, "events.parquet"),
    )


GENERATORS = {"validate": gen_validate, "docs": gen_docs, "tpch": gen_tpch}


def generate(kind: str, out: str, seed: int, scale: float = 1.0) -> str:
    os.makedirs(out, exist_ok=True)
    GENERATORS[kind](out, seed, scale)
    return out
