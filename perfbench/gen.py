"""Deterministic benchmark inputs: TPC-H-shaped fixtures and upsert journals.

Everything here is a pure function of ``(seed, scale)``: the same arguments
give byte-identical parquet files (fixed writer options, no timestamps of
the run in the data). ``scale`` follows TPC-H's scale factor, so scale 0.01
gives 60k lineitem rows, 15k orders and 1.5k customers, the row counts of
the ``sf0.01`` fixtures the registry queries are written against.

The fixture tables carry the schemas the registry expects
(``sources.registry.FIXTURE_TABLES``); every registry query reads all ten
through ``fixtures()``, so all ten are written even where a workload reads
only a few.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query big "
    "order group stream filter vector"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "fr", "es", "zh"]
_LANG_P = [0.5, 0.15, 0.1, 0.15, 0.1]
_COLORS = ["red", "blue", "green", "small", "large", "steel", "brass"]
_NOUNS = ["widget", "bolt", "ring", "gear", "panel", "valve"]
_TYPES = ["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"]

_EPOCH_1995 = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - _EPOCH_1995).astype(np.int64))

#: journal cycles 1.. update this share of the master's keys ...
UPDATE_SHARE = 0.03
#: ... drawing this share of the updates from the hot keys ...
HOT_DRAW_SHARE = 0.8
#: ... which are this share of the initial keys ...
HOT_KEY_SHARE = 0.05
#: ... and insert this share of new keys.
INSERT_SHARE = 0.01


def _write(table: pa.Table, path: Path) -> None:
    pq.write_table(
        table, path, compression="snappy", row_group_size=1 << 20,
        write_statistics=True, use_dictionary=True,
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts as doubles, exact to the cent."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days_to_ts(days: np.ndarray) -> pa.Array:
    return pa.array((_EPOCH_1995 + days).astype("datetime64[us]"))


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), n_words))


def sizes(scale: float) -> dict[str, int]:
    """Row counts per table at ``scale`` (TPC-H ratios, floored at 1)."""
    return {
        "customer": max(1, round(150_000 * scale)),
        "supplier": max(1, round(10_000 * scale)),
        "part": max(1, round(200_000 * scale)),
        "orders": max(1, round(1_500_000 * scale)),
        "events": max(1, round(1_000_000 * scale)),
        "documents": max(1, round(50_000 * scale)),
        "embeddings": max(1, round(20_000 * scale)),
    }


def orders_table(seed: int, scale: float) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    n_cust = sizes(scale)["customer"]
    n = sizes(scale)["orders"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n)),
        "o_orderdate": _days_to_ts(rng.integers(0, _ORDER_DAYS, n)),
        "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n)]),
    })


def write_fixtures(out_dir: Path, seed: int, scale: float) -> None:
    """Write the ten fixture tables as ``<out_dir>/<table>.parquet``."""
    out_dir.mkdir(parents=True, exist_ok=True)
    n = sizes(scale)

    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), out_dir / "region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }), out_dir / "nation.parquet")

    rng = np.random.default_rng([seed, 0])
    c = n["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
        "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, c)]),
    }), out_dir / "customer.parquet")
    s = n["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s)),
    }), out_dir / "supplier.parquet")
    p = n["part"]
    keys = np.arange(p, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array(
            np.char.add(
                np.char.add(np.array(_COLORS)[rng.integers(0, len(_COLORS), p)], " "),
                np.array(_NOUNS)[rng.integers(0, len(_NOUNS), p)],
            )
        ),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": pa.array(np.array(_TYPES)[rng.integers(0, len(_TYPES), p)]),
        "p_size": pa.array(rng.integers(1, 51, p, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10.0, 2)),
    }), out_dir / "part.parquet")

    orders = orders_table(seed, scale)
    _write(orders, out_dir / "orders.parquet")

    rng = np.random.default_rng([seed, 2])
    o = n["orders"]
    per_order = rng.integers(1, 8, o)
    lkey = np.repeat(np.arange(o, dtype=np.int64), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    m = len(lkey)
    order_days = (
        orders.column("o_orderdate").to_numpy().astype("datetime64[D]") - _EPOCH_1995
    ).astype(np.int64)
    qty = rng.integers(1, 51, m).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(lkey),
        "l_partkey": pa.array(rng.integers(0, p, m, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, s, m, dtype=np.int64)),
        "l_linenumber": pa.array((np.arange(m) - starts + 1).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * _money(rng, 900, 2000, m), 2)),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, m)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, m)]),
        "l_shipdate": _days_to_ts(order_days[lkey] + rng.integers(1, 122, m)),
    }), out_dir / "lineitem.parquet")

    rng = np.random.default_rng([seed, 3])
    e = n["events"]
    step_us = rng.integers(1, 2 * 30 * 86_400_000_000 // e, e)
    _write(pa.table({
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": pa.array(
            np.datetime64("2024-01-01T00:00:00", "us")
            + np.cumsum(step_us).astype("timedelta64[us]")
        ),
        "user_id": pa.array(rng.integers(0, max(1, c // 10), e, dtype=np.int64)),
        "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, e)]),
        "value": pa.array(_money(rng, 0, 100, e)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    }), out_dir / "events.parquet")

    rng = np.random.default_rng([seed, 4])
    d = n["documents"]
    texts: list[str] = []
    for i in range(d):
        roll = rng.random()
        if i and roll < 0.05:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i and roll < 0.10:  # near duplicate: one word replaced
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = _WORDS[
                int(rng.integers(0, len(_WORDS)))
            ]
            texts.append(" ".join(words))
        else:
            texts.append(_text(rng, int(rng.integers(8, 90))))
    _write(pa.table({
        "doc_id": pa.array(np.arange(d, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(np.array(_LANGS)[rng.choice(5, d, p=_LANG_P)]),
        "source": [f"src{k}" for k in rng.integers(0, 20, d)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), out_dir / "documents.parquet")

    rng = np.random.default_rng([seed, 5])
    v = n["embeddings"]
    vecs = rng.standard_normal((v, 64)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(v, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), 64
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v, dtype=np.int32)),
    }), out_dir / "embeddings.parquet")


def pipeline_cutoff(seed: int) -> str:
    """The staging table's templated order-date cutoff, drawn from the seed:
    a date in the last 30 days of the order range, so the staging table
    keeps 98.5-100% of the orders and the work varies little by seed."""
    rng = np.random.default_rng([seed, 6])
    day = int(rng.integers(_ORDER_DAYS - 30, _ORDER_DAYS))
    return str((dt.date(1995, 1, 1) + dt.timedelta(days=day)).isoformat())


def write_journals(out_dir: Path, seed: int, scale: float, cycles: int) -> list[Path]:
    """The upsert workload's journal files, one per cycle.

    Cycle 0 is every order (the initial load). Each later cycle updates
    ``UPDATE_SHARE`` of the current keys, ``HOT_DRAW_SHARE`` of them drawn
    from the hot ``HOT_KEY_SHARE`` of the initial keys, and inserts
    ``INSERT_SHARE`` new keys. Keys are unique within a file, so the
    master grows by the inserts every cycle.
    """
    out_dir.mkdir(parents=True, exist_ok=True)
    base = orders_table(seed, scale)
    n0 = base.num_rows
    n_cust = sizes(scale)["customer"]
    hot = np.random.default_rng([seed, 7]).permutation(n0)[: max(1, int(n0 * HOT_KEY_SHARE))]
    paths = [out_dir / "journal_00000.parquet"]
    _write(base, paths[0])
    n_keys = n0
    for cycle in range(1, cycles):
        rng = np.random.default_rng([seed, 100 + cycle])
        n_upd = max(1, int(n_keys * UPDATE_SHARE))
        n_hot = min(len(hot), int(n_upd * HOT_DRAW_SHARE))
        upd = np.union1d(
            rng.choice(hot, n_hot, replace=False),
            rng.choice(n_keys, n_upd - n_hot, replace=False),
        )
        n_ins = max(1, int(n_keys * INSERT_SHARE))
        keys = np.concatenate([upd, np.arange(n_keys, n_keys + n_ins)]).astype(np.int64)
        n_keys += n_ins
        k = len(keys)
        table = pa.table({
            "o_orderkey": pa.array(keys),
            "o_custkey": pa.array(rng.integers(0, n_cust, k, dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, k)]),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, k)),
            "o_orderdate": _days_to_ts(rng.integers(0, _ORDER_DAYS, k)),
            "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, k)]),
        })
        path = out_dir / f"journal_{cycle:05d}.parquet"
        _write(table, path)
        paths.append(path)
    return paths
