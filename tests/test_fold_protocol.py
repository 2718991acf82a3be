"""The foreachBatch fold protocol has one owner (streaming/guard.py).

1. **Structure** (no Spark): outside ``guard.py`` no streaming module
   builds a ``foreachBatch`` query, calls the batch-id guard or spells a
   guard column — so the copies cannot drift apart again.
2. **Wiped checkpoint** (the four SUM folds): a stream whose checkpoint
   is deleted and whose path is reused is a fresh run. Its batch ids
   restart at 0, and the guard must accept them instead of dropping
   them as already applied: the state ends up counting both halves.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import dwh_etl_framework_spark.streaming as streaming_pkg
from dwh_etl_framework_spark.streaming.corpus_folds import (
    batch_dfreq,
    stream_dfreq,
)
from dwh_etl_framework_spark.streaming.distinct import (
    current_cms,
    current_histogram,
    histogram_of,
    stream_cms,
    stream_histogram,
    update_cms,
)
from dwh_etl_framework_spark.streaming.entity_folds import (
    batch_value_stats,
    stream_entity_resolution,
)
from dwh_etl_framework_spark.streaming.merge import StreamMasterState

from conftest import SF_DIR, await_stream

_PROTOCOL_TOKENS = (
    "foreachBatch(",
    "check_batch_guard(",
    "stamp_guard(",
    '"__last_batch_id"',
)


def test_only_guard_owns_the_fold_protocol():
    pkg = Path(streaming_pkg.__file__).parent
    found = [
        f"{path.name}:{n}: {tok}"
        for path in sorted(pkg.glob("*.py"))
        if path.name != "guard.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        for tok in _PROTOCOL_TOKENS
        if tok in line
    ]
    assert not found, "fold protocol spelled outside guard.py:\n" + "\n".join(found)


def _sum(df, col: str = "cnt") -> int:
    return df.agg(F.sum(col).alias("s")).first()["s"]


# op -> (fixture table, columns, state names, start(stream, states, ckpt),
#        live total(states), one-shot total(rows))
CASES = {
    "histogram": (
        "events", ["event_id", "event_type", "value"], ["hist"],
        lambda s, st, ck: stream_histogram(
            s, st[0], ck, ["event_type"], "CAST(floor(value / 100) AS INT)"
        ),
        lambda st: _sum(current_histogram(st[0])),
        lambda df: _sum(
            histogram_of(df, ["event_type"], "CAST(floor(value / 100) AS INT)")
        ),
    ),
    "cms": (
        "events", ["event_id", "user_id"], ["cms"],
        lambda s, st, ck: stream_cms(s, st[0], ck, "user_id"),
        lambda st: _sum(current_cms(st[0]).filter("r = 0")),
        lambda df: _sum(update_cms(None, df, "user_id").filter("r = 0")),
    ),
    "dfreq": (
        "documents", ["doc_id", "source", "text"], ["dfreq"],
        lambda s, st, ck: stream_dfreq(s, st[0], ck, "text", "doc_id", "source"),
        lambda st: _sum(st[0].read().filter(F.col("shingle").isNull())),
        lambda df: _sum(
            batch_dfreq(df, "text", "doc_id", "source").filter(
                F.col("shingle").isNull()
            )
        ),
    ),
    "entity": (
        "part", ["p_partkey", "p_name", "p_retailprice"], ["stats", "edges"],
        lambda s, st, ck: stream_entity_resolution(
            s, st[0], st[1], ck, "p_name", "p_partkey", "p_retailprice"
        ),
        lambda st: _sum(st[0].read(), "n_rows"),
        lambda df: _sum(
            batch_value_stats(df, "p_name", "p_partkey", "p_retailprice"),
            "n_rows",
        ),
    ),
}


@pytest.mark.parametrize("op", list(CASES))
def test_wiped_checkpoint_reused_path_keeps_new_batches(spark, tmp_path, op):
    table, cols, names, start, live, oneshot = CASES[op]
    rows = spark.read.parquet(f"{SF_DIR}/{table}.parquet").select(*cols)
    key = cols[0]
    halves = [rows.filter(F.col(key) % 2 == i) for i in range(2)]
    states = [StreamMasterState(spark, str(tmp_path / n)) for n in names]
    ckpt = str(tmp_path / "ckpt")
    for i, half in enumerate(halves):
        src = str(tmp_path / f"src_{i}")
        half.coalesce(1).write.parquet(src)
        if i:
            shutil.rmtree(ckpt)  # ops reset: same path, fresh checkpoint
        stream = spark.readStream.schema(rows.schema).parquet(src)
        await_stream(start(stream, states, ckpt), 180)
    assert live(states) == oneshot(rows), op

