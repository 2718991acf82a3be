"""Driver-thread helper in non-pinned thread mode.

With ``PYSPARK_PIN_THREAD=false``, ``pyspark.inheritable_thread_target``
returns the session itself instead of a wrapper. ``run_concurrently``
must then run its thunks unwrapped, and every call site built on it
(the set-similarity join's prefix/sets materialisations and the x97
cascade audit's two tiers) must work. The thread mode is fixed when the
JVM gateway starts, so the check runs in a fresh subprocess.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from tests.conftest import SF_DIR

REPO = Path(__file__).resolve().parents[1]

SCRIPT = """
from py4j.clientserver import ClientServer
from pyspark import SparkContext

from dwh_etl_framework_spark.session import SessionFactory, run_concurrently

spark = SessionFactory(master="local[2]", shuffle_partitions=2).build()
assert not isinstance(SparkContext._gateway, ClientServer), "pinned mode"
assert run_concurrently(
    spark, lambda: spark.range(5).count(), lambda: spark.range(7).count()
) == [5, 7]

from dwh_etl_framework_spark.operators.setjoin import prefix_filter_jaccard_pairs
docs = spark.createDataFrame(
    [(1, "a b c d e f"), (2, "a b c d e g"), (3, "p q r s t u")],
    "doc_id long, text string",
)
pairs = prefix_filter_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)
assert [(r.doc_a, r.doc_b) for r in pairs.collect()] == [(1, 2)]

from dwh_etl_framework_spark.queries.registry import QUERIES
import dwh_etl_framework_spark.queries  # noqa: F401 — registers the queries
audit = QUERIES["x97_cascade_recall_audit"].fn(spark, {sf!r})
assert audit.count() >= 0
spark.stop()
print("NON_PINNED_OK")
"""


def test_run_concurrently_and_call_sites_in_non_pinned_mode():
    env = dict(os.environ, PYSPARK_PIN_THREAD="false")
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(sf=SF_DIR)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "NON_PINNED_OK" in out.stdout
