"""Round-6 wave-6 operators: a portable HyperLogLog sketch, padding-waste
accounting for length-bucketed batching, and gap-driven backfill planning.

- **x84_hll_distinct** — an engine-portable HyperLogLog built from md5
  bits and pure integer arithmetic, next to the exact answer so the
  artifact itself shows the sketch's error. Spark's own
  ``approx_count_distinct`` is HLL++ too (r17b, rows-only — its hash is
  JVM-internal); this one is hash-oracled because every step (bucket,
  rank, harmonic sum, estimate) is exact integer math DuckDB reproduces
  bit-for-bit. The register table is the real point at 100 TB: a
  MAX-mergeable sketch state that partial aggregation combines map-side,
  so counting distinct users never shuffles user ids — only
  (group, bucket) register rows.
- **x85_length_bucket_packing** — the length-grouped-batching efficiency
  audit: padding waste of batches formed inside length buckets vs batches
  formed in naive corpus order. The standard LLM-training input-pipeline
  trick; the output quantifies exactly how many pad tokens the bucketing
  saves on this corpus.
- **f29_backfill_plan** — ingestion-gap detection: a generated
  (event_type × hour) expectation grid anti-probed against the observed
  rollup; emits the missing and sparse slots a scheduler would backfill.
  The operational complement of f24's incremental aggregate maintenance.

All-integer/string/timestamp outputs — canonicalizer-safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators.sketch import (
    DUCK_HEX,
    HLL_M,
    HLL_RMAX,
    hll_estimate,
    hll_final_frag,
    hll_frags,
    hll_registers,
)
from dwh_etl_framework_spark.queries.registry import fixtures, query

#: x85: 8-doc batches; length buckets 8 tokens wide, capped at bucket 15.
BATCH_SIZE = 8
BUCKET_WIDTH = 8
BUCKET_MAX = 15

#: f29: a slot with fewer events than this is "sparse" (partial ingest).
SPARSE_BELOW = 2


_X84_FRAGS = hll_frags(DUCK_HEX, "user_id")
_X84_ORACLE = f"""
    WITH hashed AS (
        SELECT event_type, user_id, {_X84_FRAGS['h']} AS __h
        FROM events
    ),
    sliced AS (
        SELECT event_type,
               {_X84_FRAGS['bucket'].format(div='//')} AS bucket,
               {_X84_FRAGS['w']} AS __w
        FROM hashed
    ),
    regs AS (
        SELECT event_type, bucket,
               MAX({_X84_FRAGS['rank']}) AS reg
        FROM sliced
        GROUP BY 1, 2
    ),
    summed AS (
        SELECT event_type,
               CAST(SUM(CAST({1 << HLL_RMAX} AS BIGINT)
                        // CAST((1 << reg) AS BIGINT)) AS BIGINT)
               + ({HLL_M} - COUNT(*)) * {1 << HLL_RMAX} AS s,
               CAST(COUNT(*) AS BIGINT) AS n_buckets_used
        FROM regs GROUP BY 1
    ),
    exact AS (
        SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events GROUP BY 1
    ),
    est AS (
        SELECT event_type,
               {hll_final_frag('s', 'n_buckets_used', '//')} AS hll_estimate,
               n_buckets_used
        FROM summed
    )
    SELECT e.event_type, e.n_exact, s.hll_estimate,
           CAST(abs(s.hll_estimate - e.n_exact) * 1000000 // e.n_exact
                AS BIGINT) AS err_ppm,
           s.n_buckets_used
    FROM exact e JOIN est s ON s.event_type = e.event_type
"""


@query("x84_hll_distinct", oracle=_X84_ORACLE)
def x84_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate count-distinct via an engine-portable HyperLogLog

    (Flajolet et al. 2007): 64 MAX-mergeable registers per group from md5
    bits, estimate alpha·m²/Σ2^-reg in exact integer arithmetic (with the
    small-range linear-counting correction shipped as a precomputed
    integer CASE table — V has only m possible values, so the log never
    runs at query time), and
    the exact distinct count beside it so the error is part of the
    artifact (Spark's builtin HLL++ is r17b, rows-only — its xxhash is
    not reproducible outside the JVM).

    Scale shape: the register build first reduces events to their
    distinct (group, user id) pairs, so each id is hashed once however
    many events it has; the map side then reduces each partition to ≤ m
    register rows per group (partial MAX combine) before the register
    exchange, and register tables from different days / tables /
    clusters merge with another MAX. The exact COUNT(DISTINCT)
    beside it is the audit column (itself a full shuffle — at production
    scale you'd sample-audit instead); the integer harmonic sum
    Σ 2^(RMAX−reg) makes the estimate bit-reproducible everywhere."""
    t = fixtures(spark, sf_dir)
    regs = hll_registers(t.events, ["event_type"], "user_id")
    est = hll_estimate(regs, ["event_type"])
    exact = t.events.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return exact.join(est, on="event_type").select(
        "event_type",
        "n_exact",
        "hll_estimate",
        F.expr(
            "CAST(abs(hll_estimate - n_exact) * 1000000 DIV n_exact AS BIGINT)"
        ).alias("err_ppm"),
        "n_buckets_used",
    )


_X85_ORACLE = f"""
    WITH docs AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ),
    assigned AS (
        SELECT doc_id, n_tok,
               LEAST(n_tok // {BUCKET_WIDTH}, {BUCKET_MAX}) AS bucket,
               (row_number() OVER (
                    PARTITION BY LEAST(n_tok // {BUCKET_WIDTH}, {BUCKET_MAX})
                    ORDER BY doc_id) - 1) // {BATCH_SIZE} AS b_batch,
               (row_number() OVER (ORDER BY doc_id) - 1) // {BATCH_SIZE}
                   AS g_batch
        FROM docs
    ),
    bucketed AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MAX(n_tok) AS BIGINT) AS mx,
               CAST(SUM(n_tok) AS BIGINT) AS tok
        FROM assigned GROUP BY bucket, b_batch
    ),
    globaled AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MAX(n_tok) AS BIGINT) AS mx,
               CAST(SUM(n_tok) AS BIGINT) AS tok
        FROM assigned GROUP BY g_batch
    ),
    stats AS (
        SELECT 'bucketed' AS policy,
               CAST(COUNT(*) AS BIGINT) AS n_batches,
               CAST(SUM(tok) AS BIGINT) AS real_tokens,
               CAST(SUM(n * mx - tok) AS BIGINT) AS pad_tokens
        FROM bucketed
        UNION ALL
        SELECT 'global', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(tok) AS BIGINT), CAST(SUM(n * mx - tok) AS BIGINT)
        FROM globaled
    )
    SELECT policy, n_batches, real_tokens, pad_tokens,
           CAST(pad_tokens * 1000000 // (real_tokens + pad_tokens)
                AS BIGINT) AS pad_ppm
    FROM stats
"""


@query("x85_length_bucket_packing", oracle=_X85_ORACLE)
def x85_length_bucket_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit: form {BATCH_SIZE}-doc training

    batches (a) inside {BUCKET_WIDTH}-token-wide length buckets and
    (b) in naive corpus order, and account the pad tokens each policy
    burns (batch cost = rows·max_len). The standard input-pipeline trick
    for LLM training; the two-row output IS the efficiency claim, in ppm.

    Scale shape: one pass computes lengths map-only; each policy is a
    window + batch-keyed aggregate (the bucketed window partitions by
    bucket — parallel; the 'global' straw man's single-partition window
    is the thing the bucketing replaces, kept here as the comparison
    baseline). At production scale the batch id comes from the x73 epoch
    shuffle inside each bucket rather than doc_id order."""
    t = fixtures(spark, sf_dir)
    docs = t.documents.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    bucket = F.least(
        F.expr(f"n_tok DIV {BUCKET_WIDTH}"), F.lit(BUCKET_MAX)
    ).alias("bucket")
    assigned = docs.select(
        "doc_id",
        "n_tok",
        bucket,
        F.expr(
            f"CAST((row_number() OVER (PARTITION BY"
            f" LEAST(n_tok DIV {BUCKET_WIDTH}, {BUCKET_MAX})"
            f" ORDER BY doc_id) - 1) DIV {BATCH_SIZE} AS BIGINT)"
        ).alias("b_batch"),
        F.expr(
            f"CAST((row_number() OVER (ORDER BY doc_id) - 1)"
            f" DIV {BATCH_SIZE} AS BIGINT)"
        ).alias("g_batch"),
    )

    def batch_stats(keys: list[str], policy: str) -> DataFrame:
        per_batch = assigned.groupBy(*keys).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.max("n_tok").cast("long").alias("mx"),
            F.sum("n_tok").cast("long").alias("tok"),
        )
        return per_batch.agg(
            F.lit(policy).alias("policy"),
            F.count(F.lit(1)).cast("long").alias("n_batches"),
            F.sum("tok").cast("long").alias("real_tokens"),
            F.sum(F.col("n") * F.col("mx") - F.col("tok"))
            .cast("long")
            .alias("pad_tokens"),
        )

    stats = batch_stats(["bucket", "b_batch"], "bucketed").unionAll(
        batch_stats(["g_batch"], "global")
    )
    return stats.withColumn(
        "pad_ppm",
        F.expr(
            "CAST(pad_tokens * 1000000 DIV (real_tokens + pad_tokens)"
            " AS BIGINT)"
        ),
    )


_F29_ORACLE = f"""
    WITH bounds AS (
        SELECT date_trunc('hour', MIN(ts)) AS mn,
               date_trunc('hour', MAX(ts)) AS mx
        FROM events
    ),
    hours AS (
        SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour_ts
        FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    observed AS (
        SELECT event_type, date_trunc('hour', ts) AS hour_ts,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT t.event_type, h.hour_ts,
           CAST(COALESCE(o.n_events, 0) AS BIGINT) AS n_events,
           CASE WHEN o.n_events IS NULL THEN 'missing' ELSE 'sparse' END
               AS status
    FROM hours h
    CROSS JOIN types t
    LEFT JOIN observed o
      ON o.event_type = t.event_type AND o.hour_ts = h.hour_ts
    WHERE o.n_events IS NULL OR o.n_events < {SPARSE_BELOW}
"""


@query("f29_backfill_plan", oracle=_F29_ORACLE)
def f29_backfill_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill planner: generate the (event_type × hour) expectation grid

    over the observed time range and emit every slot that is missing
    (no events — an ingestion gap to re-extract) or sparse
    (< {SPARSE_BELOW} events — a partial load to re-verify). The
    operational complement of f24's incremental aggregate maintenance:
    f24 keeps the rollup current, f29 tells the scheduler which slices to
    re-run.

    Scale shape: the observed side is one map-combinable (type, hour)
    rollup — rollup-sized, never raw events — and the expectation grid is
    generated metadata (|types|·|hours| rows, broadcast to the join).
    The raw table is scanned exactly twice (bounds + rollup), both
    full-pushdown column-pruned scans of (event_type, ts)."""
    t = fixtures(spark, sf_dir)
    bounds = t.events.agg(
        F.date_trunc("hour", F.min("ts")).alias("mn"),
        F.date_trunc("hour", F.max("ts")).alias("mx"),
    )
    hours = bounds.select(
        F.explode(F.expr("sequence(mn, mx, interval 1 hour)")).alias("hour_ts")
    )
    observed = t.events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events")).localCheckpoint(
        eager=False
    )
    # the expected type set derives from the rollup (scan-audit fix: a
    # separate DISTINCT was a third pass over raw events for a 5-row set)
    types = observed.select("event_type").distinct()
    grid = F.broadcast(hours.crossJoin(types))
    return (
        grid.join(observed, on=["event_type", "hour_ts"], how="left")
        .filter(
            F.col("n_events").isNull() | (F.col("n_events") < SPARSE_BELOW)
        )
        .select(
            "event_type",
            "hour_ts",
            F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias(
                "n_events"
            ),
            F.when(F.col("n_events").isNull(), "missing")
            .otherwise("sparse")
            .alias("status"),
        )
    )
