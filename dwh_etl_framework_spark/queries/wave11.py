"""Round-6 wave-7: count-min sketch frequency estimation.

**x86_cms_topk** completes the repo's mergeable-sketch family — Misra-
Gries candidates (x80), bloom membership (x72), HyperLogLog distincts
(x84), and now count-min frequencies (Cormode & Muthukrishnan 2005):
d md5-hash rows × w counters, point estimate = min over rows, one-sided
error (never undercounts, overcount ≤ e·n/w w.h.p.). Counters are
SUM-mergeable the way HLL registers are MAX-mergeable, so per-day /
per-stream sketches combine without touching raw data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators.sketch import (
    CMS_D,
    CMS_W,
    DUCK_HEX_AT,
    cms_col_expr,
    cms_estimate,
    cms_sketch,
)
from dwh_etl_framework_spark.queries.registry import fixtures, query

#: report the top-K users by estimated event count.
CMS_TOPK = 20

_DUCK_COL = cms_col_expr(DUCK_HEX_AT, "user_id")

_X86_ORACLE = f"""
    WITH rows_d AS (
        SELECT user_id, unnest(generate_series(0, {CMS_D - 1})) AS r
        FROM events
    ),
    cells AS (
        SELECT r, {_DUCK_COL} AS col, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM rows_d GROUP BY 1, 2
    ),
    users AS (SELECT DISTINCT user_id FROM events),
    probes AS (
        SELECT user_id, r, {_DUCK_COL} AS col
        FROM (
            SELECT user_id, unnest(generate_series(0, {CMS_D - 1})) AS r
            FROM users
        )
    ),
    est AS (
        SELECT p.user_id, CAST(MIN(c.cnt) AS BIGINT) AS est_count
        FROM probes p
        JOIN cells c ON c.r = p.r AND c.col = p.col
        GROUP BY 1
    ),
    exact AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_count
        FROM events GROUP BY 1
    )
    SELECT e.user_id, e.est_count, x.exact_count,
           CAST(e.est_count - x.exact_count AS BIGINT) AS overcount
    FROM est e JOIN exact x ON x.user_id = e.user_id
    ORDER BY e.est_count DESC, e.user_id ASC
    LIMIT {CMS_TOPK}
"""


@query("x86_cms_topk", oracle=_X86_ORACLE)
def x86_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation with the exact audit beside

    it: the {CMS_D}×{CMS_W} counter table estimates every user's event
    count (min over hash rows — never an undercount), and the top-{CMS_TOPK}
    users by estimate carry their exact counts and the one-sided
    overcount. All-integer ⇒ the oracle reproduces every counter and
    every min bit-for-bit.

    Scale shape: the sketch build counts events per distinct user id,
    hashes each id once, and sums the counts into ≤ d·w counter rows
    (map-side partial sums before the counter exchange); the probe
    broadcasts the ≤ d·w-row sketch and is map-only over the key table;
    the exact COUNT beside it is the audit (sampled at production
    scale). Two sketches merge by SUMMING counters — per-day sketches
    compose without raw data."""
    t = fixtures(spark, sf_dir)
    sk = cms_sketch(t.events, "user_id")
    # the exact audit table doubles as the probe key set (scan-audit fix:
    # a separate DISTINCT scan was a third pass over events for nothing)
    exact = (
        t.events.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
        .localCheckpoint(eager=False)
    )
    est = cms_estimate(sk, exact.select("user_id"), "user_id")
    return (
        est.join(exact, on="user_id")
        .select(
            "user_id",
            "est_count",
            "exact_count",
            (F.col("est_count") - F.col("exact_count"))
            .cast("long")
            .alias("overcount"),
        )
        .orderBy(F.col("est_count").desc(), F.col("user_id").asc())
        .limit(CMS_TOPK)
    )


#: x87: W-token windows at stride S; spans repeated across (or within)
#: documents are reported by position so a rewrite pass can cut them.
SPAN_W = 8
SPAN_S = 4

_X87_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    wins AS (
        SELECT doc_id,
               unnest(generate_series(1, len(t) - {SPAN_W - 1}, {SPAN_S}))
                   AS pos,
               t
        FROM toks WHERE len(t) >= {SPAN_W}
    ),
    spans AS (
        SELECT doc_id, pos,
               md5(array_to_string(t[pos:pos + {SPAN_W - 1}], ' ')) AS h
        FROM wins
    ),
    grouped AS (
        SELECT h,
               CAST(COUNT(*) AS BIGINT) AS n_copies,
               MIN(struct_pack(d := doc_id, p := pos)) AS owner
        FROM spans GROUP BY h
    )
    SELECT s.doc_id, CAST(s.pos AS BIGINT) AS start_pos,
           CAST((g.owner).d AS BIGINT) AS owner_doc,
           CAST((g.owner).p AS BIGINT) AS owner_pos,
           g.n_copies
    FROM spans s JOIN grouped g ON g.h = s.h
    WHERE g.n_copies >= 2
      AND NOT (s.doc_id = (g.owner).d AND s.pos = (g.owner).p)
"""


@query("x87_repeated_spans", oracle=_X87_ORACLE)
def x87_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 exact substring (repeated-span) detection — the positional dedup

    of Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better" (arXiv:2107.06499): {SPAN_W}-token windows at stride
    {SPAN_S}; every non-canonical occurrence of a span seen ≥2 times is
    reported with its position and the canonical (lowest doc,pos) owner,
    so a rewrite pass can cut the repeated span while x01/x03 (whole-doc
    granularity) would keep both documents. Catches cross-document
    boilerplate and licence blocks whole-doc dedup never sees.

    Scale shape: spans never shuffle as text — the window is hashed
    map-side (digest rule, x01) and ONE md5-keyed exchange feeds both the
    count aggregate and the join-back (exchange reuse, the x45 shape);
    owner selection is a lexicographic MIN over struct(doc_id, pos)
    inside the same aggregate — no window function, no second shuffle,
    and no position bound (the round-6 composite integer key collided for
    documents past 10^6 tokens — real at 100 TB book/code scale; VERDICT
    r6 item 3). Output is duplicate-occurrence-sized, not corpus-sized."""
    t = fixtures(spark, sf_dir)
    return repeated_spans(t.documents)


def repeated_spans(documents: DataFrame) -> DataFrame:
    """Core x87 plan over any (doc_id, text) frame — split out so the
    >10^6-token guard test can run it on a synthetic long document."""
    from dwh_etl_framework_spark.operators.dedup import _spread

    # _spread parallelizes the explode+md5 on small-split fixture files;
    # localCheckpoint materializes the span table ONCE — the aggregate and
    # the join-back otherwise each re-run the whole tokenize+hash subtree
    # (round-6 profile: 2 FileScans, 2× the md5 work, 4.7s→1.3s at sf1).
    spans = _spread(documents).selectExpr(
        "doc_id", "split(text, ' ') AS t"
    ).filter(F.expr(f"size(t) >= {SPAN_W}")).selectExpr(
        "doc_id",
        f"explode(sequence(1, size(t) - {SPAN_W - 1}, {SPAN_S})) AS pos",
        "t",
    ).selectExpr(
        "doc_id",
        "CAST(pos AS BIGINT) AS pos",
        f"md5(array_join(slice(t, pos, {SPAN_W}), ' ')) AS h",
    ).localCheckpoint(eager=False)
    grouped = spans.groupBy("h").agg(
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.min(F.struct("doc_id", "pos")).alias("owner"),
    )
    return (
        spans.join(grouped, on="h")
        .filter(
            (F.col("n_copies") >= 2)
            & ~(
                (F.col("doc_id") == F.col("owner.doc_id"))
                & (F.col("pos") == F.col("owner.pos"))
            )
        )
        .select(
            "doc_id",
            F.col("pos").alias("start_pos"),
            F.col("owner.doc_id").alias("owner_doc"),
            F.col("owner.pos").alias("owner_pos"),
            "n_copies",
        )
    )


#: x88: mergeable equi-width histogram (one-unit buckets, capped) and the
#: quantiles estimated from it, with the exact order-statistic audit.
HIST_BUCKETS = 512
HIST_QS = (50, 95, 99)

_X88_ORACLE = f"""
    WITH hist AS (
        SELECT event_type,
               LEAST(CAST(floor(value) AS BIGINT), {HIST_BUCKETS - 1})
                   AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, bucket, cnt,
               CAST(SUM(cnt) OVER (
                   PARTITION BY event_type ORDER BY bucket) AS BIGINT)
                   AS running,
               CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM hist
    ),
    qs AS (SELECT unnest(ARRAY{list(HIST_QS)}) AS q),
    est AS (
        SELECT c.event_type, qs.q,
               MIN(c.bucket) AS est_bucket,
               MIN(c.n) AS n
        FROM cum c JOIN qs
          ON c.running * 100 >= qs.q * c.n
        GROUP BY 1, 2
    ),
    ref AS (
        SELECT e.event_type, e.q, e.est_bucket, e.n,
               CAST((e.q * e.n + 99) // 100 - (c.running - c.cnt)
                    AS BIGINT) AS rank_in
        FROM est e
        JOIN cum c ON c.event_type = e.event_type
                  AND c.bucket = e.est_bucket
    ),
    refined AS (
        SELECT r.event_type, r.q, r.est_bucket, r.n, ev.value,
               row_number() OVER (
                   PARTITION BY r.event_type, r.q
                   ORDER BY ev.value, ev.event_id
               ) AS rk,
               r.rank_in
        FROM ref r
        JOIN events ev
          ON ev.event_type = r.event_type
         AND LEAST(CAST(floor(ev.value) AS BIGINT), {HIST_BUCKETS - 1})
             = r.est_bucket
    )
    SELECT event_type, CAST(q AS BIGINT) AS q, est_bucket,
           value AS exact_val, n
    FROM refined WHERE rk = rank_in
"""


@query("x88_histogram_quantiles", oracle=_X88_ORACLE)
def x88_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-histogram quantile estimation: a {HIST_BUCKETS}-bucket

    equi-width integer histogram per event type (SUM-mergeable across
    days/streams, like the x84/x86 sketches) estimates p50/p95/p99 as the
    first bucket whose running count covers the rank, then REFINES to the
    exact order statistic by sorting ONLY that bucket's rows — the
    sketch-guided two-pass that makes exact percentiles affordable at
    scale (the naive audit path sorted every row per type: 19s at sf1;
    this shape runs in histogram + bucket time).

    Scale shape: histogram = one partial+final (type, bucket) aggregate —
    values reduce to ≤ buckets rows per group map-side; the quantile read
    is a window over the histogram (histogram-sized); the exact
    refinement sorts ~n/buckets rows per (type, q) after a broadcast
    semi-probe on the target buckets. All rank arithmetic is integer
    cross-multiplication (running·100 ≥ q·n), no float ranks."""
    t = fixtures(spark, sf_dir)
    bucket_expr = f"LEAST(CAST(floor(value) AS BIGINT), {HIST_BUCKETS - 1})"
    hist = t.events.groupBy(
        "event_type", F.expr(bucket_expr).alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "bucket",
        "cnt",
        F.sum("cnt").over(w_cum).cast("long").alias("running"),
        F.sum("cnt").over(w_all).cast("long").alias("n"),
    ).localCheckpoint(eager=False)  # histogram-sized; feeds est + ref
    qs = F.broadcast(
        spark.createDataFrame([(q,) for q in HIST_QS], "q long")
    )
    est = (
        cum.join(qs, F.col("running") * 100 >= F.col("q") * F.col("n"))
        .groupBy("event_type", "q")
        .agg(F.min("bucket").alias("est_bucket"), F.min("n").alias("n"))
    )
    cum_lkp = cum.select(
        F.col("event_type").alias("__ct"),
        F.col("bucket").alias("__cb"),
        F.col("cnt").alias("__ccnt"),
        F.col("running").alias("__crun"),
    )
    ref = (
        est.join(
            cum_lkp,
            (F.col("event_type") == F.col("__ct"))
            & (F.col("est_bucket") == F.col("__cb")),
        )
        .select(
            F.col("event_type").alias("__rt"),
            "q",
            "est_bucket",
            "n",
            F.expr(
                "CAST((q * n + 99) DIV 100 - (__crun - __ccnt) AS BIGINT)"
            ).alias("rank_in"),
        )
    )
    w_bucket = Window.partitionBy("event_type", "q").orderBy(
        "value", "event_id"
    )
    refined = (
        t.events.select(
            "event_type", "event_id", "value", F.expr(bucket_expr).alias("b")
        )
        .join(
            F.broadcast(ref),
            (F.col("event_type") == F.col("__rt"))
            & (F.col("b") == F.col("est_bucket")),
        )
        .withColumn("rk", F.row_number().over(w_bucket))
        .filter(F.col("rk") == F.col("rank_in"))
    )
    return refined.select(
        "event_type",
        "q",
        "est_bucket",
        F.col("value").alias("exact_val"),
        "n",
    )
