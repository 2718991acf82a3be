"""Round-9 wave: the composed dedup pipeline — discovery certified by
the lossless tier.

**x97_cascade_recall_audit** finishes what rounds 7–8 built separately
(VERDICT r8 next-round #4): the LSH cascade DISCOVERS near-dup pairs
probabilistically, the prefix-filter set-similarity join PROVES the
ground truth losslessly — composing them yields, for every TRUE pair
(exact Jaccard ≥ t, from the prefix join), whether the banding tier
recalled it. This is the recall audit a production dedup runs before
trusting LSH parameters at 100 TB: the output's ``lsh_recalled=false``
rows ARE the cascade's false negatives, pair by pair, with their exact
similarity — not a sampled estimate of recall, the exact complement.

Both tiers are the audited scale plans: the prefix join never builds
the Σ·df² self-join (operators/setjoin.py, reshaped r9), the banding
tier shuffles band digests only (operators/dedup.py). The portable
(md5) minhash flavor makes the WHOLE composition reproducible in
ANSI SQL, so the driver hash-checks discovery AND proof in one row set
(x03b precedent for the LSH half, x94 for the exact half).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators import dedup, sampling, setjoin
from dwh_etl_framework_spark.queries.registry import fixtures, query
from dwh_etl_framework_spark.session import run_concurrently

#: exact half = the naive self-join (x02/x94 oracle, shared ``sh``
#: MATERIALIZED — DuckDB re-inlines plain CTEs, r7 lesson); LSH half =
#: the portable-minhash banding pipeline (x03b oracle verbatim). The
#: left join marks each TRUE pair with whether banding discovered it.
_CASCADE_AUDIT_SQL = """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    idx AS (
        SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        FROM toks WHERE len(t) >= 3
    ),
    sh AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM idx
    ),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT i.doc_a, i.doc_b, i.n_common,
               ca.n AS n_a, cb.n AS n_b,
               CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common)
                   AS jaccard
        FROM inter i
        JOIN counts ca ON i.doc_a = ca.doc_id
        JOIN counts cb ON i.doc_b = cb.doc_id
        WHERE CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) >= 0.5
    ),
    mins AS MATERIALIZED (
        SELECT doc_id, p.i AS perm,
               MIN(md5(CAST(p.i AS VARCHAR) || '|' || shingle)) AS m
        FROM sh, (SELECT unnest(generate_series(0, 63)) AS i) p
        GROUP BY doc_id, p.i
    ),
    bands AS (
        SELECT doc_id, CAST(perm // 4 AS INTEGER) AS band,
               md5(string_agg(m, '|' ORDER BY perm)) AS band_hash
        FROM mins GROUP BY doc_id, CAST(perm // 4 AS INTEGER)
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
                     AND a.doc_id < b.doc_id
    ),
    lsh AS (
        SELECT c.doc_a, c.doc_b
        FROM cands c
        JOIN mins ma ON ma.doc_id = c.doc_a
        JOIN mins mb ON mb.doc_id = c.doc_b AND mb.perm = ma.perm
        GROUP BY c.doc_a, c.doc_b
        HAVING CAST(SUM(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) AS BIGINT)
                   / 64.0 >= 0.5
    )
    SELECT e.doc_a, e.doc_b, e.n_common, e.n_a, e.n_b, e.jaccard,
           (l.doc_a IS NOT NULL) AS lsh_recalled
    FROM exact e
    LEFT JOIN lsh l ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b
    """


@query("x97_cascade_recall_audit", oracle=_CASCADE_AUDIT_SQL)
def x97_cascade_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 composed dedup pipeline: every exact near-dup pair (J ≥ 0.5,

    prefix-filter join — lossless by construction, x94) flagged with
    whether the portable MinHash+LSH banding tier (16×4, x03b) recalled
    it. ``lsh_recalled=false`` rows are the cascade's exact false
    negatives — the recall audit run before trusting LSH parameters on
    the full corpus. ``max_bucket_size=None``: a degenerate-bucket cap
    activating here would silently change the audit, so it fails loudly
    instead (the r7 sf1-variant convention)."""
    return _recall_audit(spark, sf_dir)


def _recall_audit(
    spark: SparkSession,
    sf_dir: str,
    shingle_filter: Column | None = None,
    k: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """x97/x97s body; ``shingle_filter`` samples both tiers' shingle
    universe, ``k``/``bands``/``rows_per_band`` set the LSH geometry."""
    t = fixtures(spark, sf_dir)
    docs = t.documents
    # Each tier derives its own shingles from the (cached) corpus scan.
    # Sharing ONE checkpointed shingle table via the operators'
    # ``shingles=`` hook was A/B-measured in round 9 and REJECTED here:
    # the exploded text table is ~3x the corpus, so materializing it
    # costs more than the explode it saves (sf0.1 warm 14.1 s -> 15.3 s,
    # first run 23.7 s). The hook stays for pipelines that already have
    # a persisted shingle/posting table. (PLANS.md x97 section.)
    # The two tiers are INDEPENDENT until the final left join, and each
    # runs eager driver-blocking jobs while being BUILT (the prefix
    # tier's sh/pref/sets checkpoints + sizing collects, the LSH tier's
    # signature checkpoint) — construct them from two driver threads so
    # one tier's jobs back-fill the executor idle of the other's task
    # tails (guide §2.6 "overlap independent jobs"; round 15). Job
    # submission is thread-safe; plans and results are unchanged — only
    # WHEN the same jobs run moves.
    def _exact_tier() -> DataFrame:
        return setjoin.prefix_filter_jaccard_pairs(
            docs, "text", "doc_id", n=3, threshold=0.5,
            shingle_filter=shingle_filter,
        )

    def _lsh_tier() -> DataFrame:
        sigs = dedup.minhash_signatures_portable(
            docs, "text", "doc_id", n=3, k=k, shingle_filter=shingle_filter
        )
        return dedup.lsh_candidate_pairs(
            sigs, "doc_id", bands=bands, rows_per_band=rows_per_band,
            est_threshold=0.5, max_bucket_size=None,
        ).select("doc_a", "doc_b", F.lit(True).alias("__hit"))

    exact, recalled = run_concurrently(spark, _exact_tier, _lsh_tier)
    return (
        exact.join(recalled, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard",
            F.coalesce(F.col("__hit"), F.lit(False)).alias("lsh_recalled"),
        )
    )


#: sf1 twin (the x02s/x03s convention, composed): BOTH tiers run on the
#: md5-quarter shingle universe, minhash at k=16 (4x4 banding), so the
#: combined oracle holds at sf1 and the composition itself carries scale
#: value evidence (SF1_EXCLUDED maps x97 here).
from dwh_etl_framework_spark.queries.sf1_variants import (  # noqa: E402
    _MINHASH16,
    _SAMPLED_SH,
    _shingle_col_pred,
    BANDS4,
    K16,
    ROWS4,
)

_CASCADE_AUDIT_SAMPLED_SQL = f"""
    WITH {_SAMPLED_SH},
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT i.doc_a, i.doc_b, i.n_common,
               ca.n AS n_a, cb.n AS n_b,
               CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common)
                   AS jaccard
        FROM inter i
        JOIN counts ca ON i.doc_a = ca.doc_id
        JOIN counts cb ON i.doc_b = cb.doc_id
        WHERE CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) >= 0.5
    ),
    {_MINHASH16},
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
                     AND a.doc_id < b.doc_id
    ),
    lsh AS (
        SELECT c.doc_a, c.doc_b
        FROM cands c
        JOIN mins ma ON ma.doc_id = c.doc_a
        JOIN mins mb ON mb.doc_id = c.doc_b AND mb.perm = ma.perm
        GROUP BY c.doc_a, c.doc_b
        HAVING CAST(SUM(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) AS BIGINT)
                   / {K16}.0 >= 0.5
    )
    SELECT e.doc_a, e.doc_b, e.n_common, e.n_a, e.n_b, e.jaccard,
           (l.doc_a IS NOT NULL) AS lsh_recalled
    FROM exact e
    LEFT JOIN lsh l ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b
    """


@query("x97s_cascade_audit_sampled", oracle=_CASCADE_AUDIT_SAMPLED_SQL)
def x97s_cascade_audit_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 composed recall audit over the md5-quarter shingle sample at

    k=16 — x97's builder with both tiers on the sampled universe
    (``shingle_filter`` threaded through ``prefix_filter_jaccard_pairs``
    AND ``minhash_signatures_portable``), so the naive+banding oracle
    holds at sf1 and the COMPOSITION carries scale value evidence, not
    just its two halves separately."""
    return _recall_audit(
        spark, sf_dir, shingle_filter=_shingle_col_pred(), k=K16,
        bands=BANDS4, rows_per_band=ROWS4,
    )


@query(
    "x98_weighted_sample",
    oracle="""
    WITH wts AS (
        SELECT doc_id, GREATEST(1, LEAST(8, n_chars // 256)) AS w
        FROM documents
    ),
    expanded AS (
        SELECT doc_id, w, unnest(generate_series(1, CAST(w AS INTEGER))) AS j
        FROM wts
    ),
    keys AS (
        SELECT doc_id, ANY_VALUE(w) AS w,
               MIN(md5('ws:' || CAST(doc_id AS VARCHAR) || ':'
                       || CAST(j AS VARCHAR))) AS wkey
        FROM expanded GROUP BY doc_id
    ),
    ranked AS (
        SELECT doc_id, w, wkey,
               row_number() OVER (ORDER BY wkey) AS rk
        FROM keys
    )
    SELECT doc_id, CAST(w AS BIGINT) AS weight, wkey, CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= 100
    """,
)
def x98_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 deterministic weighted sampling without replacement: the 100

    docs with the smallest min-of-w-hashes keys, weight = the doc's
    length bucket (1–8) — longer docs proportionally likelier, the
    quality-/length-weighted corpus-mix selection. Spark runs the
    tournament over map-side array-min keys (operators/sampling.
    weighted_sample — no explode, no global sort task); the oracle
    expands the weight-replicated multiset literally and runs the single
    window. Hash equality proves the map-side formulation ≡ the
    multiset definition AND the tournament ≡ the global sort."""
    t = fixtures(spark, sf_dir)
    docs = t.documents.withColumn(
        "weight",
        F.greatest(F.lit(1), F.least(F.lit(8), F.expr("n_chars DIV 256"))).cast("long"),
    )
    return sampling.weighted_sample(
        docs, "doc_id", "weight", n=100, salt="ws:"
    ).select("doc_id", "weight", "wkey", "rk")
