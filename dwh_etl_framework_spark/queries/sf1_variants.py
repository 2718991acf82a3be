"""Reduced-strength twins closing the sf1 value-evidence hole.

Eight oracled queries (x02, x03b, x04b, x06d, x32, x50, x66, x68) embed
shingle or 64-permutation self-joins whose DuckDB oracles cannot run at
sf1 (NOTES r6 / VERDICT r6 item 4) — the ONLY registry tier with
sf0.01-only value evidence. Each query here is the same operator code
path at reduced strength, chosen so the oracle holds at sf1:

- **hash-range shingle sampling** (Broder's sketch principle): Jaccard
  over the deterministic md5-prefix quarter of the shingle universe —
  identical sets still score exactly 1.0, the self-join shrinks ~16×;
- **16-permutation MinHash** (4 bands × 4 rows) instead of 64 (16×4):
  the banding/estimate algebra is unchanged, the perm cross-product
  shrinks 4×;
- **deterministic id-sampling** for the simhash / embedding tiers: the
  md5-prefix slice of docs/vectors, so the |toks|×64-bit and dim-unnest
  cross products shrink by the sample rate.

These are REGISTRY queries (they run at every SF and are in the local
parity suite + PARITY_r{NN}); their reason to exist is the sf1 sweep,
where they carry value-hash evidence for the exact operator functions
(``ngram_jaccard_pairs``, ``minhash_signatures_portable`` +
``lsh_candidate_pairs[_cross]``, ``simhash_portable_pairs``,
``lsh_near_dup_pairs_portable``, ``knn_join``) the full-strength eight
exercise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators import dedup, similarity
from dwh_etl_framework_spark.queries.registry import fixtures, query
from dwh_etl_framework_spark.queries.wave6 import (
    _split_leakage,
    _text_vector_consistency,
)

#: deterministic quarter of the shingle universe (both engines md5 the
#: same shingle text, so the sample sets are identical by construction).
SHINGLE_PRED_DUCK = "substr(md5(shingle), 1, 1) < '4'"

#: reduced MinHash geometry: 16 perms = 4 bands x 4 rows.
K16, BANDS4, ROWS4 = 16, 4, 4

#: deterministic id slices for the tiers whose cost is per-row x 64.
DOC_PRED_DUCK = "substr(md5('ds:' || CAST(doc_id AS VARCHAR)), 1, 1) < '4'"
#: vectors: QUARTER slice — a half slice left the x06s bucket join and
#: the x32s query x pool x dim product past the sf1 oracle budget
#: (measured this round: x06s killed at 590 s, x32s ~9 min at half).
VEC_PRED_DUCK = "substr(md5('vs:' || CAST(vec_id AS VARCHAR)), 1, 1) < '4'"


def _shingle_col_pred():
    return F.substring(F.md5(F.col("shingle")), 1, 1) < "4"


def _doc_pred():
    return (
        F.substring(
            F.md5(F.concat(F.lit("ds:"), F.col("doc_id").cast("string"))), 1, 1
        )
        < "4"
    )


def _vec_pred():
    return (
        F.substring(
            F.md5(F.concat(F.lit("vs:"), F.col("vec_id").cast("string"))), 1, 1
        )
        < "4"
    )


#: shared DuckDB CTE chain: distinct 3-gram shingles, md5-quarter-sampled.
_SAMPLED_SH = f"""
    toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    idx AS (
        SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        FROM toks WHERE len(t) >= 3
    ),
    sh AS MATERIALIZED (
        SELECT * FROM (
            SELECT DISTINCT doc_id,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM idx
        ) WHERE {SHINGLE_PRED_DUCK}
    )"""
#: MATERIALIZED: DuckDB inlines plain CTEs, so without it the explode+
#: sample chain recomputes once per reference (counts + both self-join
#: sides) — 3x the oracle cost at sf1.

#: shared DuckDB CTE chain: 16-perm portable minhash + 4x4 banding over sh.
_MINHASH16 = f"""
    mins AS MATERIALIZED (
        SELECT doc_id, p.i AS perm,
               MIN(md5(CAST(p.i AS VARCHAR) || '|' || shingle)) AS m
        FROM sh, (SELECT unnest(generate_series(0, {K16 - 1})) AS i) p
        GROUP BY doc_id, p.i
    ),
    bands AS (
        SELECT doc_id, CAST(perm // {ROWS4} AS INTEGER) AS band,
               md5(string_agg(m, '|' ORDER BY perm)) AS band_hash
        FROM mins GROUP BY doc_id, CAST(perm // {ROWS4} AS INTEGER)
    )"""


@query(
    "x02s_ngram_jaccard_sampled",
    oracle=f"""
    WITH {_SAMPLED_SH},
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b, i.n_common,
           ca.n AS n_a, cb.n AS n_b,
           CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) AS jaccard
    FROM inter i
    JOIN counts ca ON i.doc_a = ca.doc_id
    JOIN counts cb ON i.doc_b = cb.doc_id
    WHERE CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) >= 0.5
    """,
)
def x02s_ngram_jaccard_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 exact Jaccard over the md5-quarter shingle sample — the x02

    verify tier with the sampled universe (``ngram_jaccard_pairs``'s
    ``shingle_filter``). Exact duplicates still score 1.0; the self-join
    fan-in shrinks ~16x, which is what lets the DuckDB oracle hold at
    sf1 (the unsampled x02 keeps sf0.01 evidence + the x02b cascade
    soundness tests)."""
    t = fixtures(spark, sf_dir)
    return dedup.ngram_jaccard_pairs(
        t.documents, "text", "doc_id", n=3, threshold=0.5,
        shingle_filter=_shingle_col_pred(),
    )


@query(
    "x03s_minhash_lsh_portable16",
    oracle=f"""
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
    {_MINHASH16},
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
                     AND a.doc_id < b.doc_id
    ),
    est AS (
        SELECT c.doc_a, c.doc_b,
               CAST(SUM(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) AS BIGINT)
                   / {K16}.0 AS est_jaccard
        FROM cands c
        JOIN mins ma ON ma.doc_id = c.doc_a
        JOIN mins mb ON mb.doc_id = c.doc_b AND mb.perm = ma.perm
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b, CAST(est_jaccard AS DOUBLE) AS est_jaccard
    FROM est WHERE est_jaccard >= 0.5
    """,
)
def x03s_minhash_lsh_portable16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 portable MinHash+LSH at k=16 (4 bands x 4 rows) — the x03b

    pipeline (same ``minhash_signatures_portable`` +
    ``lsh_candidate_pairs``) with the perm cross-product shrunk 4x so
    the oracle's 16-permutation expansion holds at sf1. Band width (4
    rows) is unchanged, so per-band collision behavior matches the
    full-strength tier; only the estimate's resolution drops (1/16)."""
    t = fixtures(spark, sf_dir)
    sigs = dedup.minhash_signatures_portable(
        t.documents, "text", "doc_id", n=3, k=K16
    )
    # max_bucket_size=None: the DuckDB oracle has no bucket cap, so a cap
    # activation on the Spark side would surface as a confusing parity
    # hash mismatch instead of the perf signal it is (ADVICE r7). The
    # full-strength production tiers keep the cap.
    return dedup.lsh_candidate_pairs(
        sigs, "doc_id", bands=BANDS4, rows_per_band=ROWS4, est_threshold=0.5,
        max_bucket_size=None,
    ).select("doc_a", "doc_b", "est_jaccard")


@query(
    "x04s_simhash_docsampled",
    oracle=f"""
    WITH norm AS (
        SELECT doc_id,
               lower(trim(regexp_replace(text, ' +', ' ', 'g'))) AS t
        FROM documents WHERE {DOC_PRED_DUCK}
    ),
    toks AS (
        SELECT doc_id, md5(unnest(string_split(t, ' '))) AS h FROM norm
    ),
    bits AS (
        SELECT doc_id, p.b AS b,
               CASE WHEN ((strpos('0123456789abcdef',
                                  substr(h, (p.b // 4) + 1, 1)) - 1)
                          >> (p.b % 4)) & 1 = 1
                    THEN 1 ELSE -1 END AS pm
        FROM toks, (SELECT unnest(generate_series(0, 63)) AS b) p
    ),
    fpbits AS (
        SELECT doc_id, b, CASE WHEN SUM(pm) > 0 THEN 1 ELSE 0 END AS bit
        FROM bits GROUP BY doc_id, b
    ),
    chunks AS (
        SELECT doc_id, CAST(b // 16 AS INTEGER) AS chunk_idx,
               CAST(SUM(bit << (b % 16)) AS BIGINT) AS chunk_val
        FROM fpbits GROUP BY doc_id, CAST(b // 16 AS INTEGER)
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
        FROM chunks a
        JOIN chunks b2 ON a.chunk_idx = b2.chunk_idx
                       AND a.chunk_val = b2.chunk_val
                       AND a.doc_id < b2.doc_id
    ),
    ham AS (
        SELECT c.doc_a, c.doc_b,
               CAST(SUM(CASE WHEN fa.bit <> fb.bit THEN 1 ELSE 0 END)
                    AS BIGINT) AS hamming
        FROM cands c
        JOIN fpbits fa ON fa.doc_id = c.doc_a
        JOIN fpbits fb ON fb.doc_id = c.doc_b AND fb.b = fa.b
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3
    """,
)
def x04s_simhash_docsampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 portable SimHash over the deterministic md5-quarter of DOCS —

    the full 64-bit x04b pipeline (same ``simhash_portable_pairs``)
    with the |toks|x64 bit expansion shrunk 4x by the id sample, which
    is what the oracle cannot hold unsampled at sf1. Near-dup pairs
    both survive the sample with probability 1/16 — plentiful at sf1
    scale (the sweep's point), sparse at sf0.01 where the unsampled
    x04b carries the evidence."""
    t = fixtures(spark, sf_dir)
    # uncapped: oracle twin rule (see x03s) — the oracle has no bucket cap
    return dedup.simhash_portable_pairs(
        t.documents.filter(_doc_pred()), "text", "doc_id", max_hamming=3,
        max_bucket_size=None,
    )


@query(
    "x06s_embedding_near_dup_sampled",
    oracle=f"""
    WITH ev AS (
        SELECT vec_id, embedding,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings WHERE {VEC_PRED_DUCK}
    ),
    fx AS (
        SELECT vec_id, i,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e12) AS BIGINT) AS v
        FROM ev
    ),
    coef AS (
        SELECT t.t, j.j, d.d,
               CASE WHEN (strpos('0123456789abcdef',
                                 substr(md5(CAST(t.t AS VARCHAR) || '|' ||
                                            CAST(j.j AS VARCHAR) || '|' ||
                                            CAST(d.d AS VARCHAR)), 1, 1)) - 1)
                         & 1 = 1
                    THEN 1 ELSE -1 END AS s
        FROM (SELECT unnest(generate_series(0, 3)) AS t) t,
             (SELECT unnest(generate_series(0, 7)) AS j) j,
             (SELECT unnest(generate_series(1, 64)) AS d) d
    ),
    proj AS (
        SELECT f.vec_id, c.t, c.j, SUM(c.s * f.v) AS p
        FROM fx f JOIN coef c ON c.d = f.i
        GROUP BY 1, 2, 3
    ),
    buckets AS (
        SELECT vec_id, t,
               CAST(SUM((CASE WHEN p >= 0 THEN 1 ELSE 0 END) << j)
                    AS INTEGER) AS bucket
        FROM proj GROUP BY vec_id, t
    ),
    cands AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM buckets a
        JOIN buckets b ON a.t = b.t AND a.bucket = b.bucket
                       AND a.vec_id < b.vec_id
    ),
    dots AS (
        SELECT c.id_a, c.id_b,
               SUM(CAST(floor(CAST(ea.embedding[ea.i] AS DOUBLE)
                              * CAST(eb.embedding[ea.i] AS DOUBLE) * 1e12)
                        AS BIGINT)) AS dot
        FROM cands c
        JOIN ev ea ON ea.vec_id = c.id_a
        JOIN ev eb ON eb.vec_id = c.id_b AND eb.i = ea.i
        GROUP BY 1, 2
    ),
    nrm AS (
        SELECT vec_id,
               SUM(CAST(floor(CAST(embedding[i] AS DOUBLE)
                              * CAST(embedding[i] AS DOUBLE) * 1e12)
                        AS BIGINT)) AS n2
        FROM ev GROUP BY vec_id
    )
    SELECT d.id_a, d.id_b,
           CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
               AS cosine_sim
    FROM dots d
    JOIN nrm na ON na.vec_id = d.id_a
    JOIN nrm nb ON nb.vec_id = d.id_b
    WHERE CAST(d.dot AS DOUBLE)
          / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.4
    """,
)
def x06s_embedding_near_dup_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X1/X2 portable hyperplane near-dup over the deterministic
    md5-QUARTER of VECTORS at 8 hyperplanes — the x06d pipeline (same
    ``lsh_near_dup_pairs_portable``) with the dim-unnest shrunk 4x (quarter slice) and
    256-way buckets (6-bit buckets over the sf1 pool made the candidate
    pair join blow past the oracle budget; 2 more planes shrink mean
    bucket occupancy ~4x at a recall cost the sweep accepts)."""
    t = fixtures(spark, sf_dir)
    # uncapped: oracle twin rule (see x03s) — the oracle has no bucket cap
    return similarity.lsh_near_dup_pairs_portable(
        t.embeddings.filter(_vec_pred()),
        dim=64, n_planes=8, n_tables=4, threshold=0.4,
        max_bucket_size=None,
    )


@query(
    "x32s_knn_join_sampled",
    oracle=f"""
    WITH pool AS (
        SELECT vec_id, embedding FROM embeddings WHERE {VEC_PRED_DUCK}
    ),
    ev AS (
        SELECT vec_id, embedding,
               unnest(generate_series(1, len(embedding))) AS i
        FROM pool
    ),
    nrm AS (
        SELECT vec_id,
               SUM(CAST(floor(CAST(embedding[i] AS DOUBLE)
                              * CAST(embedding[i] AS DOUBLE) * 1e12)
                        AS BIGINT)) AS n2
        FROM ev GROUP BY vec_id
    ),
    dots AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               SUM(CAST(floor(CAST(q.embedding[q.i] AS DOUBLE)
                              * CAST(e.embedding[q.i] AS DOUBLE) * 1e12)
                        AS BIGINT)) AS dot
        FROM ev q JOIN ev e ON e.i = q.i AND e.vec_id <> q.vec_id
        WHERE q.vec_id < 50
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT d.query_id, d.neighbor_id,
               CAST(d.dot AS DOUBLE)
                   / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(ne.n2 AS DOUBLE)))
                   AS cosine_sim,
               row_number() OVER (
                   PARTITION BY d.query_id
                   ORDER BY CAST(d.dot AS DOUBLE)
                            / (sqrt(CAST(nq.n2 AS DOUBLE))
                               * sqrt(CAST(ne.n2 AS DOUBLE))) DESC,
                            d.neighbor_id ASC
               ) AS rk
        FROM dots d
        JOIN nrm nq ON nq.vec_id = d.query_id
        JOIN nrm ne ON ne.vec_id = d.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= 3
    """,
)
def x32s_knn_join_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 exact k-NN join over the md5-QUARTER vector pool — the x32

    shape (same ``similarity.knn_join``, exact fixed-point cosine) with
    the query x corpus x dim expansion cut 4x so the oracle holds at sf1
    comfortably (a half pool measured ~9 min in DuckDB; the quarter runs
    in ~1)."""
    t = fixtures(spark, sf_dir)
    pool = t.embeddings.filter(_vec_pred())
    return similarity.knn_join(
        pool, pool.filter(F.col("vec_id") < 50), k=3, exact=True
    )


@query(
    "x50s_incremental_dedup16",
    oracle=f"""
    WITH split AS (
        SELECT doc_id, text,
               substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) AS p
        FROM documents
    ),
    corpus AS (SELECT doc_id, text FROM split WHERE p < 'cc'),
    batch  AS (SELECT doc_id, text FROM split WHERE p >= 'cc'),
    exact AS (
        SELECT DISTINCT b.doc_id
        FROM batch b JOIN corpus c ON md5(b.text) = md5(c.text)
    ),
    toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM split
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
    {_MINHASH16},
    cands AS (
        SELECT DISTINCT ca.doc_id AS doc_corpus, bb.doc_id AS doc_batch
        FROM bands ba
        JOIN corpus ca ON ca.doc_id = ba.doc_id
        JOIN bands bb ON bb.band = ba.band AND bb.band_hash = ba.band_hash
        JOIN batch  cb ON cb.doc_id = bb.doc_id
    ),
    near AS (
        SELECT DISTINCT c.doc_batch AS doc_id
        FROM cands c
        JOIN mins ma ON ma.doc_id = c.doc_corpus
        JOIN mins mb ON mb.doc_id = c.doc_batch AND mb.perm = ma.perm
        GROUP BY c.doc_corpus, c.doc_batch
        HAVING SUM(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) / {K16}.0 >= 0.5
    )
    SELECT b.doc_id,
           e.doc_id IS NOT NULL AS dup_exact,
           n.doc_id IS NOT NULL AS dup_near,
           e.doc_id IS NULL AND n.doc_id IS NULL AS kept
    FROM batch b
    LEFT JOIN exact e ON e.doc_id = b.doc_id
    LEFT JOIN near  n ON n.doc_id = b.doc_id
    """,
)
def x50s_incremental_dedup16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 incremental-ingest dedup at k=16 (4x4 bands) — the exact x50

    composition (``dedup.screen_increment``, portable signatures) with
    the 64-perm expansion shrunk 4x so the cross-LSH oracle holds at
    sf1."""
    t = fixtures(spark, sf_dir)
    pfx = F.substring(
        F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 2
    )
    return dedup.screen_increment(
        t.documents.select("doc_id", "text"), pfx >= "cc", "text", "doc_id",
        n=3, k=K16, bands=BANDS4, rows_per_band=ROWS4, est_threshold=0.5,
        # uncapped: oracle twin rule (see x03s) — no cap in the oracle
        max_bucket_size=None,
        signatures=dedup.minhash_signatures_portable,
    ).select("doc_id", "dup_exact", "dup_near", "kept")


@query(
    "x66s_split_leakage_sampled",
    oracle=f"""
    WITH {_SAMPLED_SH},
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN counts ca ON i.doc_a = ca.doc_id
        JOIN counts cb ON i.doc_b = cb.doc_id
        WHERE CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) >= 0.5
    ),
    assigned AS (
        SELECT doc_id,
               CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                        THEN 'train'
                    WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'f3'
                        THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ),
    leaks AS (
        SELECT p.doc_a, p.doc_b,
               least(sa.split, sb.split) AS split_lo,
               greatest(sa.split, sb.split) AS split_hi
        FROM pairs p
        JOIN assigned sa ON sa.doc_id = p.doc_a
        JOIN assigned sb ON sb.doc_id = p.doc_b
        WHERE sa.split <> sb.split
    )
    SELECT split_lo, split_hi,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST((SELECT COUNT(DISTINCT d) FROM (
                     SELECT l2.doc_a AS d FROM leaks l2
                     WHERE l2.split_lo = l.split_lo AND l2.split_hi = l.split_hi
                     UNION
                     SELECT l2.doc_b AS d FROM leaks l2
                     WHERE l2.split_lo = l.split_lo AND l2.split_hi = l.split_hi
                )) AS BIGINT) AS n_docs
    FROM leaks l
    GROUP BY split_lo, split_hi
    """,
)
def x66s_split_leakage_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/X3 contamination check over the sampled-shingle pair tier —

    x66's builder (``wave6._split_leakage``: pairs ⋈ md5 split
    assignment) with the x02s sampled verify tier as the pair source, so
    the oracle holds at sf1."""
    return _split_leakage(spark, sf_dir, shingle_filter=_shingle_col_pred())


@query(
    "x68s_text_vector_consistency_sampled",
    oracle=f"""
    WITH {_SAMPLED_SH},
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    dup_pairs AS (
        SELECT i.doc_a, i.doc_b, 'near_dup' AS pair_class
        FROM inter i
        JOIN counts ca ON i.doc_a = ca.doc_id
        JOIN counts cb ON i.doc_b = cb.doc_id
        WHERE CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) >= 0.5
    ),
    ctrl_pairs AS (
        SELECT e.vec_id AS doc_a, e.vec_id + 1 AS doc_b,
               'adjacent_control' AS pair_class
        FROM embeddings e
        WHERE e.vec_id % 2 = 0
          AND EXISTS (SELECT 1 FROM embeddings x
                      WHERE x.vec_id = e.vec_id + 1)
    ),
    pairs AS (
        SELECT * FROM dup_pairs UNION ALL SELECT * FROM ctrl_pairs
    ),
    ev AS (
        SELECT vec_id, embedding,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings
    ),
    nrm AS (
        SELECT vec_id,
               SUM(CAST(floor(CAST(embedding[i] AS DOUBLE)
                              * CAST(embedding[i] AS DOUBLE) * 1e12)
                        AS BIGINT)) AS n2
        FROM ev GROUP BY vec_id
    ),
    dots AS (
        SELECT p.pair_class, p.doc_a, p.doc_b,
               SUM(CAST(floor(CAST(a.embedding[a.i] AS DOUBLE)
                              * CAST(b.embedding[a.i] AS DOUBLE) * 1e12)
                        AS BIGINT)) AS dot
        FROM pairs p
        JOIN ev a ON a.vec_id = p.doc_a
        JOIN ev b ON b.vec_id = p.doc_b AND b.i = a.i
        GROUP BY 1, 2, 3
    ),
    scored AS (
        SELECT d.pair_class,
               CAST(floor(CAST(d.dot AS DOUBLE)
                          / (sqrt(CAST(na.n2 AS DOUBLE))
                             * sqrt(CAST(nb.n2 AS DOUBLE)))
                          * 1000000) AS BIGINT) AS cos_micro
        FROM dots d
        JOIN nrm na ON na.vec_id = d.doc_a
        JOIN nrm nb ON nb.vec_id = d.doc_b
    )
    SELECT pair_class,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(cos_micro) // COUNT(*) AS BIGINT) AS mean_cos_micro,
           MIN(cos_micro) AS min_cos_micro,
           MAX(cos_micro) AS max_cos_micro
    FROM scored GROUP BY pair_class
    """,
)
def x68s_text_vector_consistency_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X2/X1 cross-modal QA with the sampled-shingle near-dup tier —

    x68's builder (``wave6._text_vector_consistency``: pair classes ⋈
    fixed-point cosine stats)
    with x02s as the text-pair source, so the only sf1-infeasible CTE
    (the shingle self-join) shrinks ~16x."""
    return _text_vector_consistency(
        spark, sf_dir, shingle_filter=_shingle_col_pred()
    )
