"""Dedup query-surface entries (X1) wired to operators/dedup.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators import dedup
from dwh_etl_framework_spark.queries.registry import fixtures, query


@query(
    "x01_exact_dedup",
    oracle="""
    SELECT text, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
)
def x01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 exact dedup via hash-groupBy: survivor = lowest doc_id per

    identical text. One shuffle; at 100 TB group on md5(text) to shrink
    shuffle payload (operators/dedup.exact_dedup docstring)."""
    t = fixtures(spark, sf_dir)
    return dedup.exact_dedup(t.documents, "text", "doc_id").select(
        "text", "doc_id", "n_copies"
    )


@query(
    "x02_ngram_jaccard",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    idx AS (
        SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        FROM toks WHERE len(t) >= 3
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM idx
    ),
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
def x02_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 exact word-3-gram Jaccard near-dup pairs (J ≥ 0.5) via shingle

    equi-join — the verify tier of the dedup cascade."""
    t = fixtures(spark, sf_dir)
    return dedup.ngram_jaccard_pairs(
        t.documents, "text", "doc_id", n=3, threshold=0.5
    )


@query("x02b_lsh_jaccard_cascade", oracle=None)
def x02b_lsh_jaccard_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 cascade: LSH discovery → exact Jaccard verify restricted to

    candidates — the scale-honest composition (the Σ·df² shingle self-join
    never runs over the full corpus). No SQL oracle (the LSH tier hashes
    with xxhash64); tests/test_dedup.py proves every returned pair appears
    in the exact x02 result with an identical jaccard value."""
    t = fixtures(spark, sf_dir)
    return dedup.lsh_jaccard_cascade(
        t.documents, "text", "doc_id", n=3, k=64, bands=16, rows_per_band=4,
        est_threshold=0.5, threshold=0.5,
    ).orderBy("doc_a", "doc_b")


@query("x03_minhash_lsh", oracle=None)
def x03_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 MinHash(k=64) + LSH(16 bands × 4 rows) candidate pairs with

    estimated Jaccard ≥ 0.5. No SQL oracle: the minhash permutations hash
    with Spark's xxhash64, which DuckDB cannot reproduce — correctness is
    covered by tests/test_dedup.py comparing LSH candidates against the
    exact x02 pairs (recall ≥ threshold) on the fixtures."""
    t = fixtures(spark, sf_dir)
    sigs = dedup.minhash_signatures(t.documents, "text", "doc_id", n=3, k=64)
    return dedup.lsh_candidate_pairs(
        sigs, "doc_id", bands=16, rows_per_band=4, est_threshold=0.5
    ).orderBy("doc_a", "doc_b")


@query(
    "x03b_minhash_lsh_portable",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    idx AS (
        SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        FROM toks WHERE len(t) >= 3
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM idx
    ),
    mins AS (
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
    est AS (
        SELECT c.doc_a, c.doc_b,
               CAST(SUM(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) AS BIGINT)
                   / 64.0 AS est_jaccard
        FROM cands c
        JOIN mins ma ON ma.doc_id = c.doc_a
        JOIN mins mb ON mb.doc_id = c.doc_b AND mb.perm = ma.perm
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b, CAST(est_jaccard AS DOUBLE) AS est_jaccard
    FROM est WHERE est_jaccard >= 0.5
    """,
)
def x03b_minhash_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 MinHash+LSH with the PORTABLE hash flavor (md5-string minima,

    operators/dedup.minhash_signatures_portable): the oracle reproduces the
    whole pipeline — shingles → 64 permutation minima → 16×4 banding →
    candidate self-join → estimated Jaccard — value-for-value, making the
    LSH discovery tier hash-checked by the driver rather than rows-only
    (the xxhash64 production twin x03 keeps its recall tests)."""
    t = fixtures(spark, sf_dir)
    sigs = dedup.minhash_signatures_portable(
        t.documents, "text", "doc_id", n=3, k=64
    )
    return dedup.lsh_candidate_pairs(
        sigs, "doc_id", bands=16, rows_per_band=4, est_threshold=0.5
    ).select("doc_a", "doc_b", "est_jaccard")


@query(
    "x04b_simhash_portable",
    oracle="""
    WITH norm AS (
        SELECT doc_id,
               lower(trim(regexp_replace(text, ' +', ' ', 'g'))) AS t
        FROM documents
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
def x04b_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 SimHash with the PORTABLE bit source (md5 hex nibbles,

    operators/dedup.simhash_portable_pairs): the oracle reproduces
    fingerprint bits, 16-bit-chunk pigeonhole blocking and hamming
    distances value-for-value, so the simhash tier is hash-checked by the
    driver rather than rows-only (the xxhash64 production twin x04 keeps
    its agreement tests)."""
    t = fixtures(spark, sf_dir)
    return dedup.simhash_portable_pairs(
        t.documents, "text", "doc_id", max_hamming=3
    )


@query("x04_simhash", oracle=None)
def x04_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 SimHash near-dup pairs (hamming ≤ 3) with 16-bit-chunk blocking.

    No SQL oracle (xxhash64-derived bits); tests/test_dedup.py checks
    agreement with exact Jaccard pairs on the fixtures."""
    t = fixtures(spark, sf_dir)
    fp = dedup.simhash(t.documents, "text", "doc_id")
    return dedup.simhash_pairs(fp, "doc_id", max_hamming=3).orderBy(
        "doc_a", "doc_b"
    )


@query(
    "x50_incremental_dedup",
    oracle="""
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
    sh AS (
        SELECT DISTINCT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM idx
    ),
    mins AS (
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
        HAVING SUM(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) / 64.0 >= 0.5
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
def x50_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 incremental-ingest dedup: the ~20% newest slice of the corpus

    (md5-threshold split, stable under growth like x30) is treated as the
    incoming batch and screened against the ~80% existing corpus — exact
    tier by text digest anti-probe, near tier by portable-minhash LSH
    restricted to corpus×batch candidates (operators/dedup.screen_increment,
    with the portable signature flavour). This is the per-increment
    shape of a crawl pipeline: cost is index-probe per batch, and
    batch×batch or corpus×corpus pairs are never generated.

    Per batch doc: dup_exact / dup_near / kept. The oracle replays the
    whole portable pipeline (split → digests → shingles → 64 md5 minima →
    16×4 bands → cross candidates → estimated Jaccard ≥ 0.5) so the
    driver hash-checks the discovery tier, not just row counts."""
    t = fixtures(spark, sf_dir)
    pfx = F.substring(
        F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 2
    )
    return dedup.screen_increment(
        t.documents.select("doc_id", "text"), pfx >= "cc", "text", "doc_id",
        signatures=dedup.minhash_signatures_portable,
    ).select("doc_id", "dup_exact", "dup_near", "kept")
