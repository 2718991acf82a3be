"""Deduplication operators for LLM-scale corpora (SURVEY.md §2c X1).

A cascade of techniques, cheapest-first — the shape a 100 TB dedup actually
runs as:

1. exact duplicates       — hash-groupBy on normalized text (one shuffle);
2. n-gram Jaccard         — exact set similarity via shingle equi-join
                            (scales as sum over shingles of df², so it's the
                            *verify* stage, not the discovery stage);
3. MinHash + LSH          — discovery stage at scale: k minhashes, banded
                            into b bands of r rows; only band-collisions are
                            compared. P(candidate) ≈ 1-(1-s^r)^b;
4. SimHash                — 64-bit fingerprints with hamming-ball blocking
                            (pigeonhole over 4×16-bit chunks);
5. embedding near-dup     — random-hyperplane LSH buckets + exact cosine
                            inside buckets (see operators/similarity.py).

Everything is pure DataFrame ops: tokenize with built-ins, hash with
xxhash64 (JVM, seeded, deterministic), aggregate with groupBy — no Python
in the per-row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: modulus for the universal-hash minhash
# permutations. Small enough that a*h (< 2^62) never overflows a signed
# 64-bit long under ANSI arithmetic; 2^31 hash space is ample for minhash.
_P = (1 << 31) - 1


def normalize_text(col: Column) -> Column:
    """Whitespace-collapse + lowercase (shared by fingerprint/dedup tiers)."""
    return F.lower(F.trim(F.regexp_replace(col, " +", " ")))


def _spread(df: DataFrame) -> DataFrame:
    """Repartition a small-partition-count input up to the session's core

    count. Fixture-scale single-file inputs otherwise run every downstream
    explode/agg on one task; at corpus scale inputs already arrive in many
    splits and this is a no-op (no shuffle inserted)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def word_shingles(col: Column, n: int = 3, tokens_precomputed: bool = False) -> Column:
    """Distinct word n-gram shingles of a text column, as an array.

    ``col`` is the raw text (split here) or an already-split token array
    (``tokens_precomputed=True`` — IMPORTANT for cost: a lambda over a
    split() expression re-evaluates the split per element_at; callers that
    explode should materialize the token array as a column first, as
    shingle_table does)."""
    toks = col if tokens_precomputed else F.split(col, " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    # sequence(0, negative) would count *down*; guard short docs explicitly
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(
            F.array().cast("array<string>")
        )
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """X1 exact dedup: keep the lowest id per identical text.

    The group/shuffle key is the 16-byte md5 fingerprint of the text, not
    the text itself — at 100 TB that is the difference between shuffling
    ~16 B and ~100 KB per row. The survivor's text is recovered by joining
    the (already-reduced) survivor rows back to the input on the id, so
    full texts only ever travel alongside a fixed-width join key, and at
    scale that join's build side is the small survivor set."""
    fp = F.unhex(F.md5(F.col(text_col)))
    survivors = (
        df.groupBy(fp.alias("__fp"))
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .drop("__fp")
    )
    return survivors.join(
        df.select(id_col, text_col), on=id_col, how="inner"
    ).select(text_col, id_col, "n_copies")


def shingle_table(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle) exploded table of distinct word n-grams.

    Tokens are materialized as a column before the shingle lambda so the
    split() runs once per document, not once per element_at."""
    toks = _spread(df).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__toks")
    )
    return toks.select(
        F.col(id_col),
        F.explode(
            word_shingles(F.col("__toks"), n, tokens_precomputed=True)
        ).alias("shingle"),
    ).filter(F.col("shingle") != "")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    shingle_filter: Column | None = None,
) -> DataFrame:
    """X1 exact n-gram Jaccard similarity via shingle equi-join.

    |A∩B| comes from the self-join on shingle; |A|,|B| from per-doc counts;
    J = inter/(|A|+|B|-inter). Returns pairs (doc_a < doc_b) with J ≥
    threshold. At scale: run *after* LSH blocking, or cap shingle document
    frequency to bound the join fan-out.

    ``shingle_filter`` (optional Column predicate over ``shingle``)
    restricts the universe BEFORE counts and the self-join — Jaccard is
    then over the sampled shingle space (Broder's sketch principle: a
    deterministic hash-range sample of the shingle universe preserves
    Jaccard in expectation; identical sets still score exactly 1.0). The
    sf1 parity variants use an md5-prefix sample so DuckDB can hold the
    self-join at 100× the fixture size.
    """
    # sh feeds three consumers (counts + both join sides): materialize the
    # shingle explode once instead of recomputing it per reference
    sh = shingle_table(df, text_col, id_col, n)
    if shingle_filter is not None:
        sh = sh.filter(shingle_filter)
    sh = sh.localCheckpoint(eager=True)
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = counts.select(F.col(id_col).alias("doc_a"), F.col("n_shingles").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("doc_b"), F.col("n_shingles").alias("n_b"))
    return (
        inter.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
    )


def lsh_jaccard_cascade(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    est_threshold: float = 0.5,
    threshold: float = 0.5,
) -> DataFrame:
    """X1 discovery→verify cascade: LSH candidate pairs, then EXACT n-gram

    Jaccard computed only for those candidates — the shape a 100 TB dedup
    actually runs. The Σ·df² shingle self-join of ``ngram_jaccard_pairs``
    never touches the full corpus here: shingle sets are built only for
    docs that survived banding (left-semi join), and each candidate pair
    costs one O(|A|+|B|) ``array_intersect``, all JVM-side.

    Returns the same columns as ``ngram_jaccard_pairs``; the result is the
    subset of exact pairs that LSH recalled (recall is tunable via
    bands/rows_per_band, tested in tests/test_dedup.py).
    """
    sigs = minhash_signatures(df, text_col, id_col, n, k)
    # cands feeds THREE consumers (both halves of the cand_ids union +
    # the verify join) — without the cut Catalyst clones the whole
    # banding + est-filter pipeline per consumer (round-15 plan audit:
    # the candidate subtree appeared 3×; lazy checkpoint cut the x02b
    # write phase 1.37 s → 0.36 s at sf0.1, rows identical)
    cands = lsh_candidate_pairs(
        sigs, id_col, bands, rows_per_band, est_threshold
    ).select("doc_a", "doc_b").localCheckpoint(eager=False)
    # verify tier sees only docs that appear in some candidate pair
    cand_ids = (
        cands.select(F.col("doc_a").alias(id_col))
        .unionByName(cands.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    toks = df.join(cand_ids, on=id_col, how="left_semi").select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__toks")
    )
    sh = toks.select(
        F.col(id_col),
        F.array_remove(
            word_shingles(F.col("__toks"), n, tokens_precomputed=True), ""
        ).alias("shingles"),
    )
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_common", inter)
        .withColumn("n_a", F.size("sh_a"))
        .withColumn("n_b", F.size("sh_b"))
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
    )


def _minhash_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for k universal hashes

    h_i(x) = (a_i*x + b_i) mod P — seeded LCG, no RNG dependency."""
    params = []
    state = seed
    for _ in range(k):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (_P - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _P
        params.append((a, b))
    return params


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, k: int = 64
) -> DataFrame:
    """X1 MinHash signatures: k-wide array per document.

    Shape (round-15 rework, guide §4.1 "prefer codegen over interpreted
    expressions"): the k permutation values are computed on EXPLODED
    (doc, perm, hash) rows — whole-stage-codegen arithmetic — and reduced
    by a map-side-combinable MIN aggregate on (doc, perm), then gathered
    into the k-wide array with one tiny doc-keyed aggregate. The previous
    formulation (collect_set per doc + nested higher-order transforms)
    produced identical values but evaluated the k×|shingles| permutation
    arithmetic through ``ArrayTransform``/``ArrayMin``, which are
    CodegenFallback (interpreted) — measured 2.5× slower at sf0.1
    (1.95 s → 0.78 s). The explode is map-only (no shuffle of the ×k
    rows: partial aggregation collapses them to ~|docs-per-task|·k
    entries before the exchange), so the exchange carries |docs|·k
    narrow rows, k longs per doc — same bytes as the signature itself.
    Duplicate shingles need no pre-distinct: MIN is idempotent.
    """
    params = _minhash_params(k)
    pa = F.array(*[F.lit(a) for a, _ in params])
    pb = F.array(*[F.lit(b) for _, b in params])
    sh = shingle_table(df, text_col, id_col, n).select(
        F.col(id_col), (F.abs(F.xxhash64("shingle")) % _P).alias("h")
    )
    mins = (
        sh.select(F.col(id_col), F.posexplode(pa).alias("__perm", "__a"), "h")
        .select(
            id_col,
            "__perm",
            (
                (F.col("h") * F.col("__a") + F.element_at(pb, F.col("__perm") + 1))
                % _P
            ).alias("__v"),
        )
        .groupBy(id_col, "__perm")
        .agg(F.min("__v").alias("__v"))
    )
    signature = F.transform(
        F.array_sort(F.collect_list(F.struct("__perm", "__v"))),
        lambda s: s["__v"],
    )
    return mins.groupBy(id_col).agg(signature.alias("signature"))


def minhash_signatures_portable(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = 64,
    shingle_filter: Column | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """X1 MinHash, cross-engine-reproducible flavor: component ``i`` of the

    signature is the lexicographic MIN over the doc's shingles of
    ``md5(i || '|' || shingle)``. md5 and binary string ordering are
    engine-independent (unlike xxhash64), so an ANSI-SQL oracle can
    reproduce the ENTIRE LSH pipeline value-for-value — this is the
    oracle-checkable twin of ``minhash_signatures`` (~3× the hash cost;
    use the xxhash64 flavor in production, this one to validate it).

    Returns (id, signature: array<string>), consumable by
    ``lsh_candidate_pairs`` unchanged: band collisions only depend on
    slice EQUALITY, which md5-string and xxhash64 signatures agree on.

    ``shingle_filter`` restricts the shingle universe before the minima
    (the same Broder-sampling hook as ``ngram_jaccard_pairs`` /
    ``prefix_filter_jaccard_pairs``) so sampled sf1 twins keep every
    dedup tier on one universe.

    ``shingles`` (optional) supplies a prebuilt ``(id_col, shingle)``
    table — the composition hook shared with
    ``prefix_filter_jaccard_pairs``: a multi-tier pipeline (x97) scans
    and explodes the corpus once and feeds every tier from the same
    checkpointed table.
    """
    sh = shingles if shingles is not None else shingle_table(df, text_col, id_col, n)
    if shingle_filter is not None:
        sh = sh.filter(shingle_filter)
    # Exploded-codegen shape (round-15 rework, same rationale as
    # ``minhash_signatures``): md5 over (perm, shingle) runs per exploded
    # row under whole-stage codegen instead of inside nested
    # ArrayTransform/ArrayMin (CodegenFallback, interpreted) — measured
    # 4.6× faster at sf0.1 (5.63 s → 1.22 s), value-identical (the
    # per-(doc, perm) MIN over the same md5 strings, assembled in perm
    # order). MIN tolerates duplicate shingle rows, so no pre-distinct;
    # partial aggregation collapses the ×k explode before the exchange.
    mins = (
        sh.select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__perm"),
            F.col("shingle"),
        )
        .select(
            id_col,
            "__perm",
            F.md5(
                F.concat_ws("|", F.col("__perm").cast("string"), F.col("shingle"))
            ).alias("__m"),
        )
        .groupBy(id_col, "__perm")
        .agg(F.min("__m").alias("__m"))
    )
    sig = F.transform(
        F.array_sort(F.collect_list(F.struct("__perm", "__m"))),
        lambda s: s["__m"],
    )
    return mins.groupBy(id_col).agg(sig.alias("signature"))


def _band_table(
    signatures: DataFrame,
    id_col: str,
    bands: int,
    rows_per_band: int,
    max_bucket_size: int | None,
    bucket_observation=None,
) -> DataFrame:
    """(id, band_idx, band_hash) table for LSH joins.

    Band table WITHOUT the signature payload: the 16× band explode and the
    band join shuffle only (id, band_idx, band_hash) — 24 bytes/row —
    instead of dragging the k-wide signature array through both (the
    difference between shuffling ~100 B/doc and ~8 KB/doc at corpus scale).

    Runtime guard: slicing past the signature end would hash an EMPTY
    slice to one constant for every document — those bands degenerate to
    an all-pairs join. raise_error fires on the first row instead.
    """
    k_needed = bands * rows_per_band
    checked_sig = F.when(
        F.size(F.col("signature")) >= F.lit(k_needed), F.col("signature")
    ).otherwise(
        F.raise_error(
            F.lit(
                f"signature shorter than bands*rows_per_band={k_needed}; "
                "generate minhash_signatures with k >= that"
            )
        )
    )
    banded = signatures.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bidx: F.xxhash64(
                    F.slice(
                        checked_sig,
                        (bidx * rows_per_band + 1).cast("int"),
                        rows_per_band,
                    )
                ),
            )
        ).alias("band_idx", "band_hash"),
    )
    if max_bucket_size is not None:
        from dwh_etl_framework_spark.operators.bucket_cap import cap_bucket_size

        banded = cap_bucket_size(
            banded,
            ["band_idx", "band_hash"],
            max_bucket_size,
            observation=bucket_observation,
        )
    return banded


def _verify_candidates(
    cands: DataFrame,
    sigs_a: DataFrame,
    sigs_b: DataFrame,
    id_col: str,
    pair_cols: tuple[str, str],
    est_threshold: float,
) -> DataFrame:
    """LSH verify step shared by both candidate generators: join each
    side's signature back onto the candidate pairs (only surviving
    candidates pay the k-wide payload), estimate Jaccard as the fraction
    of matching minhashes and keep pairs at or above ``est_threshold``.

    est_jaccard divides by the ACTUAL signature length (not bands×rows):
    a k=128 signature banded as 16×4 would otherwise estimate up to 2.0."""
    a, b = pair_cols
    sig_a = sigs_a.select(F.col(id_col).alias(a), F.col("signature").alias("sig_a"))
    sig_b = sigs_b.select(F.col(id_col).alias(b), F.col("signature").alias("sig_b"))
    est = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    ).cast("double") / F.size(F.col("sig_a")).cast("double")
    return (
        cands.join(sig_a, a)
        .join(sig_b, b)
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= est_threshold)
        .select(a, b, "est_jaccard")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    bands: int = 16,
    rows_per_band: int = 4,
    est_threshold: float = 0.5,
    max_bucket_size: int | None = 5000,
    bucket_observation=None,
) -> DataFrame:
    """X1 LSH banding: explode each signature into ``bands`` band-hashes,

    self-join on (band index, band hash) → candidate pairs, then estimate
    similarity as the fraction of matching minhashes. Only candidates are
    ever compared: the all-pairs O(n²) never materializes.

    ``max_bucket_size`` guards the remaining quadratic hole: one
    degenerate ``(band_idx, band_hash)`` bucket (e.g. millions of
    identically-hashing empty docs) would still blow up as size² inside
    that key. Buckets above the cap are dropped from the join
    (``operators.bucket_cap``); pass a ``pyspark.sql.Observation`` as
    ``bucket_observation`` to read dropped_buckets/dropped_rows/
    largest_bucket after the action. ``None`` disables the cap.
    """
    # The banding range is guarded in _band_table (a k=128 signature
    # banded as 16×4 would otherwise band over only half of it). The
    # signature table is referenced three times below (band explode +
    # both candidate join-backs); materialize it once so the shingle
    # explode + hashing doesn't recompute per reference. Tiny: k longs/doc.
    signatures = signatures.localCheckpoint(eager=True)
    banded = _band_table(
        signatures,
        id_col,
        bands,
        rows_per_band,
        max_bucket_size,
        bucket_observation,
    )
    a = banded.select(F.col(id_col).alias("doc_a"), "band_idx", "band_hash")
    b = banded.select(F.col(id_col).alias("doc_b"), "band_idx", "band_hash")
    cands = (
        a.join(b, on=["band_idx", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _verify_candidates(
        cands, signatures, signatures, id_col, ("doc_a", "doc_b"), est_threshold
    )


def lsh_candidate_pairs_cross(
    corpus_sigs: DataFrame,
    batch_sigs: DataFrame,
    id_col: str,
    bands: int = 16,
    rows_per_band: int = 4,
    est_threshold: float = 0.5,
    max_bucket_size: int | None = 5000,
    bucket_observation=None,
    batch_bucket_observation=None,
    inputs_materialized: bool = False,
) -> DataFrame:
    """Incremental-ingest LSH: candidates ONLY between the existing corpus

    and the incoming batch — the dedup an ingest pipeline runs per
    increment, where batch×batch and corpus×corpus pairs are out of scope
    (the corpus is already deduped; the batch self-join is a separate,
    much smaller job). The corpus band table is the reusable "index": at
    scale it is written once, partitioned by (band_idx, band_hash), and
    every increment's (much smaller) band table shuffles against it —
    cost per increment is corpus-index-probe, not corpus-rescan.

    Returns (doc_corpus, doc_batch, est_jaccard) for estimated Jaccard ≥
    ``est_threshold``. Ids on the two sides are assumed disjoint (caller
    splits the corpus). Both band tables are bucket-capped independently:
    a degenerate key on EITHER side re-opens the quadratic hole — which is
    why BOTH sides take their own Observation (``bucket_observation`` for
    the corpus index, ``batch_bucket_observation`` for the increment): a
    silent batch-side drop would hide exactly the degeneracy the cap
    exists to surface (ADVICE r5).

    ``inputs_materialized=True`` skips the two defensive localCheckpoints
    (round 15, guide §2.4 "strictly fewer executions"): callers that
    derive both sides as narrow filters of ONE already-checkpointed
    signature table (``screen_increment`` splits one pass) were paying two
    extra eager materialization jobs that re-wrote the same rows — the
    three downstream consumers per side (band explode + signature
    join-back) re-apply only a cheap filter over the parent checkpoint.
    Default False keeps the r6 safety for callers handing in raw,
    expensive signature pipelines.
    """
    if not inputs_materialized:
        corpus_sigs = corpus_sigs.localCheckpoint(eager=True)
        batch_sigs = batch_sigs.localCheckpoint(eager=True)
    banded_c = _band_table(
        corpus_sigs, id_col, bands, rows_per_band, max_bucket_size,
        bucket_observation,
    ).select(F.col(id_col).alias("doc_corpus"), "band_idx", "band_hash")
    banded_b = _band_table(
        batch_sigs, id_col, bands, rows_per_band, max_bucket_size,
        batch_bucket_observation,
    ).select(F.col(id_col).alias("doc_batch"), "band_idx", "band_hash")
    cands = (
        banded_c.join(banded_b, on=["band_idx", "band_hash"])
        .select("doc_corpus", "doc_batch")
        .dropDuplicates(["doc_corpus", "doc_batch"])
    )
    return _verify_candidates(
        cands, corpus_sigs, batch_sigs, id_col, ("doc_corpus", "doc_batch"),
        est_threshold,
    )


def screen_increment(
    docs: DataFrame,
    is_batch: Column,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    est_threshold: float = 0.5,
    max_bucket_size: int | None = 5000,
    signatures=minhash_signatures,
) -> DataFrame:
    """Incremental-ingest dedup screen: every row of ``docs`` where
    ``is_batch`` holds is checked against the rows where it does not (the
    existing corpus). Returns the batch rows (``docs`` columns) plus
    ``dup_exact`` (its text digest occurs in the corpus), ``dup_near``
    (cross-LSH estimated Jaccard ≥ ``est_threshold`` with some corpus doc)
    and ``kept`` (neither). Batch×batch and corpus×corpus pairs are never
    formed. Ids are assumed unique within a side; a re-delivered document
    (same id on both sides) is screened like any other.

    ``is_batch`` may be an id predicate over one table (x50 splits the
    fixture by an md5 prefix of doc_id) or a side column over a
    corpus ∪ batch union (the ingest stream). Shape:

    - **One text scan.** One ``(id, side, md5(text))`` fingerprint table
      feeds both exact-tier sides, so text is read once and only 16-byte
      digests travel (the x01 digest rule). It is checkpointed lazily, so
      it materializes inside the caller's action and no work moves out
      of it (sf0.1 x50: 3.85 → 3.51 s, one fewer full-corpus read per
      increment).
    - **One signature pass, checkpointed before the split.** Signatures
      are a pure per-document function, so one pass over corpus ∪ batch
      keyed on ``(id, side)`` yields the same per-side signatures as two
      passes, while the shingle explode and the k minima (the dominant
      cost) run once. The eager checkpoint comes BEFORE the two side
      filters, which would otherwise each re-execute the pass (the x87
      fan-out rule), and lets ``lsh_candidate_pairs_cross`` skip its two
      per-side re-checkpoints (``inputs_materialized=True``).
    - **The signature flavour is the caller's.** ``signatures`` is
      ``minhash_signatures`` (xxhash64, the production flavour the ingest
      stream uses) or ``minhash_signatures_portable`` (md5, which the
      x50/x50s DuckDB oracles replay value for value).

    The band tables of both sides stay bucket-capped at
    ``max_bucket_size`` (``None`` disables the cap); the batch side's
    band table includes the batch's exact duplicates.
    """
    sided = docs.withColumn("__batch", is_batch)
    fp = sided.select(
        id_col, "__batch", F.md5(F.col(text_col)).alias("__h")
    ).localCheckpoint(eager=False)
    exact_ids = (
        fp.filter(F.col("__batch"))
        .join(fp.filter(~F.col("__batch")).select("__h").distinct(), "__h", "left_semi")
        .select(id_col)
    )
    key = F.struct(F.col(id_col).alias("id"), F.col("__batch").alias("batch"))
    sig_all = signatures(
        sided.select(key.alias("__key"), text_col), text_col, "__key", n=n, k=k
    ).localCheckpoint(eager=True)

    def _side(batch: bool) -> DataFrame:
        return sig_all.filter(F.col("__key.batch") == batch).select(
            F.col("__key.id").alias(id_col), "signature"
        )

    near_ids = (
        lsh_candidate_pairs_cross(
            _side(False), _side(True), id_col, bands=bands,
            rows_per_band=rows_per_band, est_threshold=est_threshold,
            max_bucket_size=max_bucket_size, inputs_materialized=True,
        )
        .select(F.col("doc_batch").alias(id_col))
        .distinct()
    )
    ex = exact_ids.withColumn("__ex", F.lit(True))
    nr = near_ids.withColumn("__nr", F.lit(True))
    return (
        sided.filter(F.col("__batch"))
        .join(ex, id_col, "left")
        .join(nr, id_col, "left")
        .select(
            *docs.columns,
            F.coalesce(F.col("__ex"), F.lit(False)).alias("dup_exact"),
            F.coalesce(F.col("__nr"), F.lit(False)).alias("dup_near"),
            (F.col("__ex").isNull() & F.col("__nr").isNull()).alias("kept"),
        )
    )


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """X1 SimHash: 64-bit fingerprint; bit b of the hash is the sign of

    Σ_tokens (±1 depending on bit b of xxhash64(token)). One explode over
    tokens + 64 conditional sums in a single groupBy pass, then the bits
    are reassembled into one BIGINT.
    """
    toks = _spread(df).select(
        F.col(id_col), F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok")
    ).withColumn("h", F.xxhash64("tok"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"b_{i}")
        for i in range(64)
    ]
    agg = toks.groupBy(id_col).agg(*bit_sums)
    fingerprint = None
    for i in range(64):
        bit = F.when(F.col(f"b_{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        fingerprint = term if fingerprint is None else fingerprint.bitwiseOR(term)
    return agg.select(F.col(id_col), fingerprint.alias("simhash"))


def simhash_portable_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    max_bucket_size: int | None = 5000,
    bucket_observation=None,
) -> DataFrame:
    """X1 SimHash, cross-engine-reproducible flavor: the 64 per-token bits

    come from the first 16 hex nibbles of ``md5(token)`` (4 bits each)
    instead of xxhash64, so an ANSI-SQL oracle can reproduce fingerprints,
    16-bit-chunk blocking AND hamming distances value-for-value. Same
    pigeonhole blocking as ``simhash_pairs`` (distance ≤ 3 ⇒ at least one
    of the 4 chunks identical); chunk values are assembled as plain INT
    arithmetic (Σ bit<<i ≤ 65535) — portable, no 64-bit assembly.
    """
    toks = _spread(df).select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"),
    ).withColumn("__h", F.md5(F.col("tok")))
    # nibble j (0-15) of the md5 hex prefix, as INT 0-15
    nibs = [
        F.conv(F.substring(F.col("__h"), j + 1, 1), 16, 10).cast("int")
        for j in range(16)
    ]
    # bit b = bit (b%4) of nibble (b//4); per-doc sum of (2*bit - 1)
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(nibs[b // 4], b % 4).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"b_{b}")
        for b in range(64)
    ]
    agg = toks.groupBy(id_col).agg(*bit_sums)
    bit = [
        F.when(F.col(f"b_{b}") > 0, F.lit(1)).otherwise(F.lit(0))
        for b in range(64)
    ]
    chunk_vals = [
        sum(
            (F.shiftleft(bit[16 * c + i], i) for i in range(1, 16)),
            bit[16 * c],
        ).cast("int")
        for c in range(4)
    ]
    fps = agg.select(
        F.col(id_col),
        F.array(*bit).alias("__bits"),
        F.posexplode(F.array(*chunk_vals)).alias("chunk_idx", "chunk_val"),
    )
    fps = fps.localCheckpoint(eager=True)  # 2 join consumers below
    if max_bucket_size is not None:
        from dwh_etl_framework_spark.operators.bucket_cap import cap_bucket_size

        fps = cap_bucket_size(
            fps,
            ["chunk_idx", "chunk_val"],
            max_bucket_size,
            observation=bucket_observation,
        )
    a = fps.select(
        F.col(id_col).alias("doc_a"), F.col("__bits").alias("bits_a"),
        "chunk_idx", "chunk_val",
    )
    b = fps.select(
        F.col(id_col).alias("doc_b"), F.col("__bits").alias("bits_b"),
        "chunk_idx", "chunk_val",
    )
    hamming = F.size(
        F.filter(
            F.zip_with(F.col("bits_a"), F.col("bits_b"), lambda x, y: x != y),
            lambda d: d,
        )
    )
    return (
        a.join(b, on=["chunk_idx", "chunk_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("hamming", hamming.cast("bigint"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_pairs(
    fingerprints: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    max_bucket_size: int | None = 5000,
    bucket_observation=None,
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance ≤ max_hamming, blocked on

    4×16-bit chunks (pigeonhole: distance ≤3 ⇒ some chunk is identical), so
    the comparison space is per-chunk-bucket, not all-pairs. Oversized
    ``(chunk_idx, chunk_val)`` buckets are dropped per ``max_bucket_size``
    (``operators.bucket_cap``) — the guard against one degenerate chunk
    value (e.g. a zero chunk shared by millions of short docs) going
    quadratic."""
    fingerprints = fingerprints.localCheckpoint(eager=True)  # 2 consumers
    chunks = fingerprints.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), 16 * c).bitwiseAND(F.lit(0xFFFF))
                    for c in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    if max_bucket_size is not None:
        from dwh_etl_framework_spark.operators.bucket_cap import cap_bucket_size

        chunks = cap_bucket_size(
            chunks,
            ["chunk_idx", "chunk_val"],
            max_bucket_size,
            observation=bucket_observation,
        )
    a = chunks.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sh_a"),
        "chunk_idx", "chunk_val",
    )
    b = chunks.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sh_b"),
        "chunk_idx", "chunk_val",
    )
    return (
        a.join(b, on=["chunk_idx", "chunk_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
