"""Exact set-similarity join via prefix filtering (PPJoin-lite).

The LSH tier (operators/dedup.py) trades recall for scale; this operator
is the LOSSLESS counterpart: every pair with Jaccard ≥ t is returned,
yet the all-pairs join never materializes. The prefix-filter principle
(Chaudhuri/Ganti/Kaushik SSJoin, ICDE 2006; Xiao et al. PPJoin, WWW
2008): pick any GLOBAL total order over the shingle universe, and for a
document of |d| distinct shingles keep only its first

    L(d) = |d| - ceil(t * |d|) + 1

shingles as join keys. If J(a,b) ≥ t then |a∩b| ≥ ceil(t·max(|a|,|b|)),
and a pair whose intersection is that large cannot hide entirely in the
two suffixes (each only ceil(t·|d|)-1 long) — any qualifying pair MUST
collide on at least one prefix shingle. Ordering by document frequency
ascending makes the surviving join keys exactly the LOW-fanout shingles:
the hot shingles that drive the naive self-join's Σ·df² blowup sort into
the suffixes and never become keys.

Shuffle discipline (the repo-wide digest rule): shingle text is md5'd to
a 16-byte binary immediately after the explode, so every downstream
exchange — the df count, the per-doc ranking, the candidate join, the
verify arrays — carries fixed-width digests, never n-gram text. The
order used for prefixes is (df, digest); ANY total order preserves
losslessness, so swapping the text tiebreak for the digest tiebreak
changes which prefixes are kept but not which pairs come out (the
oracle hash proves it: DuckDB runs the naive text self-join).

At 100 TB: df is one digest-keyed aggregate (map-side combinable, so
hot shingles cost a counter per map task) joined back under AQE skew
handling; prefix selection is one doc-keyed aggregate whose per-doc
arrays are bounded by doc size — no skew; the materialized prefix table keeps
the candidate self-join from re-planning that chain per side; the
candidate join fans out on rare digests only; verification joins each
candidate pair to two sorted digest arrays and intersects them in place
(linear per pair, no re-shuffle of the shingle table). Compare
``ngram_jaccard_pairs`` (reference x02 semantics, Σ·df² self-join) and
``lsh_jaccard_cascade`` (probabilistic discovery): this is the
exact-AND-scalable middle. The reference has no prefix-filter tier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators.dedup import shingle_table
from dwh_etl_framework_spark.session import run_concurrently


#: Verify-stage cost budget: digest comparisons per task. Each candidate
#: pair costs ~(n_a + n_b) ≈ 2·avg(|set|) comparisons in array_intersect,
#: so partitions = ceil(est_pairs · 2·avg_n / budget). 2M reproduces the
#: hand-tuned sf0.1 value (409k pairs × ~200 ≈ 82M work / 64 tasks ≈
#: 1.3M/task — the measured-good 6.3 s shape) while letting a 100× corpus
#: scale the exchange with its actual work instead of a static multiple
#: of cluster parallelism.
VERIFY_COMPARISONS_PER_TASK = 2_000_000


def _verify_partitions(
    est_pairs: float, avg_n: float, parallelism: int,
    budget: int = VERIFY_COMPARISONS_PER_TASK,
) -> int:
    """Cost-based verify exchange width (pure, unit-tested).

    Floored at 2×parallelism (the r9 static heuristic — never LESS
    parallel than the tuned shape) and capped at 2^15 tasks (a 32k-task
    stage is already scheduler-bound; beyond that, raise the budget)."""
    work = est_pairs * 2.0 * max(avg_n, 1.0)
    by_cost = int(-(-work // budget)) if work > 0 else 0
    return min(32768, max(parallelism * 2, by_cost))


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_prefix_df: int | None = None,
    shingle_filter: Column | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """All pairs (doc_a < doc_b) with word-n-gram Jaccard ≥ ``threshold``.

    Identical output contract to ``ngram_jaccard_pairs`` — (doc_a, doc_b,
    n_common, n_a, n_b, jaccard) — and provably the same row set (the
    prefix filter is lossless; md5-digest equality stands in for shingle
    equality, the repo-wide convention since ``exact_dedup``), which is
    exactly what the x94 oracle checks: the Spark side runs THIS plan,
    the DuckDB side runs the naive self-join, and the hashes must agree.

    ``max_prefix_df`` (optional) additionally drops prefix shingles whose
    global document frequency exceeds the cap from the CANDIDATE join
    keys only (verification is untouched). Unlike the LSH bucket cap this
    can lose pairs whose every prefix shingle is capped, so it is OFF by
    default and exists for adversarial corpora (a shingle shared by
    millions of near-identical docs) where the operator's contract is
    explicitly relaxed to "pairs discoverable under the cap".

    ``shingle_filter`` restricts the shingle universe before everything
    (same Broder-sampling hook as ``ngram_jaccard_pairs``, applied to the
    TEXT shingle so it matches the oracle's sample predicate) so the sf1
    parity twin can hold in DuckDB.

    ``shingles`` (optional) supplies a prebuilt ``(id_col, shingle)``
    table instead of deriving one from ``df`` — the composition hook: a
    pipeline running several shingle-based tiers over one corpus (x97:
    this join + the MinHash banding) scans and explodes the text ONCE
    and feeds every tier, instead of paying the corpus scan — THE
    dominant cost at 100 TB — once per tier. Callers should checkpoint
    the shared table; semantics are identical either way.
    """
    sh = shingles if shingles is not None else shingle_table(df, text_col, id_col, n)
    if shingle_filter is not None:
        sh = sh.filter(shingle_filter)
    # digest rule: 16-byte md5 replaces the n-gram text BEFORE anything
    # shuffles; this explode+hash feeds both the ranking chain and the
    # verify arrays — materialize it once (PLANS.md lineage rule)
    sh = sh.select(
        F.col(id_col), F.unhex(F.md5(F.col("shingle"))).alias("__g")
    ).localCheckpoint(eager=True)

    # global order (df ASC, digest ASC) realized per doc. df is a real
    # AGGREGATE — groupBy gives map-side partial combine, so a boilerplate
    # shingle shared by 10^8 documents costs each map task one counter,
    # not one 10^8-row window partition (the r8 Window.partitionBy("__g")
    # formulation was exactly that skewed-key single-task shuffle —
    # VERDICT r8 #2). The join back onto ``sh`` shuffles both sides on
    # __g; the aggregate's exchange is the identical subtree over the
    # checkpointed ``sh``, so ReuseExchange plans it once (the x45
    # shape), and AQE's skew-join split handles a hot digest at runtime —
    # something a window partition can never be split out of.
    dfreq = sh.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
    # per-doc prefix selection as ONE doc-keyed aggregate (round 15,
    # second pass; guide §2.4 "remove shuffles outright"): collect each
    # doc's (df, digest) pairs, array_sort realizes the (df ASC, g ASC)
    # total order per doc — struct fields compare lexicographically, so
    # this IS the former ``row_number() OVER (PARTITION BY doc ORDER BY
    # __df, __g)`` order — and ``slice(1, L)`` keeps exactly the L(d)
    # smallest. Replaces Exchange(doc)+Sort(whole partition)+Window(count)
    # +Window(row_number) with HashAggregate+Exchange(doc)+per-doc array
    # sort: same exchange bytes, no partition-wide sort, one pass instead
    # of two window evaluations. Measured 1.30 → 1.14 s at sf0.1 and
    # asserted row-identical (133 971 prefix rows equal element-for-
    # element). Per-doc arrays are bounded by doc size (no skew: the
    # former window partitioned on the same key).
    arr = (
        sh.join(dfreq, "__g")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("__df", "__g"))).alias("__a"))
    )
    n_sh = F.size("__a")
    prefix_len = (
        n_sh - F.ceil(F.lit(float(threshold)) * n_sh).cast("int") + F.lit(1)
    ).cast("int")
    # indexing-prefix length (round 16, VERDICT r15 #3; the PPJoin/
    # Vernica-et-al "mid-prefix"): for a qualifying pair the overlap is
    # c ≥ ceil(t/(1+t)·(|a|+|b|)) ≥ ceil(2t/(1+t)·|s|) for the SMALLER
    # set s, so s's occurrence of the pair's FIRST common digest (in the
    # global (df, g) order) sits within its first
    # |s| − ceil(2t/(1+t)·|s|) + 1 positions — a strictly shorter prefix
    # than the probe prefix (t=0.5: |d|/3 vs |d|/2). The candidate join
    # below only pairs a SHORT-prefix row of the (n, id)-smaller doc
    # with a full-prefix row of the larger, which cuts both the join
    # fan-out and the verify set losslessly (measured at sf0.1: 409k →
    # 276k candidates, len_ok survivors 310k → 207k, verify stage
    # 0.79 → 0.49 s, timed write 1.07 → 0.89 s winning 5/5 interleaved
    # reps; rows identical). The 1e-9 slack keeps the float ceil
    # conservative at exact-integer boundaries (2/3·n): one extra prefix
    # element instead of an unsound shorter prefix.
    short_len = (
        n_sh
        - F.ceil(
            F.lit(2.0 * float(threshold) / (1.0 + float(threshold))) * n_sh
            - F.lit(1e-9)
        ).cast("int")
        + F.lit(1)
    ).cast("int")
    pref = arr.select(
        id_col,
        n_sh.alias("__n"),
        short_len.alias("__sl"),
        F.posexplode(F.slice("__a", F.lit(1), prefix_len)).alias(
            "__pos", "__s"
        ),
    ).select(
        id_col,
        F.col("__n"),
        (F.col("__pos") < F.col("__sl")).alias("__short"),
        F.col("__s.__df").alias("__df"),
        F.col("__s.__g").alias("__g"),
    )
    if max_prefix_df is not None:
        pref = pref.filter(F.col("__df") <= max_prefix_df)

    # materialize the prefix table: the candidate join consumes it TWICE
    # (both sides of the self-join), and without the cut Spark plans the
    # whole ranking chain — df aggregate, join, doc-keyed prefix
    # aggregate — once per side (verified in the r8 plan). Prefixes are
    # (id, n, short-flag, digest) rows, ~L(d) per doc: tiny relative to
    # the shingle table, exactly the per-row-hashing-carrying subtree
    # the PLANS.md lineage rule says to checkpoint.
    pref_lazy = pref.select(id_col, "__n", "__short", "__g")

    # verify side: per-doc sorted digest arrays (the only place whole
    # documents travel, and they travel as digests). Elements are HEX
    # STRINGS of the digest, not the 16-byte binary (round-15, guide
    # §1.2 "per-task work"): ``array_intersect`` takes its hash-set
    # O(|a|+|b|) fast path only for element types with proper equals —
    # BinaryType is excluded, so binary arrays fall back to the
    # quadratic interpreted nested loop, measured 5.3× slower per pair
    # at sf0.1 (the verify stage dropped 5.8 s → 1.1 s). The 2× element
    # width is confined to this checkpointed table; every candidate-
    # generation exchange keeps the 16-byte binary key. Hex preserves
    # byte order and equality, so n_common is unchanged.
    # Materialized once: it feeds BOTH sides of the candidate join
    # (doc_a and doc_b), and without the cut the shuffle+collect_set
    # aggregate over the full digest table is planned per side.
    sets_lazy = sh.groupBy(id_col).agg(
        F.sort_array(F.collect_set(F.hex("__g"))).alias("__set"),
        F.count(F.lit(1)).alias("__n"),
    )
    # the two materializations are INDEPENDENT jobs over the same
    # checkpointed ``sh`` — submit them from two driver threads so the
    # second job's tasks back-fill executors freed by the first one's
    # tail (guide §2.6 "overlap independent jobs"; actions are only
    # sequential because driver code calls them sequentially). Measured
    # at sf0.1: the pref+sets phase drops ~0.3 s of pure tail idle;
    # composed pipelines (x97) overlap their signature tier on top of
    # this the same way.
    pref, sets = run_concurrently(
        sh.sparkSession,
        lambda: pref_lazy.localCheckpoint(eager=True),
        lambda: sets_lazy.localCheckpoint(eager=True),
    )

    # Candidate generation: SHORT-prefix rows of the (n, id)-smaller doc
    # against full-prefix rows of the larger (the indexing-prefix note
    # above). Lossless: the pair's first common digest is in the short
    # prefix of the smaller AND the probe prefix of the larger, so every
    # qualifying pair still collides at least once; the boolean order
    # predicate stays in whole-stage codegen (a struct(n, id) comparison
    # was measured 20% slower in the same A/B). This supersedes the r9
    # positional-PPJoin rejection WITHOUT re-opening it: positions are
    # not carried into the join output — one static row filter shrinks
    # the join's build input, its fan-out, and the pre-distinct pair
    # stream at once. The r9-measured facts stand: the remaining cheap
    # length filter runs in the verify stage below where it costs
    # nothing extra, and candidate count still scales linearly with
    # corpus size (276k at sf0.1 with the short prefix, was 409k).
    cand = (
        pref.filter(F.col("__short"))
        .select(
            F.col(id_col).alias("__ds"), F.col("__n").alias("__ns"), "__g"
        )
        .join(
            pref.select(
                F.col(id_col).alias("__dt"), F.col("__n").alias("__nt"), "__g"
            ),
            "__g",
        )
        .filter(
            (F.col("__ns") < F.col("__nt"))
            | (
                (F.col("__ns") == F.col("__nt"))
                & (F.col("__ds") < F.col("__dt"))
            )
        )
        .select(
            F.least("__ds", "__dt").alias("doc_a"),
            F.greatest("__ds", "__dt").alias("doc_b"),
        )
        .distinct()
    )

    # verify parallelism follows estimated WORK, not byte size: the
    # candidate table is a few MB of id pairs, so AQE's size-based
    # coalescing would shrink the verify stage to a handful of tasks
    # (measured at sf0.1: 3 tasks, 36 s) — but each pair costs
    # O(|a|+|b|) digest comparisons. Σ c·(c-1)/2 over the per-digest
    # prefix counts upper-bounds the candidate join's output (pre-
    # distinct — which is the join's actual row work), and avg(|set|)
    # prices each pair. Both scalars aggregate CHECKPOINTED tables, so
    # the two driver-side collects are one tiny job each over data the
    # stage was going to read anyway — the same bounded-artifact class
    # as the watermark scalar (plans/incremental.py). An explicit
    # numPartitions pins the exchange (AQE never coalesces a
    # user-specified repartition) and spreads the intersect work.
    # both costing scalars in ONE job (round 15): the two single-row
    # aggregates cross-join and collect together, halving the driver
    # round-trips of this sizing step (same arithmetic, same inputs)
    stats = (
        pref.groupBy("__g")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("p"))
        .crossJoin(sets.agg(F.avg("__n").alias("a")))
        .first()
    )
    est_pairs = stats["p"] or 0.0
    avg_n = stats["a"] or 0.0
    n_part = _verify_partitions(
        est_pairs, avg_n, sh.sparkSession.sparkContext.defaultParallelism
    )
    sa = sets.select(
        F.col(id_col).alias("doc_a"),
        F.col("__set").alias("__sa"),
        F.col("__n").alias("n_a"),
    )
    sb = sets.select(
        F.col(id_col).alias("doc_b"),
        F.col("__set").alias("__sb"),
        F.col("__n").alias("n_b"),
    )
    # length prefilter (SSJoin): J ≥ t ⇒ |a∩b| ≥ t·|a∪b| ≥ t·max(n_a,n_b),
    # and |a∩b| ≤ min(n_a,n_b), so min ≥ t·max for every qualifying pair.
    # The 1e-9 slack keeps the float comparison CONSERVATIVE (never drops
    # a boundary pair; the exact J ≥ t filter still runs after).
    len_ok = F.least("n_a", "n_b").cast("double") >= (
        F.greatest("n_a", "n_b").cast("double") * float(threshold) - 1e-9
    )
    verified = (
        cand.repartition(n_part, "doc_a", "doc_b")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(len_ok)
        .withColumn(
            "n_common",
            F.size(F.array_intersect("__sa", "__sb")).cast("long"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
