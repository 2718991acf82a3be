"""Frequency-sketch operators: Misra-Gries heavy-hitter candidates + an

exact verify pass (SURVEY §2c adjacent — the sketch tier of the
LLM-pipeline suite).

The two-pass shape is the scalable heavy-hitter design: a per-partition
Misra-Gries sketch (bounded memory, one Arrow-batched pass, NO shuffle of
raw rows) emits a candidate superset; an exact count restricted to
candidates (broadcast semi-join + one candidate-keyed aggregate) trims
false positives. Guarantee (pigeonhole): any key with global frequency
> n/k exceeds n_p/k in at least one partition, so the candidate union
is a superset of the true heavy hitters while ≤ partitions·k rows ever
leave the executors. The exact pass makes the final answer oracle-equal
to a plain GROUP BY ... HAVING — the sketch only bounds the candidate
space, exactly like the bloom prefilter (x72) and the LSH cascade (x02b).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: per-partition Misra-Gries counter budget. The superset guarantee for a
#: threshold of n/k needs k counters; thresholds relative to the mean
#: (count > mult·n/u over u distinct keys) need k ≥ u/mult. For key
#: cardinalities beyond a few million counters, switch the candidate tier
#: to count-min — the verify pass stays identical.
MG_COUNTERS = 4096


def mg_candidates(df: DataFrame, key_col: str, k: int = MG_COUNTERS) -> DataFrame:
    """Per-partition Misra-Gries: one bounded-memory pass over Arrow

    batches, emitting the surviving counter keys per partition (the
    candidate superset). Returns a 1-column DataFrame of distinct keys."""

    def sketch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for pdf in batches:
            for key, cnt in pdf[key_col].value_counts().items():
                cnt = int(cnt)
                if key in counters:
                    counters[key] += cnt
                elif len(counters) < k:
                    counters[key] = cnt
                else:
                    # decrement-all by the smallest of (cnt, min counter):
                    # the batched generalization of MG's decrement step
                    m = min(min(counters.values()), cnt)
                    cnt -= m
                    counters = {
                        ky: c - m for ky, c in counters.items() if c > m
                    }
                    if cnt > 0 and len(counters) < k:
                        counters[key] = cnt
        yield pd.DataFrame({key_col: list(counters.keys())})

    return df.select(key_col).mapInPandas(
        sketch, schema=df.select(key_col).schema
    ).distinct()


def heavy_hitters_exact(
    df: DataFrame,
    key_col: str,
    mult_num: int = 6,
    mult_den: int = 5,
    k: int = MG_COUNTERS,
) -> DataFrame:
    """Keys whose count exceeds (mult_num/mult_den)× the mean key count,

    found via MG candidates + exact verify. All-integer acceptance
    (mult_den·cnt·u > mult_num·n) so the result is engine-exact. Returns
    (key, n_events, share_ppm)."""
    cand = F.broadcast(mg_candidates(df, key_col, k))
    totals = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(key_col).alias("u"),
    ).localCheckpoint(eager=False)
    counts = (
        df.join(cand, key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .filter(
            F.col("n_events") * mult_den * F.col("u") > mult_num * F.col("n")
        )
        .select(
            key_col,
            "n_events",
            F.expr("CAST(n_events * 1000000 DIV n AS BIGINT)").alias(
                "share_ppm"
            ),
        )
    )


#: ---- HyperLogLog (engine-portable flavor) ----------------------------
#: m = 2^HLL_B registers; rank capped at HLL_RMAX (correct below
#: 2^(HLL_RMAX-1) ≈ 16M distincts per group — raise for bigger domains);
#: alpha_64 = 0.709 as the rational 709/1000 (Flajolet et al. 2007).
HLL_B = 6
HLL_M = 1 << HLL_B
HLL_RMAX = 25
HLL_ALPHA_NUM, HLL_ALPHA_DEN = 709, 1000
#: E = alpha·m²·2^RMAX DIV (alpha_den·S); numerator ≈ 9.7e13 — int64-safe.
HLL_EST_NUM = HLL_ALPHA_NUM * HLL_M * HLL_M * (1 << HLL_RMAX)
#: the md5 hex prefix is parsed to a 60-bit int; top HLL_B bits pick the
#: register, the remaining bits feed the leading-zero rank.
HLL_W_BITS = 60 - HLL_B


def bitlen_expr(w: str, bits: int) -> str:
    """Portable bit_length(w) for 0 ≤ w < 2^bits as Σ [w ≥ 2^i] — pure
    integer comparisons, no dialect bit intrinsics (both Spark SQL and
    ANSI/DuckDB evaluate the identical text)."""
    return " + ".join(
        f"(CASE WHEN {w} >= {1 << i} THEN 1 ELSE 0 END)" for i in range(bits)
    )


def hll_frags(hexparse: str, value_expr: str) -> dict[str, str]:
    """The shared HLL arithmetic, parameterized by the dialect's
    hex-string→BIGINT parse (Spark: conv(...,16,10); DuckDB: '0x'-cast)
    and the hashed value expression. Everything downstream is identical
    SQL text in both engines — that's what makes the sketch oracle-able."""
    h = hexparse.format(expr=f"md5('u:' || CAST({value_expr} AS STRING))")
    return {
        "h": h,
        "bucket": f"CAST(__h {{div}} {1 << HLL_W_BITS} AS BIGINT)",
        "w": f"__h % {1 << HLL_W_BITS}",
        "rank": (
            f"CAST(LEAST({HLL_W_BITS + 1} - ({bitlen_expr('__w', HLL_W_BITS)}),"
            f" {HLL_RMAX}) AS BIGINT)"
        ),
    }


SPARK_HEX = "CAST(conv(substring({expr}, 1, 15), 16, 10) AS BIGINT)"
DUCK_HEX = "CAST(('0x' || substr({expr}, 1, 15)) AS BIGINT)"

#: small-range (linear-counting) correction: below 2.5m the raw estimator
#: is biased high; the standard fix E = m·ln(m/V) (V = empty registers)
#: involves a log — NOT portable as runtime math, but V has only m
#: possible values, so the whole function ships as a precomputed integer
#: CASE table (both engines evaluate identical constants).
HLL_RAW_CUTOFF = 5 * HLL_M // 2
_HLL_LC_TABLE = {
    v: round(HLL_M * math.log(HLL_M / v)) for v in range(1, HLL_M)
}


def hll_final_frag(s: str, used: str, div: str) -> str:
    """Dialect-shared final-estimate expression over the harmonic sum ``s``
    and register count ``used``: linear counting when raw ≤ 2.5m and empty
    registers exist, else the raw estimate. ``div`` is the dialect's
    integer-division token (Spark ``DIV``, DuckDB ``//``)."""
    raw = f"CAST({HLL_EST_NUM} {div} ({HLL_ALPHA_DEN} * {s}) AS BIGINT)"
    case = " ".join(
        f"WHEN {v} THEN {_HLL_LC_TABLE[v]}" for v in range(1, HLL_M)
    )
    return (
        f"CASE WHEN ({HLL_M} - {used}) > 0 AND {raw} <= {HLL_RAW_CUTOFF}"
        f" THEN CAST(CASE ({HLL_M} - {used}) {case} END AS BIGINT)"
        f" ELSE {raw} END"
    )


def hll_registers(
    df: DataFrame, group_cols: list[str], value_expr: str
) -> DataFrame:
    """Per-group HLL register table (group..., bucket, reg) — the sketch

    STATE, ≤ m rows per group. MAX-mergeable: registers built on any
    partition of the data (days, tables, clusters) combine with another
    MAX over (group, bucket) — see :func:`hll_merge`.

    Cost model (count-first): the input is first reduced to its distinct
    (group..., value) pairs, and only those are hashed. MAX is
    idempotent, so the registers are bit-identical to hashing every row,
    and a skewed key hashes each value once instead of once per row. The
    value is deduplicated by its string form — exactly what the hash
    reads — so float -0.0/NaN normalisation cannot merge two values that
    hash apart. Trade-off: on a unique key the distinct step dedups
    nothing and adds one exchange of the raw values."""
    frags = hll_frags(SPARK_HEX, "__v")
    distinct = df.selectExpr(
        *group_cols, f"CAST({value_expr} AS STRING) AS __v"
    ).distinct()
    hashed = distinct.selectExpr(*group_cols, f"{frags['h']} AS __h")
    sliced = hashed.selectExpr(
        *group_cols,
        f"{frags['bucket'].format(div='DIV')} AS bucket",
        f"{frags['w']} AS __w",
    )
    return sliced.groupBy(*group_cols, "bucket").agg(
        F.expr(f"MAX({frags['rank']})").alias("reg")
    )


def hll_merge(*reg_tables: DataFrame) -> DataFrame:
    """Merge register tables built on disjoint (or overlapping — MAX is
    idempotent) slices of the data: union + MAX per (group, bucket).

    Union is BY NAME (ADVICE r6): two register tables with the same
    columns in different order — e.g. built with differently ordered
    group_cols — must align on column names, not positions; a positional
    unionAll would silently mis-merge them."""
    it = iter(reg_tables)
    unioned = next(it)
    for t in it:
        unioned = unioned.unionByName(t)
    keys = [c for c in unioned.columns if c != "reg"]
    return unioned.groupBy(*keys).agg(F.max("reg").alias("reg"))


def hll_estimate(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Raw HLL estimate from a register table, all-integer:

    S = Σ 2^(RMAX − reg) (+ 2^RMAX per empty register), E = alpha·m²·2^RMAX
    DIV (alpha_den·S). No floats anywhere ⇒ bit-reproducible across
    engines and reduction orders. Returns (group..., hll_estimate,
    n_buckets_used)."""
    summed = regs.groupBy(*group_cols).agg(
        F.expr(
            f"CAST(SUM(CAST({1 << HLL_RMAX} AS BIGINT)"
            f" DIV CAST(SHIFTLEFT(1, reg) AS BIGINT)) AS BIGINT)"
            f" + ({HLL_M} - COUNT(*)) * {1 << HLL_RMAX}"
        ).alias("s"),
        F.count(F.lit(1)).cast("long").alias("n_buckets_used"),
    )
    return summed.select(
        *group_cols,
        F.expr(hll_final_frag("s", "n_buckets_used", "DIV")).alias(
            "hll_estimate"
        ),
        "n_buckets_used",
    )


#: ---- Count-min sketch (engine-portable flavor) ------------------------
#: d hash rows × w columns; overcount ≤ e·n/w with prob 1-e^-d. Counters
#: are SUM-mergeable (across partitions, days, streams) the way HLL
#: registers are MAX-mergeable.
CMS_D = 4
CMS_W = 512


#: hex-window parse: like SPARK_HEX/DUCK_HEX but over an arbitrary
#: substring window, so d hash rows can share ONE md5 (disjoint 8-nibble
#: windows = 32 independent bits per row — one hash call instead of d;
#: measured ~2× on the sketch build at sf1).
SPARK_HEX_AT = "CAST(conv(substring({expr}, {start}, {n}), 16, 10) AS BIGINT)"
DUCK_HEX_AT = "CAST(('0x' || substr({expr}, {start}, {n})) AS BIGINT)"


def cms_col_expr(hex_at: str, value_expr: str, w: int = CMS_W) -> str:
    """Portable column index for hash row ``r`` (a column in scope): the
    r-th disjoint 8-nibble window of one md5, mod w. Identical SQL text
    in both engines except the injected hex parse. ``w`` widens the
    sketch for inner-product uses (x103), where the error bound is
    Σ|A|·Σ|B|/w instead of the point query's Σ|A|/w."""
    h = hex_at.format(
        expr=f"md5('cms:' || CAST({value_expr} AS STRING))",
        start="CAST(1 + r * 8 AS INT)",
        n=8,
    )
    return f"CAST({h} % {w} AS BIGINT)"


def cms_sketch(df: DataFrame, value_expr: str, w: int = CMS_W) -> DataFrame:
    """Build the (r, col, cnt) counter table — ≤ d·w rows total. Two
    sketches merge by summing counters.

    Cost model (count-first): the input is first reduced to one row per
    distinct value with its row count; only those rows are hashed and
    d-exploded, and each cell SUMs the counts of the values that address
    it. That is bit-identical to counting every row (a cell's count is
    the sum over its values of their multiplicities), but a key with u
    distinct values over n rows costs u hashes instead of n. The value
    is grouped by its string form — exactly what the hash reads — so
    float -0.0/NaN normalisation cannot merge two values that hash
    apart; NULL values form one group, as they form one (NULL) cell.
    Trade-off: on a unique key (u = n) the count step reduces nothing
    and adds one exchange of the raw values."""
    counted = df.groupBy(
        F.expr(f"CAST({value_expr} AS STRING)").alias("__v")
    ).agg(F.count(F.lit(1)).alias("__n"))
    # md5 hoisted ABOVE the d-explode (round 15): the per-r column index
    # reads its own disjoint hex window of the one digest
    rows = (
        counted.selectExpr("md5('cms:' || __v) AS __h", "__n")
        .selectExpr(f"explode(sequence(0, {CMS_D - 1})) AS r", "__h", "__n")
        .selectExpr(
            "r",
            "CAST("
            + SPARK_HEX_AT.format(
                expr="__h", start="CAST(1 + r * 8 AS INT)", n=8
            )
            + f" % {w} AS BIGINT) AS col",
            "__n",
        )
    )
    return rows.groupBy("r", "col").agg(F.sum("__n").cast("long").alias("cnt"))


def cms_estimate(
    sketch_df: DataFrame, keys: DataFrame, value_expr: str
) -> DataFrame:
    """Point-query the sketch for every row of ``keys``: est = MIN over

    hash rows of the addressed counter. The sketch (≤ d·w rows) is
    broadcast; the probe is map-only over the key table. Returns keys +
    ``est_count`` (≥ true count always — CMS never undercounts).

    The join is LEFT with COALESCE(cnt, 0) (ADVICE r6): a counter row is
    absent from the sketch exactly when no input value hashed there, i.e.
    that cell's count is 0 — so a never-seen key must return est_count =
    0 (MIN picks the absent cell), not silently vanish from the output
    (inner join) or over-estimate from only its present cells."""
    # md5 hoisted above the d-explode, as in cms_sketch (round 15): one
    # hash per probe key instead of one per (key, r)
    probes = (
        keys.selectExpr(
            "*", f"md5('cms:' || CAST({value_expr} AS STRING)) AS __h"
        )
        .selectExpr("*", f"explode(sequence(0, {CMS_D - 1})) AS r")
        .selectExpr(
            "*",
            "CAST("
            + SPARK_HEX_AT.format(
                expr="__h", start="CAST(1 + r * 8 AS INT)", n=8
            )
            + f" % {CMS_W} AS BIGINT) AS col",
        )
        .drop("__h")
    )
    key_cols = [c for c in keys.columns]
    return (
        probes.join(F.broadcast(sketch_df), on=["r", "col"], how="left")
        .groupBy(*key_cols)
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("long")
            .alias("est_count")
        )
    )


def cms_join_size(a_sketch: DataFrame, b_sketch: DataFrame) -> DataFrame:
    """Estimate |A ⋈ B| on the sketched key from two count-min sketches
    WITHOUT running the join: MIN over hash rows of the counter dot
    product Σ_col cntA·cntB (Cormode & Muthukrishnan 2005, AMS-style
    inner product). One-sided — never undercounts. Constant work: the
    join touches two ≤ d·w counter tables regardless of corpus size.
    Returns one row ``(est_join_size)``. Both sketches must share d and
    w (build both via :func:`cms_sketch` with the same ``w``)."""
    return (
        a_sketch.alias("a")
        .join(F.broadcast(b_sketch.alias("b")), ["r", "col"])
        .groupBy("r")
        .agg(F.sum(F.col("a.cnt") * F.col("b.cnt")).cast("long").alias("dot"))
        .agg(F.min("dot").cast("long").alias("est_join_size"))
    )


def cms_cardinality(sketch_df: DataFrame) -> DataFrame:
    """EXACT row count of the sketched input, recovered from the sketch
    alone: every hash row's counters sum to N, so Σcnt = d·N. One
    aggregate over ≤ d·w counter rows — the planner never rescans the
    table for its size statistic. Returns one row ``(n_rows)``."""
    return sketch_df.agg(
        (F.sum("cnt") / F.lit(CMS_D)).cast("long").alias("n_rows")
    )


@dataclass(frozen=True)
class JoinDecision:
    """A broadcast-vs-shuffle plan choice derived purely from sketches.

    ``strategy`` ∈ {broadcast_left, broadcast_right, shuffle};
    ``shuffle_partitions`` is set only for the shuffle strategy, sized
    from the ESTIMATED OUTPUT (never-undercounting, so an exchange sized
    from it can be too wide but never too narrow — the safe direction)."""

    strategy: str
    n_left: int
    n_right: int
    est_join_rows: int
    shuffle_partitions: int | None


def choose_join_strategy(
    left_sketch: DataFrame,
    right_sketch: DataFrame,
    *,
    broadcast_threshold_rows: int = 1_000_000,
    rows_per_task: int = 2_000_000,
    parallelism: int | None = None,
) -> JoinDecision:
    """The x103 statistic wired into an actual planning decision:
    broadcast the smaller side when its EXACT cardinality (from the
    sketch, :func:`cms_cardinality`) fits the broadcast budget, else
    shuffle with the exchange pre-sized from the estimated join output
    (the setjoin/editjoin work-sizing discipline, fed from sketches
    instead of a scan). Three bounded scalar jobs over ≤ d·w counter
    tables — the planner never touches the data.

    At 100 TB this is the decision AQE makes from runtime statistics,
    made BEFORE the first exchange: sketches are SUM-mergeable, so a
    warehouse keeps per-partition/per-day sketches as table metadata and
    answers broadcast-vs-shuffle for any join from metadata alone."""
    n_left = cms_cardinality(left_sketch).first()["n_rows"]
    n_right = cms_cardinality(right_sketch).first()["n_rows"]
    est = cms_join_size(left_sketch, right_sketch).first()["est_join_size"]
    small, which = min((n_right, "broadcast_right"), (n_left, "broadcast_left"))
    if small <= broadcast_threshold_rows:
        return JoinDecision(which, n_left, n_right, est, None)
    if parallelism is None:
        from pyspark.sql import SparkSession

        parallelism = SparkSession.getActiveSession().sparkContext.defaultParallelism
    n_part = min(32768, max(parallelism, -(-est // rows_per_task)))
    return JoinDecision("shuffle", n_left, n_right, est, int(n_part))


def apply_join_strategy(
    left: DataFrame,
    right: DataFrame,
    on,
    decision: JoinDecision,
    how: str = "inner",
) -> DataFrame:
    """Execute a join under a :class:`JoinDecision`: broadcast hint on
    the chosen side, or both sides pre-repartitioned on the join keys at
    the decision's width (Catalyst reuses the co-partitioning, so the
    join adds no further exchange and AQE cannot under-coalesce an
    output-heavy join the way it did the setjoin verify stage).

    ``on`` is a join Column expression plus, for the shuffle strategy,
    ``(left_cols, right_cols)`` key names via the ``on=(cond, lkeys,
    rkeys)`` triple; a plain Column works for broadcast decisions."""
    if decision.strategy == "broadcast_left":
        cond = on[0] if isinstance(on, tuple) else on
        return F.broadcast(left).join(right, cond, how)
    if decision.strategy == "broadcast_right":
        cond = on[0] if isinstance(on, tuple) else on
        return left.join(F.broadcast(right), cond, how)
    cond, lkeys, rkeys = on
    n = decision.shuffle_partitions
    return left.repartition(n, *[F.col(c) for c in lkeys]).join(
        right.repartition(n, *[F.col(c) for c in rkeys]), cond, how
    )


def chain_interval_estimates(
    ns: list[int], ds: list[int]
) -> dict[tuple[int, int], int]:
    """Canonical Selinger size estimate for every contiguous interval of
    a join CHAIN t0 ⋈(d0) t1 ⋈(d1) … t{k-1}: ``est[i,j]`` is the
    left-to-right fold ``ceil(prev · n_next / d_edge)`` over the
    interval. The fold order is part of the certified spec (with real
    arithmetic the product is order-independent; the stepwise integer
    ceiling makes the canonical fold the tie-free definition both
    engines reproduce — x109/x110's construction). Unbounded Python
    ints, so no 2^63 ceiling."""
    k = len(ns)
    if len(ds) != k - 1:
        raise ValueError(f"chain of {k} tables needs {k - 1} edge NDVs")
    if any(n < 0 for n in ns) or any(d < 1 for d in ds):
        raise ValueError("row counts must be >= 0 and edge NDVs >= 1")
    est: dict[tuple[int, int], int] = {}
    for i in range(k):
        e = int(ns[i])
        est[(i, i)] = e
        for j in range(i + 1, k):
            e = (e * int(ns[j]) + int(ds[j - 1]) - 1) // int(ds[j - 1])
            est[(i, j)] = e
    return est


def chain_join_order(ns: list[int], ds: list[int]) -> dict:
    """System-R join-ORDER selection for a k-table chain, generalized
    from the 3-table x109 decision: enumerate left-deep plans (every
    connected prefix of a chain is a contiguous interval, so the DP
    state is the interval — Selinger et al. 1979's enumeration
    restricted to the chain's connectivity, O(k²) states) and minimize
    the SUM of intermediate sizes (every prefix of size 2..k-1 is an
    exchange the cluster pays for; the final size is plan-invariant and
    excluded).

    Ties break toward extending on the RIGHT (the deterministic rule
    both the oracled x110 table and the pure-python brute force in
    ``tests/test_chain_order.py`` reproduce).

    Returns ``{"cost", "order", "est", "est_final"}`` where ``order`` is
    the table-index join sequence (first element = starting table) and
    ``est`` maps each charged prefix interval to its estimate."""
    k = len(ns)
    est = chain_interval_estimates(ns, ds)
    if k == 1:
        return {"cost": 0, "order": [0], "est": {}, "est_final": est[(0, 0)]}
    #: f(i,j) = min over build orders of sum(est of every prefix of size
    #: >= 2 up to AND INCLUDING [i..j]); answer subtracts the invariant
    #: full-chain term.
    f: dict[tuple[int, int], int] = {(i, i): 0 for i in range(k)}
    choice: dict[tuple[int, int], str] = {}
    for length in range(2, k + 1):
        for i in range(0, k - length + 1):
            j = i + length - 1
            via_right = f[(i, j - 1)]  # [i..j-1] extended by t_j
            via_left = f[(i + 1, j)]  # [i+1..j] extended by t_i
            if via_right <= via_left:
                f[(i, j)] = est[(i, j)] + via_right
                choice[(i, j)] = "R"
            else:
                f[(i, j)] = est[(i, j)] + via_left
                choice[(i, j)] = "L"
    # reconstruct: walk choices down from the full interval
    seq: list[int] = []
    i, j = 0, k - 1
    while i < j:
        if choice[(i, j)] == "R":
            seq.append(j)
            j -= 1
        else:
            seq.append(i)
            i += 1
    seq.append(i)
    seq.reverse()
    charged = {}
    a, b = seq[0], seq[0]
    for t in seq[1:]:
        a, b = min(a, t), max(b, t)
        if (b - a + 1) < k:
            charged[(a, b)] = est[(a, b)]
    return {
        "cost": f[(0, k - 1)] - est[(0, k - 1)],
        "order": seq,
        "est": charged,
        "est_final": est[(0, k - 1)],
    }
