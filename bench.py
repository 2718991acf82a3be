#!/usr/bin/env python
"""Benchmark harness (driver contract: one JSON line on stdout).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes its FULL plan through Spark's noop sink (no
driver-side collect, no Python transfer — pure engine time). One untimed
warm-up of a trivial query absorbs JVM/codegen startup.

Each headline query runs ``$SPARK_GRAFT_BENCH_RUNS`` (default 3) times,
round-robin across the set so JIT warm-up spreads evenly; ``queries``
reports per-query MEDIANS (sub-second deltas between rounds were shown
in round 2 to be codegen/JIT jitter — medians make them adjudicable) and
``cold_queries`` keeps the first-pass timings so the per-plan codegen
constant stays visible.

Noise model (VERDICT r12 #3: with median-of-3, sub-second queries showed
40-64% run-to-run spreads, so a real 1.3× regression was
indistinguishable from machine noise): after the base rounds, any query
cheaper than ``ADAPTIVE_CUTOFF_SEC`` whose median confidence interval is
wider than ``TARGET_CI_PCT`` gets extra round-robin samples (up to
``MAX_SAMPLES``) until the CI tightens. The reported statistic per query
is ``median_ci_pct`` — the half-width of the ~95% notched-boxplot CI of
the median, ``100 · 1.58 · IQR / √n / median`` over the WARM samples —
which SHRINKS with more reps (unlike ``spread_pct``, the raw
(max−min)/median range, which is kept for artifact continuity but grows
with sample count by construction). Adjudication rule for round-over-
round deltas: a delta is a regression signal only if it exceeds the
query's ``median_ci_pct`` in BOTH rounds' artifacts. Expensive queries
(≥ the cutoff) get their own seconds-budgeted rep pass
(``SPARK_GRAFT_BENCH_EXPENSIVE_SEC``, VERDICT r13 #3: x94/x97 showed
the largest cross-round deltas yet carried no CI) so every ≥1 s query
reports a non-null ``median_ci_pct`` too.

Fn-phase visibility (VERDICT r15 #1): the timed region is the noop
write ONLY — ``QUERIES[name].fn()`` (which may run eager
localCheckpoints, sizing ``first()``s and planner metadata collects) is
untimed, so PERF was structurally blind to roughly half of several
queries' real per-run cost (x97: ~1.3 s timed vs ~5 s honest total).
From round 16 both artifacts ADDITIVELY carry the fn phase next to the
untouched timed value: ``fn_sec``/``total_sec`` per-query maps in
BENCH_local.json, and in the stdout summary a compact ``fn_sec`` ARRAY
aligned index-for-index with the ``queries`` map's key order (a second
name-keyed map would blow the driver's ~2,000-char tail capture; the
aligned array carries all entries in ~500 chars). The timed field's
definition, the medians, the rep logic and the query set are UNCHANGED
— the series stays comparable.

Streaming micro-bench (VERDICT r15 #8): the streaming tier inherits its
operators' optimizations but had no bench to demonstrate them. After
the headline loop (so it cannot perturb the timed medians), one
availableNow file-stream run of ``stream_ingest_dedup`` over two
fixture-derived document slices is timed end-to-end and reported as the
additive ``stream_ingest_sec`` (median of 3; errors go to
``stream_ingest_error`` and never null the headline value).

Cross-harness adjudication (VERDICT r13 #2: the same commit measured
58.88 s officially and 63.22 s in the driver capture — a 7.4% spread
with no way to tell load from regression): every run times a fixed
pure-CPU calibration probe (``spark.range`` sum, no IO, no registry
code; 250M rows × 5 reps since round 15 — VERDICT r14 #2 found the
old 50M×3 probe too short to adjudicate) and records its warm median
as ``calib_sec`` plus its own CI as ``calib_ci_pct`` in BOTH the
stdout summary (the driver-consumed artifact) and BENCH_local.json.
Two artifacts are comparable only after normalizing by their calib
ratio, and only when both probes' CIs are tight (≲10%); a loaded run
is visible as an inflated ``calib_sec`` instead of masquerading as a
code regression. (Probe values are ~5× rounds ≤14 — same-definition
ratios only.) The stdout line also carries a
compact ``ci`` summary (max / weighted-avg / null-count of the
per-query CIs) so the adjudication rule can be applied to any driver
capture without cross-referencing builder notes.
"""

from __future__ import annotations

import gc
import json
import math
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from dwh_etl_framework_spark.queries import QUERIES  # noqa: E402
from dwh_etl_framework_spark.session import SessionFactory  # noqa: E402

#: Headline set: one representative per operator family (SURVEY.md §2).
#: Pruned in round 10 to keep the stdout summary line under the
#: driver's 2,000-char tail capture (test_bench_summary pins it):
#: r04/r17/r26 (stable single-op relational rows, class evidence
#: stays via r16/f19/f20), f31/f32 (sub-second f-ops benched r9;
#: temporal bench trail stays via f33/f34/f36), x100 (retrieval
#: trail stays via x102). Their history lives in BENCH_r0*.json.
#: Round-11 prune (same budget rule, after four r11 entries joined):
#: x07 (text-map class stays via x10 + the new map-only x107), x26
#: (generated calendar spine, trivial), x49 (vector class stays via
#: x05b/x62), x63 (token-stat class stays via x45/x46), x73
#: (deterministic shuffle, stable since r6), x78 (event class stays
#: via x21/x47). All six keep oracles + BENCH_r01-r10 history.
HEADLINE = [
    "r16_agg_pricing_summary",   # scan+filter+groupBy agg (flagship)
    "r14_inner_join_agg",        # multi-join + agg
    "r19_window_analytics",      # 5 window fns, shared shuffle
    "f19_merge_full",            # journal full merge
    "f20_merge_delta",           # journal delta merge (upsert)
    "r28_asof_join",             # as-of join
    "r30_tumbling_window",       # time-window agg
    "x01_exact_dedup",           # exact dedup
    "x02b_lsh_jaccard_cascade",  # LSH discovery -> exact Jaccard verify
                                 # (the scale-honest composition; the full-
                                 # corpus shingle self-join is correctness-
                                 # only, never benched)
    "x03_minhash_lsh",           # minhash+LSH near-dup discovery
    "x05b_cosine_topk_fast",     # vector top-k (double fast path)
    "x10_fingerprint",           # md5 fingerprint + group
    "x15_tfidf",                 # tf-idf scoring (explode + 3 joins)
    "x20_dedup_clusters",        # connected-components dedup clustering
    "x21_funnel",                # funnel conversion (event analytics)
    "x23_quality_report",        # data-quality gate (4 checks, one pass)
    "x24_range_join",            # interval join via bucket expansion
    "x44_sequence_pack",         # concat-and-cut packing (window cumsum)
    "x45_dup_ngram_rate",        # cross-doc duplicate 5-gram rate
    "x46_lang_vocab_confidence", # per-lang vocab coverage (broadcast probe)
    "x47_sessionize",            # 30-min-gap sessionization (lag+cumsum)
    "x50_incremental_dedup",     # batch-vs-corpus exact + cross-LSH dedup
    "x55_chunk_dedup",           # chunk-granularity exact dedup (r6)
    "x60b_containment_capped",   # df-capped containment tier (r6; the
                                 # uncapped x60 self-join is correctness-
                                 # only, the x02/x02b policy)
    "x62_centroid_confusion",    # broadcast nearest-centroid eval (r6)
    "r14b_regional_supply_chain",  # TPC-H-Q5-shaped six-table join (r6)
    "x65_source_drift_tv",       # per-source TV drift vs corpus (r6)
    "x57_mutual_knn_graph",      # kNN-graph health (r6; post lineage cut)
    "x69_bm25_topk",             # BM25 retrieval scoring (r6 wave 3)
    "x70_robust_scale",          # per-source median/MAD winsorize (r6w3)
    "x71_key_skew_profile",      # key-skew Gini report (r6w3)
    "x72_bloom_prefilter_join",  # hand-rolled bloom join prefilter (r6w3)
    "x74_image_decode",          # REAL PPM decode roundtrip (r6w3;
                                 # x75/x76 share the same two-stage
                                 # mapInPandas shape)
    "x77_knn_pagerank",          # iterative fixed-point PageRank (r6w4)
    "x81_semantic_dedup",        # SemDeDup within-cluster pair drop (r6w5)
    "x83_dsir_weights",          # DSIR importance selection (r6w5)
    "x84_hll_distinct",          # portable HLL + exact audit (r6w6)
    "x86_cms_topk",              # count-min frequency + exact audit (r6w7)
    "x87_repeated_spans",        # positional substring dedup (r6w7)
    "x88_histogram_quantiles",   # mergeable-histogram percentiles (r6w7)
    "f29_backfill_plan",         # type×hour gap detection (r6w6)
    "x89_drift_timeline",        # per-(source,month) TV drift (r7)
    "x94_prefix_filter_jaccard", # lossless prefix-filter set-sim join (r9
                                 # reshape: groupBy df + pinned-parallelism
                                 # verify; unlike x02 this IS the scale
                                 # plan, so the full corpus is benched)
                                 # x82/x85 are correctness-only: their
                                 # single-partition ntile/global-order
                                 # windows exist as oracle twins of the
                                 # range-partitioned production path
                                 # (the x02/x60 policy)
    "x99b_edit_join_values",     # distinct-first fuzzy value matching (r9;
                                 # the id-level x99 over the adversarial
                                 # constant-prefix fixture is correctness-
                                 # only — the x02/x60 policy — while the
                                 # value-level profile IS the scale plan)
    "x97_cascade_recall_audit",  # composed LSH-discovery + lossless-
                                 # verify recall audit (r9d; the round's
                                 # most expensive composition — benched
                                 # so its cost has a recorded trail)
    "x101_entity_golden_record", # fuzzy match -> CC -> golden record
                                 # (r9e; iterative CC + struct-MAX
                                 # survivorship perf trail)
    "x102_phrase_search",        # positional inverted-index phrase
                                 # query (r9f; postings join path)
    "f33_pit_join",              # fact -> SCD2 version valid at ts (r9)
    "f34_change_feed",           # net per-key changes in [T1, T2] (r9)
    "r15c_sole_blame_supplier",  # Q21-shaped double correlated subquery
                                 # decorrelation stress (r10)
    "x105_join_strategy_decision",  # sketch-driven broadcast-vs-shuffle
                                 # planner decision table (r10; cost =
                                 # the four one-pass sketch builds)
    "x103_join_size_estimate",   # CMS join-size inner product (r10
                                 # window entrant; includes exact audit)
    "x104_sorted_neighborhood_audit",  # SNM blocking recall audit (r10
                                 # window entrant)
    "r16b_small_quantity_revenue",  # Q17-shaped correlated scalar
                                 # aggregate decorrelation (r10)
    "r34_recursive_rollup",      # recursive-CTE hierarchy walk (r10)
    "f36_right_to_erasure",      # journal hard-delete rewrite + rebuild
                                 # (r10)
    "r40_shipping_priority",     # TPC-H Q3 top-k join-agg (r11)
    "r47_disjunctive_bands",     # TPC-H Q19 disjunctive join residual
                                 # (r11; the hash-join-not-nested-loop
                                 # perf trail)
    "x107_pii_luhn_redaction",   # checksum-validated PII scrub, map-only
                                 # (r11)
    "r49_variant_json",          # VARIANT parse + typed extraction (r11)
    "r49b_variant_stored",       # STORED variant: parse once at ingest,
                                 # typed access thereafter (r12; warm
                                 # runs measure pure stored access — the
                                 # cold-parse A/B vs r49 in PLANS.md)
    "x108_kcenter_coreset",      # k-center greedy coreset: k-1 literal-
                                 # center map passes + k scalar
                                 # TakeOrdereds (r12; the by-design
                                 # k-scan price gets a recorded trail)
    "x109_join_order_dp",        # System-R join-order DP over portable
                                 # counts+NDVs (r12; the statistics-tier
                                 # cost gets a recorded trail)
    "f38_metadata_join_decision",  # land both sides with sketches +
                                 # metadata-only decision (r12; the cost
                                 # is the two sketched landings — the
                                 # serving-path decision itself reads
                                 # only counter tables)
    "r53_sql_udf",               # SQL scalar+table UDF inlining (r12;
                                 # must cost the same as the inlined
                                 # query — the zero-overhead claim)
    "f39_ordered_chain_report",  # join_order step: three sketched
                                 # landings + metadata-served System-R
                                 # order driving the executed chain (r12)
    "x110_chain_order_dp",       # 4-table interval DP decision table
                                 # over portable counts+NDVs (r12)
    "f40_chain4_report",         # join_order chain form: 4-table DP
                                 # order executed from config (r12)
    "f41_zonemap_pruned_scan",   # zone-mapped landing + metadata-pruned
                                 # interval scan (r12; cost = the
                                 # fragmented landing — the pruning
                                 # decision reads ~16 metadata rows)
    "x111_zorder_pruning_gain",  # range vs Z-order layouts, 3 predicate
                                 # shapes pruned from landed metadata
                                 # (r12; two landings + six decisions)
    "x112_span_dedup_rewrite",   # repeated-span cut + corpus rebuild
                                 # (r12; the Lee-et-al rewrite pass —
                                 # whole-corpus map-side reconstruction)
    "x113s_triangle_sampled",    # degree-oriented triangle count, the
                                 # order-sampled scale tier (r12). The
                                 # full-strength x113 is correctness-
                                 # only at bench scale (the x02/x60
                                 # policy): the fixture's co-purchase
                                 # projection is DENSE (avg degree ~120
                                 # at sf0.1 -> ~72M wedges, 8.9s
                                 # measured), so the benched plan is
                                 # the sampled tier, like every other
                                 # quadratic-risk discovery op.
    "x115_support_triangles",    # the production shape: distinct-order
                                 # support gate first (edges 1.2M ->
                                 # 3.6k at sf0.1), then the same
                                 # oriented count — full strength IS
                                 # the scale plan (r12)
    "x116_cc_components",        # bounded-round label-propagation CC
                                 # over the thresholded graph (r13;
                                 # 6 join+min-combine rounds, O(edges)
                                 # each — the iterative-loop trail)
    "x118_weighted_label_prop",  # weighted LP communities over the
                                 # support-weighted graph (r14; the
                                 # argmax-per-round iterative trail —
                                 # join + SUM + struct-min per round)
    "r59_native_topk_sketch",    # native DataSketches frequent-items,
                                 # distributed accumulate/combine/
                                 # estimate path (r14 env probe)
    "r60_native_hll_ndv",        # native HLL NDV + exact audit band
                                 # (r14; the audit's COUNT DISTINCT is
                                 # the benched row-weight — production
                                 # runs the sketch alone)
    "r61_theta_set_algebra",     # theta set algebra, one-scan FILTER
                                 # sketches, exact below nominal (r14)
    "f44_xml_datasource_roundtrip",  # typed read-back of the XML file
                                 # landing (r13; warm cost = the xml
                                 # scan — the landing itself is once
                                 # per session like f04/f05). r58's
                                 # full-corpus DOUBLE decode (from_xml
                                 # AND xpath per row — the second
                                 # parse exists for certification, not
                                 # production) measured 9.9 s at sf0.1
                                 # and is correctness-tier (the
                                 # x02/x60 policy); PLANS.md records
                                 # the one-shot number.
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.replace("sf", "") or 0.1)
    spark = SessionFactory(app_name="dwh-etl-framework-spark-bench").build()
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: str) -> tuple[float, float]:
        """(fn_sec, write_sec). The TIMED value (the bench series) is the
        write span only, unchanged since r12; fn_sec is the additive
        VERDICT r15 #1 surface for the eager build phase."""
        t_fn = time.perf_counter()
        df = QUERIES[name].fn(spark, sf_dir)
        fn_sec = time.perf_counter() - t_fn
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return fn_sec, time.perf_counter() - t0

    # Warm-up (untimed): diverse NON-headline plans exercise the whole-stage
    # codegen compiler (Janino itself needs JVM JIT warm-up), parquet footer
    # caches, shuffle + broadcast machinery. Measured at sf0.1: first complex
    # plans compile ~2× slower in a cold JVM than after ~7 diverse compiles.
    # Headline plans are NOT pre-run — their own codegen stays in the timing.
    for warm in [
        "r01_projection",
        "r02b_scalar_subquery",
        "r22b_string_more",
        "r23b_date_more",
        "r18b_cube",
        "r25c_map_fns",
        "x08_quality_score",
    ]:
        try:
            QUERIES[warm].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:  # noqa: BLE001 — warm-up is best-effort
            pass

    # Calibration probe (VERDICT r13 #2): a fixed pure-CPU plan — no IO,
    # no registry code — timed right after warm-up. Its median is the
    # run's machine-speed fingerprint: two artifacts (official vs driver
    # capture, round N vs N+1) are load-comparable via their calib
    # ratio, so harness/load variance stops masquerading as regression.
    # VERDICT r14 #2: at 50M rows / 3 reps the probe was too short and
    # noisy to adjudicate cross-harness deltas (the two round-14
    # artifacts inverted its intended reading). 5× the range and 5 reps
    # make the median stable, and the probe's own spread ships beside it
    # (calib_ci_pct, same notched-CI formula as the queries) so a reader
    # can tell a load-skewed probe from a load-skewed suite.
    # Adjudication rule: two artifacts are comparable only after
    # normalizing by calib_sec, and ONLY when both runs' calib_ci_pct is
    # small (≲10%) — a wide probe CI means the machine was unstable and
    # the ratio itself is unreliable. NOTE: probe values are ~5× rounds
    # ≤14 (the range change); cross-round ratios remain valid because
    # both sides of any comparison use the same probe definition from
    # round 15 on.
    def calib_run() -> float:
        df = spark.range(250_000_000).selectExpr("sum(id * 2) AS s")
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    calib_samples = [calib_run() for _ in range(5)]
    calib_sec = round(statistics.median(calib_samples[1:]), 4)
    # same warm-sample convention as the queries: the first rep is the
    # cold pass and is dropped by median_ci_pct's len>=3 rule
    calib_ci_pct = median_ci_pct(calib_samples)

    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    # untimed-build-phase samples, index-aligned with ``samples`` (VERDICT
    # r15 #1); medians reported additively, never part of the timed value
    fn_samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    # Per-query error isolation: one broken plan must never zero the whole
    # artifact (round 4 lost its bench to a single AnalysisException). A
    # query that errors is dropped from further rounds and reported in
    # "errors" with the exception's first line.
    errors: dict[str, str] = {}
    timings: dict[str, float] = {}

    def record_error(name: str, exc: Exception) -> None:
        # (str(exc).splitlines() or [""]) — an exception with an EMPTY
        # message would otherwise IndexError inside this handler and
        # kill the whole run (review r7). Popping timings keeps the two
        # maps mutually exclusive even when a query errors only during
        # a LATER rep pass (ADVICE r13: a stale base median next to an
        # error entry reported the query as both timed and broken).
        first = (str(exc).splitlines() or [""])[0]
        errors[name] = f"{type(exc).__name__}: {first[:300]}"
        timings.pop(name, None)

    for _ in range(n_runs):
        for name in HEADLINE:
            if name in errors:
                continue
            try:
                f, w = run(name)
                fn_samples[name].append(f)
                samples[name].append(w)
            except Exception as exc:  # noqa: BLE001 — isolate, report, go on
                record_error(name, exc)
            # Release the finished plan's Python refs NOW: several queries
            # localCheckpoint intermediates, whose executor blocks are only
            # freed once ContextCleaner sees the JVM refs drop — which waits
            # on Python GC. Without this, ~200 executions accumulate storage
            # blocks and the heaviest sf1 plans slow 2-4× from memory
            # pressure (measured round 6).
            gc.collect()
    # Median over WARM runs only (drop each query's first pass when ≥3
    # samples exist): the first pass carries that plan's codegen + JIT
    # compilation — up to 3× the steady state for the heaviest plans
    # (measured round 6: x02b 4.7s cold → 1.75s warm) — and with
    # median-of-3-including-cold the reported number was the still-warming
    # 2nd run. The cold pass stays visible per query in "cold_queries".
    def warm_median(v: list[float]) -> float:
        return statistics.median(v[1:] if len(v) >= 3 else v)

    timings.update(
        (n, round(warm_median(v), 4))
        for n, v in samples.items()
        if v and n not in errors
    )
    # Outlier re-run pass (VERDICT r8 #3): a loaded machine during ONE
    # round-robin pass can inflate a handful of medians several-fold
    # (r8's official artifact had r26 at 7.9× its history; an isolated
    # re-run reproduced none of it). Any query whose median exceeds 2×
    # its previous BENCH_local value gets 3 fresh samples appended and
    # its median recomputed over ALL warm samples — a genuine regression
    # stays >2× (the fresh samples confirm it), transient load washes
    # out. Re-timed names are recorded in the artifact so a still-high
    # number is visibly a confirmed one, not a single bad pass.
    prev_path = Path(__file__).resolve().parent / "BENCH_local.json"
    try:
        prev_doc = json.loads(prev_path.read_text())
        # only same-SF history is comparable — an sf1 scale run after an
        # sf0.1 round would otherwise flag nearly every query (the ~3x
        # scale factor is not machine noise)
        prev = prev_doc.get("queries", {}) if prev_doc.get("sf") == sf else {}
    except Exception:  # first run / corrupt artifact: nothing to compare
        prev = {}
    retimed = select_outliers(timings, prev)
    for name in retimed:
        for _ in range(3):
            try:
                f, w = run(name)
                fn_samples[name].append(f)
                samples[name].append(w)
            except Exception as exc:  # noqa: BLE001 — same isolation rule
                record_error(name, exc)
                break
            gc.collect()
        if name not in errors:
            timings[name] = round(warm_median(samples[name]), 4)
    # Adaptive reps for cheap queries (see module docstring noise model):
    # round-robin extra samples over the still-noisy sub-cutoff queries so
    # their median CI tightens below TARGET_CI_PCT (or MAX_SAMPLES caps a
    # genuinely unstable plan — visible via its recorded CI, never hidden).
    # A GLOBAL budget bounds the pass's wall time: noisiest-first, so the
    # queries whose medians are least adjudicable get the reps when the
    # budget is tight (e.g. a small-SF run where everything is cheap).
    extra_budget = int(os.environ.get("SPARK_GRAFT_BENCH_EXTRA", "400"))
    for _ in range(4):  # bounded refinement passes
        if extra_budget <= 0:
            break
        # None (too few warm samples) sorts as maximally noisy; a
        # COMPUTED 0.0 must not (falsy-zero — review r13)
        def _ci(n: str) -> float:
            pct = median_ci_pct(samples[n])
            return 100.0 if pct is None else pct

        need = [
            n for n, med in timings.items()
            if n not in errors
            and med < ADAPTIVE_CUTOFF_SEC
            and len(samples[n]) < MAX_SAMPLES
            and _ci(n) > TARGET_CI_PCT
        ]
        if not need:
            break
        need.sort(key=lambda n: -_ci(n))
        for _rep in range(4):
            for name in need:
                if (
                    name in errors
                    or len(samples[name]) >= MAX_SAMPLES
                    or extra_budget <= 0
                ):
                    continue
                extra_budget -= 1
                try:
                    f, w = run(name)
                    fn_samples[name].append(f)
                    samples[name].append(w)
                except Exception as exc:  # noqa: BLE001 — same isolation
                    record_error(name, exc)
                gc.collect()
        for name in need:
            if name not in errors:
                timings[name] = round(warm_median(samples[name]), 4)

    # Expensive-tier reps (VERDICT r13 #3): queries ≥ the cutoff used to
    # keep median-of-3 and therefore a NULL CI — exactly the plans
    # (x94/x97) whose cross-round deltas were largest and least
    # adjudicable. A seconds-budgeted pass (their per-run cost is the
    # constraint, so the budget is wall time, not a rep count) first
    # brings every expensive query to the 4-warm-sample CI minimum,
    # cheapest-first so a tight budget yields the most non-null CIs,
    # then spends what remains refining the noisiest still above
    # TARGET_CI_PCT. Under-budget queries keep a visible null CI.
    exp_budget = float(
        os.environ.get("SPARK_GRAFT_BENCH_EXPENSIVE_SEC", "240")
    )
    expensive = sorted(
        (n for n, med in timings.items()
         if n not in errors and med >= ADAPTIVE_CUTOFF_SEC),
        key=lambda n: timings[n],
    )
    # Per-rep budget gate (ADVICE r14): a rep only starts when the
    # remaining budget covers the query's own last-known cost, so the
    # wall-time bound is respected within one rep instead of overshot
    # by up to a full per-run cost (a 100 s query with 1 s of budget
    # left used to run anyway). The estimate tracks the latest sample.
    est_cost = {n: timings[n] for n in expensive}
    for name in expensive:  # pass 1: reach the CI minimum
        while (
            name not in errors
            and len(samples[name]) < 1 + EXPENSIVE_MIN_WARM
            and exp_budget >= est_cost[name]
        ):
            try:
                f, t = run(name)
            except Exception as exc:  # noqa: BLE001 — same isolation
                record_error(name, exc)
                break
            fn_samples[name].append(f)
            samples[name].append(t)
            est_cost[name] = t
            exp_budget -= t
            gc.collect()
    for _ in range(4):  # pass 2: bounded refinement, noisiest-first
        if exp_budget <= 0:
            break
        noisy = [
            n for n in expensive
            if n not in errors
            and len(samples[n]) < EXPENSIVE_MAX_SAMPLES
            and (median_ci_pct(samples[n]) or 0.0) > TARGET_CI_PCT
        ]
        if not noisy:
            break
        noisy.sort(key=lambda n: -(median_ci_pct(samples[n]) or 0.0))
        for name in noisy:
            if exp_budget < est_cost[name] or name in errors:
                continue
            try:
                f, t = run(name)
            except Exception as exc:  # noqa: BLE001 — same isolation
                record_error(name, exc)
                continue
            fn_samples[name].append(f)
            samples[name].append(t)
            est_cost[name] = t
            exp_budget -= t
            gc.collect()
    for name in expensive:
        if name not in errors:
            timings[name] = round(warm_median(samples[name]), 4)

    cold = {n: round(v[0], 4) for n, v in samples.items() if v}

    # fn-phase medians (VERDICT r15 #1, additive): same warm-median
    # convention as the timed value; total = fn + write per query.
    fn_med = {
        n: round(warm_median(v), 4)
        for n, v in fn_samples.items()
        if v and n in timings
    }
    total_med = {
        n: round(fn_med.get(n, 0.0) + t, 4) for n, t in timings.items()
    }

    # streaming micro-bench (VERDICT r15 #8, additive): AFTER the headline
    # loop so it cannot perturb the timed medians. Errors are reported in
    # their own field — they must never null the headline value.
    stream_sec, stream_err = _stream_ingest_metric(spark, sf_dir)

    # Per-query spread over the warm samples (VERDICT r10 #4): the r10
    # artifact drifted +10% with no code cause and single-shot numbers
    # made noise indistinguishable from regression. (max-min)/median of
    # the warm samples, in percent — a reader (and the next round's
    # drift adjudication) can now see whether a delta vs history sits
    # inside the query's own run-to-run variance.
    def spread_pct(v: list[float]) -> float:
        w = v[1:] if len(v) >= 3 else v
        m = statistics.median(w)
        return round(100.0 * (max(w) - min(w)) / m, 1) if m > 0 else 0.0

    total = round(sum(timings.values()), 4)
    # Full-detail artifact (cold passes, raw samples, run count) goes to a
    # FILE — round 6's stdout line grew past the driver's 2,000-char tail
    # capture and BENCH_r06.json shipped with "parsed": null (VERDICT r6 #1).
    detail = {
        "metric": "headline_queries_total_wall_clock",
        "value": total if not errors else None,
        "unit": "sec",
        "queries": timings,
        "n_timed": len(timings),
        "n_headline": len(HEADLINE),
        "sf": sf,
        "runs": n_runs,
        "cold_queries": cold,
        "spread_pct": {n: spread_pct(v) for n, v in samples.items() if v},
        "median_ci_pct": {
            n: median_ci_pct(v) for n, v in samples.items() if v
        },
        "calib_sec": calib_sec,
        "calib_ci_pct": calib_ci_pct,
        "calib_samples": [round(x, 4) for x in calib_samples],
        "noise_model": (
            "median_ci_pct = 100*1.58*IQR/sqrt(n_warm)/median over warm "
            "samples (~95% notched-boxplot CI of the median); a round-"
            "over-round delta is a regression signal only if it exceeds "
            "both rounds' CIs — across harnesses, normalize both "
            "artifacts by their calib_sec (fixed pure-CPU probe) first. "
            "spread_pct is the raw warm range, kept for pre-r13 "
            "artifact continuity (grows with n by construction)."
        ),
        "retimed_outliers": retimed,
        "errors": errors,
        "raw_samples": {n: [round(x, 4) for x in v] for n, v in samples.items()},
        # additive round-16 fields (VERDICT r15 #1/#8); the timed series
        # above is untouched
        "fn_sec": fn_med,
        "total_sec": total_med,
        "fn_raw_samples": {
            n: [round(x, 4) for x in v] for n, v in fn_samples.items()
        },
        "stream_ingest_sec": stream_sec,
        "stream_ingest_error": stream_err,
    }
    Path(__file__).resolve().parent.joinpath("BENCH_local.json").write_text(
        json.dumps(detail, indent=1) + "\n"
    )
    print(
        summary_line(
            timings,
            errors,
            sf,
            len(HEADLINE),
            calib_sec=calib_sec,
            calib_ci_pct=calib_ci_pct,
            ci_by_query={
                n: median_ci_pct(v) for n, v in samples.items()
                if v and n in timings
            },
            fn_by_query=fn_med,
            stream_ingest_sec=stream_sec,
            stream_ingest_error=stream_err,
        )
    )
    spark.stop()


#: wall-clock limit of one stream micro-bench rep; a rep that exceeds it
#: is stopped and reported as ``stream_ingest_error``
STREAM_TIMEOUT_S = 300


def _stream_ingest_metric(spark, sf_dir: str) -> tuple[float | None, str | None]:
    """``(stream_ingest_sec, stream_ingest_error)``: exactly one is set.
    Any failure, a timeout included, becomes the error string."""
    try:
        return _stream_ingest_bench(spark, sf_dir), None
    except Exception as exc:  # noqa: BLE001 — additive metric, isolate
        return None, f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"


def _stream_ingest_bench(spark, sf_dir: str, reps: int = 3) -> float:
    """Timed availableNow micro-batch run of ``stream_ingest_dedup`` over
    two fixture-derived document slices (VERDICT r15 #8): 200 docs from
    the sf corpus split into two parquet files, streamed one file per
    micro-batch through the x50-shaped foreachBatch screen into a fresh
    temp-dir state. Deterministic input; median of ``reps`` end-to-end
    wall times (stream start → awaitTermination). Additive metric only —
    runs after the headline loop and never touches the timed medians."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from dwh_etl_framework_spark.streaming.ingest_dedup import (
        DedupIngestConfig,
        stream_ingest_dedup,
    )
    from dwh_etl_framework_spark.streaming.merge import StreamMasterState

    base = tempfile.mkdtemp(prefix="bench_stream_ingest_")
    try:
        docs = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text")
            .filter(F.col("doc_id") < 200)
        )
        for i, half in enumerate((docs.filter(F.col("doc_id") < 100),
                                  docs.filter(F.col("doc_id") >= 100))):
            path = f"{base}/src/slice_{i}.parquet"
            half.coalesce(1).write.mode("overwrite").parquet(path)
            # FileStreamSource orders by modification time: pin it so
            # micro-batch order == slice order on any filesystem
            for root, _, files in os.walk(path):
                for f_ in files:
                    os.utime(
                        os.path.join(root, f_), (1_000_000 + i, 1_000_000 + i)
                    )
            os.utime(path, (1_000_000 + i, 1_000_000 + i))
        times = []
        for rep in range(reps):
            rep_dir = f"{base}/rep_{rep}"
            state = StreamMasterState(spark, f"{rep_dir}/corpus")
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .option("recursiveFileLookup", True)
                .parquet(f"{base}/src")
            )
            t0 = time.perf_counter()
            q = stream_ingest_dedup(
                stream, state, f"{rep_dir}/ckpt", DedupIngestConfig()
            )
            if not q.awaitTermination(STREAM_TIMEOUT_S):
                # a still-running query must not count as a sample, nor
                # have its directories removed from under it
                q.stop()
                raise TimeoutError(
                    f"stream_ingest_dedup rep {rep} still running after "
                    f"{STREAM_TIMEOUT_S} s; stopped"
                )
            times.append(time.perf_counter() - t0)
            gc.collect()
        return round(statistics.median(times), 4)
    finally:
        shutil.rmtree(base, ignore_errors=True)


#: adaptive-repetition thresholds (module docstring noise model)
ADAPTIVE_CUTOFF_SEC = 1.0   # cheap/expensive tier split
TARGET_CI_PCT = 20.0        # stop once the median's ~95% CI is this tight
MAX_SAMPLES = 19            # 1 cold + 18 warm hard cap per cheap query
EXPENSIVE_MIN_WARM = 4      # fewest warm samples a CI can be computed on
EXPENSIVE_MAX_SAMPLES = 9   # 1 cold + 8 warm hard cap per expensive query


def median_ci_pct(v: list[float]) -> float | None:
    """~95% CI half-width of the median as % of the median, over the WARM
    samples (cold pass dropped when ≥3 exist): ``100·1.58·IQR/√n/median``
    — the notched-boxplot formula (McGill/Tukey/Larsen 1978). None when
    fewer than 4 warm samples exist (IQR needs quartiles)."""
    w = v[1:] if len(v) >= 3 else v
    m = statistics.median(w)
    if len(w) < 4 or m <= 0:
        return None
    q = statistics.quantiles(w, n=4, method="inclusive")
    return round(100.0 * 1.58 * (q[2] - q[0]) / math.sqrt(len(w)) / m, 1)


def select_outliers(
    timings: dict[str, float],
    prev: dict[str, float],
    factor: float = 2.0,
) -> list[str]:
    """Queries whose fresh median exceeds ``factor``× their previous
    BENCH_local value — the re-time set of the outlier pass. A query
    with no history (new headline entry, first run) is never an
    outlier; a zero/falsy history value is ignored the same way."""
    return [
        n for n, med in timings.items()
        if prev.get(n) and med > factor * prev[n]
    ]


def summary_line(
    timings: dict[str, float],
    errors: dict[str, str],
    sf: float,
    n_headline: int,
    budget: int = 1900,
    calib_sec: float | None = None,
    ci_by_query: dict[str, float | None] | None = None,
    calib_ci_pct: float | None = None,
    fn_by_query: dict[str, float] | None = None,
    stream_ingest_sec: float | None = None,
    stream_ingest_error: str | None = None,
) -> str:
    """Compact stdout line, guaranteed under ``budget`` chars.

    The driver keeps only the final ~2,000 chars of stdout; round 6's
    full-detail line outgrew that and shipped ``"parsed": null``. Emits
    total + per-query medians at ms precision with no whitespace, and
    degrades gracefully if the headline set ever outgrows the budget:
    first drop precision, then drop the per-query map (which survives in
    BENCH_local.json either way). ``calib_sec`` (machine-speed probe)
    and the compact ``ci`` rollup (max / total-weighted avg / null count
    of the per-query median CIs) make the driver-consumed artifact
    load-adjudicable on its own (VERDICT r13 #2)."""
    summary = {
        "metric": "headline_queries_total_wall_clock",
        # ADVICE r5: a partial total (some queries errored) must not
        # read as a full-set total — value is null unless every
        # headline query was timed; the per-query medians stay.
        "value": round(sum(timings.values()), 4) if not errors else None,
        "unit": "sec",
        "queries": {n: round(t, 3) for n, t in timings.items()},
        "n_timed": len(timings),
        "n_headline": n_headline,
        "sf": sf,
        "errors": errors,
    }
    if calib_sec is not None:
        summary["calib_sec"] = calib_sec
    if calib_ci_pct is not None:
        summary["calib_ci_pct"] = calib_ci_pct
    if ci_by_query:
        known = {
            n: c for n, c in ci_by_query.items()
            if c is not None and n in timings
        }
        wsum = sum(timings[n] for n in known)
        summary["ci"] = {
            "max_pct": round(max(known.values()), 1) if known else None,
            "wavg_pct": (
                round(sum(c * timings[n] for n, c in known.items()) / wsum, 1)
                if wsum > 0 else None
            ),
            "n_null": sum(1 for c in ci_by_query.values() if c is None),
        }
    if stream_ingest_sec is not None:
        summary["stream_ingest_sec"] = stream_ingest_sec
    if stream_ingest_error is not None:
        summary["stream_ingest_error"] = stream_ingest_error[:200]
    if fn_by_query is not None:
        # untimed fn phase for EVERY entry (VERDICT r15 #1) as an array
        # aligned index-for-index with the ``queries`` map's key order — a
        # second name-keyed map would overflow the driver's ~2,000-char
        # tail capture; full name-keyed maps live in BENCH_local.json.
        summary["fn_sec"] = [
            round(fn_by_query.get(n, 0.0), 3) for n in timings
        ]
        summary["fn_keys"] = "aligned_to_queries"
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) > budget:
        summary["queries"] = {n: round(t, 2) for n, t in timings.items()}
        line = json.dumps(summary, separators=(",", ":"))
    if len(line) > budget:
        # deciseconds before dropping the map entirely: the driver line
        # keeps per-query medians even at the 64-entry headline (full
        # precision always lives in BENCH_local.json)
        summary["queries"] = {n: round(t, 1) for n, t in timings.items()}
        line = json.dumps(summary, separators=(",", ":"))
    if len(line) > budget:
        # operator-id keys before dropping the map: every registry name is
        # "<opid>_<slug>" with a unique opid (r16, x99b, f38 — checked
        # here, full names fall through on a collision), so the 70-entry
        # headline keeps per-query medians at ms precision in ~half the
        # chars; BENCH_local.json always carries the full-name map.
        short = {n.split("_", 1)[0]: round(t, 3) for n, t in timings.items()}
        if len(short) == len(timings):
            summary["queries"] = short
            summary["query_keys"] = "opid"
            line = json.dumps(summary, separators=(",", ":"))
    if len(line) > budget and "fn_sec" in summary:
        # degrade the ADDITIVE fn array before sacrificing the timed map:
        # first to deciseconds, then a file pointer (full maps always in
        # BENCH_local.json)
        summary["fn_sec"] = [
            round(fn_by_query.get(n, 0.0), 2) for n in timings
        ]
        line = json.dumps(summary, separators=(",", ":"))
    if len(line) > budget and "fn_sec" in summary:
        summary.pop("fn_sec", None)
        summary.pop("fn_keys", None)
        summary["fn_in"] = "BENCH_local.json"
        line = json.dumps(summary, separators=(",", ":"))
    if len(line) > budget:
        summary.pop("queries", None)
        summary.pop("query_keys", None)
        summary["queries_in"] = "BENCH_local.json"
        line = json.dumps(summary, separators=(",", ":"))
    if len(line) > budget:
        # final rung (review r7): a systemic failure can populate many
        # ~330-char error entries — summarize to count + first error so
        # the line NEVER outgrows the driver's tail capture; full errors
        # stay in BENCH_local.json.
        first_err = next(iter(errors.items()), ("", ""))
        summary["errors"] = {
            "n_errors": len(errors),
            "first": f"{first_err[0]}: {first_err[1][:200]}",
            "details_in": "BENCH_local.json",
        }
        line = json.dumps(summary, separators=(",", ":"))
    return line


if __name__ == "__main__":
    main()
