"""Round-6 wave-2 operators: embedding-space evaluation, corpus spectrum
statistics, event-rate profiling, and two surface-coverage rows.

- **x61_knn_label_eval** — leave-one-out 3-NN majority-vote label
  accuracy over a node sample of the labeled embedding set: the
  embedding-space QA a training pipeline runs before trusting vectors
  for clustering/dedup (low kNN accuracy ⇒ the space doesn't separate
  the labels it claims to encode). Reuses ``similarity.knn_join``'s
  exact fixed-point cosine graph (the x57 edge set).
- **x62_centroid_confusion** — nearest-centroid confusion matrix: each
  label's fixed-point centroid, every vector re-assigned to its nearest
  centroid, (true_label, pred_label) counts. The cheap linear-probe
  eval (and the k-means|labels cross-check for x35's trainer).
- **x63_token_spectrum** — frequency-of-frequencies over corpus tokens
  (how many distinct tokens occur exactly c times, and what fraction of
  corpus mass they carry): the Zipf/Heaps diagnostic read before
  committing a tokenizer vocab size; the c=1 row is the hapax count
  that predicts vocab-growth rate.
- **x64_event_hourly_profile** — per (event_type, hour) event counts
  with each hour's ppm share of the type's total and a peak rank: the
  load-profile/drift monitor an event warehouse materializes per load.
- **f06_jsonl_roundtrip** — JSON-lines source/sink coverage through the
  same ``SourceSpec`` path as f04/f05 (the third batch format the
  source registry declares but had no fixture-honest roundtrip for).
- **r20c_lateral_topk** — correlated LATERAL subquery surface: top-2
  most recent orders per customer expressed as a lateral join (the
  SQL-standard spelling of r20's window top-k; Catalyst decorrelates
  it into the same DomainJoin + window plan).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators import dedup, similarity
from dwh_etl_framework_spark.queries.registry import fixtures, query

#: x61: node-sample bound and k (mirrors x57's graph geometry so the two
#: QA views describe the same edge set).
EVAL_NODES = 200
EVAL_K = 3

#: x62: fixed-point scale for centroid arithmetic. 1e6 keeps the squared
#: L2 sum well inside int64 (|v|<=0.5 ⇒ term<=2.5e11, x64 dims ⇒ <2e13).
CENTROID_SCALE = 1_000_000

#: x61/x57 share the oracle-side fixed-point dot convention
#: (operators/similarity.py FIXED_POINT_SCALE).
_DOT_SCALE = "1e12"

#: Oracle CTE for the exact k-NN edge set over the node sample — the same
#: fixed-point cosine + (cosine DESC, neighbor ASC) total order
#: ``similarity.knn_join(..., exact=True)`` computes (proven hash-green by
#: x57, which uses the identical recipe).
_KNN_EDGES_CTE = f"""
    WITH ev AS (
        SELECT vec_id, label, embedding,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings WHERE vec_id < {EVAL_NODES}
    ),
    nrm AS (
        SELECT vec_id,
               SUM(CAST(floor(CAST(embedding[i] AS DOUBLE)
                              * CAST(embedding[i] AS DOUBLE) * {_DOT_SCALE})
                        AS BIGINT)) AS n2
        FROM ev GROUP BY vec_id
    ),
    dots AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               SUM(CAST(floor(CAST(q.embedding[q.i] AS DOUBLE)
                              * CAST(e.embedding[q.i] AS DOUBLE)
                              * {_DOT_SCALE}) AS BIGINT)) AS dot
        FROM ev q JOIN ev e ON e.i = q.i AND e.vec_id <> q.vec_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT query_id, neighbor_id FROM (
            SELECT d.query_id, d.neighbor_id,
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
        ) WHERE rk <= {EVAL_K}
    )
"""


@query(
    "x61_knn_label_eval",
    oracle=_KNN_EDGES_CTE
    + """
    , votes AS (
        SELECT e.query_id, l.label, CAST(COUNT(*) AS BIGINT) AS c
        FROM edges e JOIN embeddings l ON l.vec_id = e.neighbor_id
        GROUP BY 1, 2
    ),
    pred AS (
        SELECT query_id, label AS pred_label FROM (
            SELECT query_id, label,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY c DESC, label ASC
                   ) AS rk
            FROM votes
        ) WHERE rk = 1
    )
    SELECT CAST(t.label AS INTEGER) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(CASE WHEN p.pred_label = t.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN p.pred_label = t.label THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS accuracy_ppm
    FROM embeddings t JOIN pred p ON p.query_id = t.vec_id
    GROUP BY t.label
    """,
)
def x61_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 embedding-space eval: leave-one-out 3-NN majority-vote accuracy

    per label over the node sample (vec_id < 200). Vote rule is total:
    label with the most neighbor votes, ties to the smallest label — so
    predictions, and therefore all three counts, are engine-identical
    integers. Low accuracy for a label means its vectors don't cluster,
    which poisons every downstream consumer (x06 near-dup, x32 kNN join,
    x35 k-means) before any of them runs.

    Scale shape: the edge set reuses ``similarity.knn_join`` (query side
    broadcast, rank<=k lowered to WindowGroupLimit before the one
    query-keyed exchange); votes/predictions are k·|sample| rows, so
    everything after the scan is index-sized. At full scale the sample is
    a held-out eval slice, never the corpus."""
    t = fixtures(spark, sf_dir)
    nodes = t.embeddings.filter(F.col("vec_id") < EVAL_NODES)
    edges = similarity.knn_join(nodes, nodes, k=EVAL_K, exact=True).select(
        "query_id", "neighbor_id"
    )
    lab = t.embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label")
    )
    votes = (
        edges.join(lab, "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("c").desc(), F.col("label").asc()
    )
    pred = (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("query_id", F.col("label").alias("pred_label"))
    )
    truth = t.embeddings.select(
        F.col("vec_id").alias("query_id"), F.col("label")
    )
    hit = F.when(F.col("pred_label") == F.col("label"), 1).otherwise(0)
    return (
        pred.join(truth, "query_id")
        .groupBy(F.col("label").cast("int").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(hit).cast("bigint").alias("n_correct"),
        )
        .withColumn(
            "accuracy_ppm",
            F.expr("CAST(n_correct * 1000000 div n_nodes AS BIGINT)"),
        )
    )


@query(
    "x62_centroid_confusion",
    oracle=f"""
    WITH ev AS (
        SELECT vec_id, label, embedding,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings
    ),
    fp AS (
        SELECT vec_id, label, i,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * {CENTROID_SCALE})
                    AS BIGINT) AS v
        FROM ev
    ),
    cent AS (
        SELECT label AS cand_label, i,
               CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
        FROM fp GROUP BY label, i
    ),
    d AS (
        SELECT f.vec_id, f.label, c.cand_label,
               SUM((f.v - c.c) * (f.v - c.c)) AS dist
        FROM fp f JOIN cent c ON c.i = f.i
        GROUP BY 1, 2, 3
    ),
    pred AS (
        SELECT vec_id, label, cand_label,
               row_number() OVER (
                   PARTITION BY vec_id ORDER BY dist ASC, cand_label ASC
               ) AS rk
        FROM d
    )
    SELECT CAST(label AS INTEGER) AS true_label,
           CAST(cand_label AS INTEGER) AS pred_label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM pred WHERE rk = 1
    GROUP BY 1, 2
    """,
)
def x62_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 nearest-centroid confusion matrix: per-label fixed-point

    centroids (floor(mean) of 1e6-scaled components — the floor'd double
    division is IEEE-identical in both engines), every vector reassigned
    to its nearest centroid by exact integer squared-L2 with a label
    tie-break, then (true, predicted) counts. Off-diagonal mass says
    which label pairs the embedding space confuses — the linear-probe
    twin of x61's kNN eval, and the supervised cross-check for x35's
    unsupervised codebook.

    Scale shape: the centroid table is one map-side-combinable aggregate
    producing |labels|·dims rows, gathered to |labels| rows (array_sort
    on (dim, value) structs — no window); assignment is a broadcast
    crossJoin of that 10-row table with the corpus, squared-L2 in JVM
    zip_with/aggregate, and rank<=1 over (vec, 10 candidates) rows. The
    corpus shuffles once, keyed by vec_id over 10-row groups — never
    all-pairs; the confusion aggregate is |labels|² rows. Same shape as
    x49's outlier screen with an argmin instead of a threshold."""
    t = fixtures(spark, sf_dir)
    vfp = F.transform(
        "embedding",
        lambda v: F.floor(v.cast("double") * CENTROID_SCALE).cast("long"),
    )
    e = t.embeddings.select("vec_id", "label", vfp.alias("vfp"))
    dims = e.select("label", F.posexplode("vfp").alias("i", "v"))
    cent_dims = dims.groupBy("label", "i").agg(
        F.floor(F.sum("v").cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("c")
    )
    cent = cent_dims.groupBy(F.col("label").alias("cand_label")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))),
            lambda s: s.getField("c"),
        ).alias("cvec")
    )
    dist = F.aggregate(
        F.zip_with("vfp", "cvec", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = e.crossJoin(F.broadcast(cent)).withColumn("dist", dist)
    w = Window.partitionBy("vec_id").orderBy(
        F.col("dist").asc(), F.col("cand_label").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .groupBy(
            F.col("label").cast("int").alias("true_label"),
            F.col("cand_label").cast("int").alias("pred_label"),
        )
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


@query(
    "x63_token_spectrum",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    cnt AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY token
    ),
    spec AS (
        SELECT c AS occurrences, CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM cnt GROUP BY c
    ),
    tot AS (SELECT CAST(SUM(occurrences * n_tokens) AS BIGINT) AS total
            FROM spec)
    SELECT occurrences, n_tokens,
           CAST(occurrences * n_tokens * 1000000 // total AS BIGINT)
               AS mass_ppm
    FROM spec, tot
    """,
)
def x63_token_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 token frequency-of-frequencies: for each occurrence count c,

    how many distinct tokens occur exactly c times and what ppm of total
    corpus mass they carry. The Zipf/Heaps diagnostic a tokenizer-vocab
    decision reads: the c=1 row is the hapax count (vocab growth rate),
    and the cumulative mass of low-c rows bounds what a vocab cutoff
    discards. All-integer output.

    Scale shape: two map-side-combinable aggregates — token counts (the
    x27 vocabulary shuffle, digest-sized keys), then a spectrum aggregate
    over |vocab| rows; the corpus-total is a window over the tiny
    spectrum table (x58's aggregate-sized whole-table window), never a
    second corpus pass."""
    t = fixtures(spark, sf_dir)
    cnt = (
        t.documents.select(
            F.explode(F.split("text", " ")).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    spec = cnt.groupBy(F.col("c").alias("occurrences")).agg(
        F.count(F.lit(1)).alias("n_tokens")
    )
    return spec.withColumn(
        "total",
        F.sum(F.col("occurrences") * F.col("n_tokens")).over(
            Window.partitionBy()
        ),
    ).select(
        "occurrences",
        "n_tokens",
        F.expr(
            "CAST(occurrences * n_tokens * 1000000 div total AS BIGINT)"
        ).alias("mass_ppm"),
    )


@query(
    "x64_event_hourly_profile",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                   AS hour_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, hour_bucket, n_events,
           CAST(n_events * 1000000
                // SUM(n_events) OVER (PARTITION BY event_type)
                AS BIGINT) AS share_ppm,
           CAST(row_number() OVER (
                    PARTITION BY event_type
                    ORDER BY n_events DESC, hour_bucket ASC
                ) AS INTEGER) AS peak_rank
    FROM hourly
    """,
)
def x64_event_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3/R23 event load profile: per (event_type, hour) counts with each

    hour's ppm share of the type's traffic and a peak rank (1 = the
    type's busiest hour; total order via (count DESC, hour ASC)). The
    drift/anomaly monitor an event warehouse materializes per load — a
    new deploy shows up as a share_ppm spike before any dashboard reads
    the raw stream. Hour buckets ship as strings so both engines (and
    both parquet timestamp flavors) hash identically.

    Scale shape: the hourly rollup is one map-side-combinable aggregate
    ((type, hour) keys — cardinality |types|·|hours|, tiny vs the event
    count); the share and rank windows run over that rollup, partitioned
    by the aggregate's own key prefix, so the event rows themselves
    shuffle once and the windows touch only rollup-sized data."""
    t = fixtures(spark, sf_dir)
    hourly = (
        t.events.select(
            "event_type",
            F.date_format(
                F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss"
            ).alias("hour_bucket"),
        )
        .groupBy("event_type", "hour_bucket")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    wt = Window.partitionBy("event_type")
    wr = Window.partitionBy("event_type").orderBy(
        F.col("n_events").desc(), F.col("hour_bucket").asc()
    )
    return hourly.withColumn(
        "type_total", F.sum("n_events").over(wt)
    ).select(
        "event_type",
        "hour_bucket",
        "n_events",
        F.expr("CAST(n_events * 1000000 div type_total AS BIGINT)").alias(
            "share_ppm"
        ),
        F.row_number().over(wr).cast("int").alias("peak_rank"),
    )


@query(
    "f06_jsonl_roundtrip",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey FROM supplier
    """,
)
def f06_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3-adjacent JSON-lines source coverage: supplier → newline-JSON →

    back through the same ``SourceSpec`` registration path as f04 (csv)
    and f05 (orc) — the third batch format ``sources/registry.py:89``
    declares. Schema is re-inferred on read (JSON carries no types), so
    the roundtrip also exercises the inference path a landing-zone JSON
    feed would hit; integer-valued fields come back BIGINT, matching the
    parquet originals."""
    import tempfile

    from dwh_etl_framework_spark.sources.registry import SourceSpec, load_source

    t = fixtures(spark, sf_dir)
    path = f"{tempfile.gettempdir()}/dwh_etl_framework_spark_f06"
    t.supplier.select("s_suppkey", "s_name", "s_nationkey").write.mode(
        "overwrite"
    ).json(path)
    spec = SourceSpec(alias="supplier_jsonl", format="json", path=path)
    return load_source(spark, spec).select(
        "s_suppkey", "s_name", "s_nationkey"
    )


@query(
    "r20c_lateral_topk",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 2
    ) o
    WHERE c.c_custkey < 300
    """,
)
def r20c_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R20 surface variant: top-2 orders per customer spelled as a

    correlated LATERAL subquery — the SQL-standard form of r20's window
    top-k. Catalyst decorrelates the LATERAL into a DomainJoin and
    rewrites the per-customer LIMIT into the same ranked-window plan
    r20 builds by hand (PLANS.md r20: WindowGroupLimit before the
    exchange), so the declarative spelling costs nothing at scale —
    which is the point of letting the optimizer own decorrelation
    rather than hand-scheduling it."""
    fixtures(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer c, LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM orders
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 2
        ) o
        WHERE c.c_custkey < 300
        """
    )


@query(
    "r14b_regional_supply_chain",
    oracle="""
    SELECT r.r_name, n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) * 10000
                AS BIGINT) AS revenue_fp,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY r.r_name, n.n_name
    """,
)
def r14b_regional_supply_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R14 at TPC-H-Q5 shape: six-table join (region→nation→customer→

    orders→lineitem→supplier with the local-supplier correlation
    s_nationkey = c_nationkey), one-year order window, revenue per
    (region, nation). Declared as one flat DataFrame chain and left to
    Catalyst: join REORDERING is the point — the optimizer is free to
    pick the dim-first order and AQE to pick broadcast vs shuffle per
    join, which is exactly what hand-scheduling would pin wrongly at a
    different scale. Money reduction follows r16's fixed-point rule
    (DECIMAL sum, ×10⁴ BIGINT ship).

    Scale shape: region/nation/customer/supplier broadcast (all
    dim-sized); lineitem⋈orders is the single fact shuffle on orderkey;
    the final (r_name, n_name) aggregate is map-side combined. The same
    one-fact-shuffle shape as r14, with three more broadcast hops."""
    t = fixtures(spark, sf_dir)
    price = F.col("l_extendedprice").cast("decimal(14,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        t.lineitem.join(
            t.orders.filter(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1997-01-01")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            t.supplier,
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(t.nation, F.col("n_nationkey") == F.col("c_nationkey"))
        .join(t.region, F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            (F.sum(price * (F.lit(1) - disc)) * 10000)
            .cast("bigint")
            .alias("revenue_fp"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@query(
    "x65_source_drift_tv",
    oracle="""
    WITH st AS (
        SELECT source, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    c AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c_st
        FROM st GROUP BY source, token
    ),
    ns AS (
        SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM c GROUP BY source
    ),
    ct AS (
        SELECT token, CAST(SUM(c_st) AS BIGINT) AS c_t FROM c GROUP BY token
    ),
    tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n FROM ct),
    q AS (
        SELECT token, CAST(c_t * 1000000 // n AS BIGINT) AS q_ppm
        FROM ct, tot
    ),
    qtot AS (SELECT CAST(SUM(q_ppm) AS BIGINT) AS q_total FROM q),
    p AS (
        SELECT c.source, c.token,
               CAST(c.c_st * 1000000 // ns.n_s AS BIGINT) AS p_ppm
        FROM c JOIN ns ON ns.source = c.source
    ),
    per_src AS (
        SELECT p.source,
               CAST(SUM(abs(p.p_ppm - q.q_ppm)) AS BIGINT) AS present_diff,
               CAST(SUM(q.q_ppm) AS BIGINT) AS q_present
        FROM p JOIN q ON q.token = p.token
        GROUP BY p.source
    )
    SELECT s.source, ns.n_s AS n_tokens,
           CAST((s.present_diff + qtot.q_total - s.q_present) // 2
                AS BIGINT) AS tv_ppm
    FROM per_src s
    JOIN ns ON ns.source = s.source
    CROSS JOIN qtot
    """,
)
def x65_source_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 distribution drift per source: total-variation distance between

    each source's token distribution and the corpus distribution, in
    exact integer ppm — TV = ½·Σ|p−q| decomposed as
    Σ_present|p−q| + (Q_total − Σ_present q) so tokens a source never
    emits are charged without materializing the |sources|×|vocab| cross
    product. Log-free by design (the x39/x51 rule: engine log() ULP
    differences break hash parity; TV ranks drift just as well as KL for
    triage). The mix-shift monitor a curation pipeline reads per
    ingest — a source whose tv_ppm jumps changed its content mix.

    Scale shape: one corpus-proportional exchange — the (source, token)
    count, map-side combined, then localCheckpoint'd (the dedup.py:128
    lineage-cut rule): five downstream consumers (per-source totals,
    corpus token counts, two scalar totals, the p⋈q join) all read the
    materialized vocabulary-sized table instead of each re-running the
    explode+aggregate over the corpus (plan-audited: without the cut,
    Catalyst clones the whole subtree per consumer — 5 corpus scans).
    The two scalar totals ride a pinned 1-row broadcast (bucket_cap.py
    rule). The corpus text is scanned once."""
    t = fixtures(spark, sf_dir)
    c = (
        t.documents.select(
            "source", F.explode(F.split("text", " ")).alias("token")
        )
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c_st"))
        # lazy: the corpus scan must land inside the TIMED action (bench
        # times only post-construction work); reuse semantics identical
        .localCheckpoint(eager=False)
    )
    ns = c.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    ct = c.groupBy("token").agg(F.sum("c_st").alias("c_t"))
    tot = F.broadcast(ct.agg(F.sum("c_t").alias("n")))
    q = ct.crossJoin(tot).select(
        "token", F.expr("CAST(c_t * 1000000 div n AS BIGINT)").alias("q_ppm")
    )
    qtot = F.broadcast(q.agg(F.sum("q_ppm").alias("q_total")))
    p = c.join(ns, "source").select(
        "source",
        "token",
        F.expr("CAST(c_st * 1000000 div n_s AS BIGINT)").alias("p_ppm"),
    )
    per_src = (
        p.join(q, "token")
        .groupBy("source")
        .agg(
            F.sum(F.abs(F.col("p_ppm") - F.col("q_ppm"))).alias(
                "present_diff"
            ),
            F.sum("q_ppm").alias("q_present"),
        )
    )
    return (
        per_src.join(ns, "source")
        .crossJoin(qtot)
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            F.expr(
                "CAST((present_diff + q_total - q_present) div 2 AS BIGINT)"
            ).alias("tv_ppm"),
        )
    )


@query(
    "x66_split_leakage",
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
def x66_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/X3 train-eval contamination check: near-duplicate pairs (the

    x02 exact 3-gram-Jaccard ≥ 0.5 verify tier) whose two documents fall
    on DIFFERENT sides of the x30 deterministic train/val/test split —
    the leak that silently inflates every eval metric if dedup runs
    after splitting instead of before. Reported per unordered split pair
    with the pair count and the number of distinct documents involved.
    Composes two already-oracled operators, so the same md5 split rule
    and the same shingle-Jaccard tier are reused verbatim.

    Scale shape: the pair source is the contract of x02/x60 — at scale
    the LSH cascade (x02b) feeds candidate pairs and this check scores
    candidates only; the split assignment is a map-only md5 over doc_id
    joined onto pair endpoints (two digest-keyed hash joins of a
    pair-sized table). The leak aggregate is |splits|²-sized."""
    return _split_leakage(spark, sf_dir)


def _split_leakage(
    spark: SparkSession, sf_dir: str, shingle_filter: Column | None = None
) -> DataFrame:
    """x66/x66s body; ``shingle_filter`` samples the pair tier's shingle
    universe (``dedup.ngram_jaccard_pairs``)."""
    t = fixtures(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(
        t.documents, "text", "doc_id", n=3, threshold=0.5,
        shingle_filter=shingle_filter,
    ).select("doc_a", "doc_b")
    h2 = F.substring(
        F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 2
    )
    assigned = t.documents.select(
        "doc_id",
        F.when(h2 < "e6", "train")
        .when(h2 < "f3", "val")
        .otherwise("test")
        .alias("split"),
    )
    leaks = (
        pairs.join(
            assigned.select(
                F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")
            ),
            "doc_a",
        )
        .join(
            assigned.select(
                F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")
            ),
            "doc_b",
        )
        .filter(F.col("sa") != F.col("sb"))
        .select(
            "doc_a",
            "doc_b",
            F.least("sa", "sb").alias("split_lo"),
            F.greatest("sa", "sb").alias("split_hi"),
        )
        # lineage cut at the SMALL table (the x65 rule): `leaks` is a
        # pair-sized table feeding three consumers (the pair count and
        # both halves of the distinct-doc union) — uncut, each consumer
        # re-runs the shingle self-join and documents.parquet scans 6×
        # (round-6 audit).
        .localCheckpoint(eager=False)
    )
    n_pairs = leaks.groupBy("split_lo", "split_hi").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    docs = (
        leaks.select("split_lo", "split_hi", F.col("doc_a").alias("d"))
        .unionByName(
            leaks.select("split_lo", "split_hi", F.col("doc_b").alias("d"))
        )
        .groupBy("split_lo", "split_hi")
        .agg(F.countDistinct("d").alias("n_docs"))
    )
    return n_pairs.join(docs, ["split_lo", "split_hi"])


def _chunk_digests(t) -> DataFrame:
    """(doc_id, source, digest) of every x38/x55-geometry chunk —
    the shared chunking rule (32-token windows every 24, md5)."""
    from dwh_etl_framework_spark.queries.chunking_lm import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
    )

    toks = F.split("text", " ")
    starts = F.sequence(F.lit(1), F.size(toks), F.lit(CHUNK_STRIDE))
    return t.documents.select(
        "doc_id",
        "source",
        toks.alias("__w"),
        F.posexplode(starts).alias("chunk_idx", "__start"),
    ).select(
        "doc_id",
        "source",
        F.md5(
            F.array_join(
                F.slice(F.col("__w"), F.col("__start"), CHUNK_TOKENS), " "
            )
        ).alias("digest"),
    )


@query(
    "x67_cross_source_dups",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS w,
               len(string_split(text, ' ')) AS n
        FROM documents
    ),
    starts AS (
        SELECT doc_id, source, w, n,
               unnest(generate_series(1, n, 24)) AS start
        FROM toks
    ),
    chunks AS (
        SELECT doc_id, source,
               md5(array_to_string(w[start:least(start + 31, n)], ' '))
                   AS digest
        FROM starts
    ),
    g AS (
        SELECT digest, source, CAST(COUNT(*) AS BIGINT) AS c
        FROM chunks GROUP BY digest, source
    ),
    dup AS (
        SELECT digest FROM g GROUP BY digest
        HAVING SUM(c) >= 2
    ),
    m AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CASE WHEN a.source < b.source THEN a.c * b.c
                    ELSE a.c * (a.c - 1) // 2 END AS np
        FROM g a
        JOIN g b ON b.digest = a.digest AND a.source <= b.source
        JOIN dup d ON d.digest = a.digest
    )
    SELECT source_a, source_b,
           CAST(SUM(np) AS BIGINT) AS n_dup_pairs
    FROM m GROUP BY source_a, source_b
    HAVING SUM(np) > 0
    """,
)
def x67_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 duplication provenance matrix at CHUNK granularity: duplicated-

    chunk PAIR counts per unordered source pair (x55's 32-token/24-stride
    md5 geometry) — which sources share boilerplate blocks (off-diagonal
    mass: syndication/scrape/template overlap, dedup them jointly) vs
    which self-repeat (diagonal: c·(c−1)/2 within-source copy pairs). The
    routing table for where dedup effort pays, read before choosing
    per-source vs global passes. Chunk-level rather than whole-document
    (x01) because document-exact cross-source copies are rare while
    shared boilerplate is pervasive — and the fixtures reflect exactly
    that (35 duplicated chunks vs 0 duplicated documents at sf0.01).

    Scale shape: the x01 digest rule at chunk granularity — chunking is
    map-only (x38), only 32-char digests shuffle into the (digest,
    source) group; the self-join runs on the GROUP table (per-key
    fan-out ≤ |sources|), so all-pairs arithmetic happens on counts,
    never on materialized chunk pairs. The final aggregate is
    |sources|²-sized."""
    t = fixtures(spark, sf_dir)
    ch = _chunk_digests(t)
    # lineage cut (the x65 rule): g feeds three consumers (dup filter +
    # both join sides) — without it Catalyst clones the chunk explode
    # per consumer and the corpus text scans 4× (plan-audited round 6)
    g = (
        ch.groupBy("digest", "source")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    dup = (
        g.groupBy("digest")
        .agg(F.sum("c").alias("tot"))
        .filter(F.col("tot") >= 2)
        .select("digest")
    )
    g = g.join(dup, "digest", "left_semi")
    a = g.select(
        "digest", F.col("source").alias("source_a"), F.col("c").alias("ca")
    )
    b = g.select(
        "digest", F.col("source").alias("source_b"), F.col("c").alias("cb")
    )
    m = (
        a.join(b, "digest")
        .filter(F.col("source_a") <= F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            F.when(
                F.col("source_a") < F.col("source_b"),
                F.col("ca") * F.col("cb"),
            )
            .otherwise(F.expr("ca * (ca - 1) div 2"))
            .alias("np"),
        )
    )
    return (
        m.groupBy("source_a", "source_b")
        .agg(F.sum("np").cast("bigint").alias("n_dup_pairs"))
        .filter(F.col("n_dup_pairs") > 0)
    )


#: x60b: document-frequency cap for the shingle blocking key — a shingle
#: shared by more than this many docs is boilerplate, not evidence of
#: pairwise duplication; dropping it bounds the self-join at O(cap²) per
#: shingle (the bucket_cap rule applied to the shingle key).
SHINGLE_DF_CAP = 64


@query("x60b_containment_capped", oracle=None)
def x60b_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 the BENCHED containment tier: x60's asymmetric |A∩B|/|A| with

    the shingle self-join bounded by a document-frequency cap
    (``cap_bucket_size`` on the shingle key, the same guard every LSH
    tier here uses) — the shape a 100 TB containment scan actually runs,
    where the uncapped Σ·df² join of x60 is correctness-only (the exact
    x02/x60 contract). Denominators (per-doc shingle counts) stay EXACT
    — only the intersection is computed over capped shingles, so the
    reported containment is a lower bound that equals the exact value
    whenever no common shingle exceeds the cap. No SQL oracle (the cap
    makes the result definitionally a subset); tests/test_wave6.py
    proves (a) cap=∞ reproduces x60 exactly and (b) the capped result is
    a pairwise subset with ppm ≤ the exact ppm.

    Scale shape: one shingle-keyed exchange for the df-count + broadcast
    anti-join of oversized keys (map-side, before the join's shuffle —
    the bucket_cap plan), then the bounded self-join; sizes come from the
    same checkpointed shingle table, never a second corpus pass."""
    t = fixtures(spark, sf_dir)
    return containment_capped(t.documents)


def containment_capped(
    documents: DataFrame,
    max_bucket_size: int | None = None,
    observation=None,
) -> DataFrame:
    """x60b's operator body, parameterized so a production caller (or the

    drop-metrics test) can pass its own cap and a ``pyspark.sql.
    Observation`` — dropped_buckets/dropped_rows/largest_bucket resolve
    after the first action, per the bucket_cap contract. The registry
    query uses the defaults."""
    from dwh_etl_framework_spark.operators.bucket_cap import cap_bucket_size
    from dwh_etl_framework_spark.queries.round6_ops import (
        CONTAIN_MIN_PPM,
        CONTAIN_MIN_SHINGLES,
    )

    sh = dedup.shingle_table(documents, "text", "doc_id", n=5)
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    capped = cap_bucket_size(
        sh,
        ["shingle"],
        max_bucket_size=max_bucket_size or SHINGLE_DF_CAP,
        observation=observation,
    )
    a = capped.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = capped.select(F.col("doc_id").alias("doc_b"), "shingle")
    ov = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), "n_sh")
    return (
        ov.join(sa, "doc_a")
        .filter(F.col("n_sh") >= CONTAIN_MIN_SHINGLES)
        .withColumn(
            "containment_ppm",
            F.expr("CAST(n_common * 1000000 div n_sh AS BIGINT)"),
        )
        .filter(F.col("containment_ppm") >= CONTAIN_MIN_PPM)
        .select("doc_a", "doc_b", "n_common", "containment_ppm")
    )


#: x68: fixed-point output scale for cosine stats (micro-units).
COS_MICRO = 1_000_000


@query(
    "x68_text_vector_consistency",
    oracle=f"""
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
                          * {COS_MICRO}) AS BIGINT) AS cos_micro
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
def x68_text_vector_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2/X1 cross-modal QA: exact fixed-point cosine statistics for

    text-near-duplicate pairs (x02's J ≥ 0.5 tier, vec_id = doc_id) vs a
    deterministic adjacent-id control group. If the embedding space is
    any good, near-dup text pairs must score far above the control — if
    they don't, embedding-based dedup (x06) and ANN retrieval are
    operating on noise, and this two-row report catches it before either
    runs. All outputs are exact integers (per-pair cosine floored to
    micro-units, mean via integer division).

    Scale shape: the near-dup pair list comes from the dedup cascade at
    scale (the x60/x66 contract); embeddings join the pair list by id —
    two broadcast-able hash joins of a pair-sized table against the
    vector store, dot products JVM-side via the shared fixed-point
    ``similarity.cosine(exact=True)`` expression. The stats aggregate is
    2 rows."""
    return _text_vector_consistency(spark, sf_dir)


def _text_vector_consistency(
    spark: SparkSession, sf_dir: str, shingle_filter: Column | None = None
) -> DataFrame:
    """x68/x68s body; ``shingle_filter`` samples the near-dup tier's
    shingle universe (``dedup.ngram_jaccard_pairs``)."""
    t = fixtures(spark, sf_dir)
    dup = dedup.ngram_jaccard_pairs(
        t.documents, "text", "doc_id", n=3, threshold=0.5,
        shingle_filter=shingle_filter,
    ).select("doc_a", "doc_b", F.lit("near_dup").alias("pair_class"))
    ids = t.embeddings.select("vec_id")
    ctrl = (
        t.embeddings.filter(F.col("vec_id") % 2 == 0)
        .select(
            F.col("vec_id").alias("doc_a"),
            (F.col("vec_id") + 1).alias("doc_b"),
        )
        .join(ids.select(F.col("vec_id").alias("doc_b")), "doc_b", "left_semi")
        .select("doc_a", "doc_b", F.lit("adjacent_control").alias("pair_class"))
    )
    pairs = dup.unionByName(ctrl)
    ea = t.embeddings.select(
        F.col("vec_id").alias("doc_a"), F.col("embedding").alias("__va")
    )
    eb = t.embeddings.select(
        F.col("vec_id").alias("doc_b"), F.col("embedding").alias("__vb")
    )
    scored = (
        pairs.join(ea, "doc_a")
        .join(eb, "doc_b")
        .withColumn(
            "cos_micro",
            F.floor(
                similarity.cosine(F.col("__va"), F.col("__vb"), exact=True)
                * COS_MICRO
            ).cast("bigint"),
        )
    )
    return scored.groupBy("pair_class").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.expr("CAST(sum(cos_micro) div count(1) AS BIGINT)").alias(
            "mean_cos_micro"
        ),
        F.min("cos_micro").alias("min_cos_micro"),
        F.max("cos_micro").alias("max_cos_micro"),
    )
