"""Zone-map metadata at sink time: land a fragmented table plus per-fragment
min/max statistics, then serve interval-predicate scans that open ONLY the
overlapping fragments.

This is the third landed-metadata tier next to ``_sketches/`` (CMS join
cardinality) and its HLL NDV companion (``sources/sinks.py``): the sink pays
one aggregation to record, per fragment, ``min``/``max`` of the declared
stats columns; a pruned read then makes its file-selection decision from ONE
tiny metadata read — at 100 TB the driver never even LISTS the skipped
fragments, let alone opens their footers. Delta/Iceberg data skipping is the
public design being re-expressed here on bare parquet (their docs/spec);
Spark's own parquet row-group min/max pushdown still applies INSIDE each
fragment that survives.

Consistency contract: a zone map that MISSES a data fragment — or carries a
STALE row whose min/max no longer bound the fragment — would silently drop
rows from pruned scans, worse than the sketch tier's undercount. Two guards
make every failure loud:

- :func:`read_table_pruned` refuses unless the map's fragment set EXACTLY
  matches the data directory's. The bulk landing is overwrite-only and
  writes the map LAST: a crash leaves either no map or a partial map
  (subset ⇒ set mismatch) — both loud.
- :func:`land_fragment_with_zonemap` (the incremental re-land, the
  ``write_partition_with_sketches`` protocol) brackets its non-atomic span
  — replace data fragment, then replace its map row — with a
  ``_zonemaps/_pending_<id>`` marker that readers refuse on: between the
  two writes the OLD map row would otherwise bound the NEW data, exactly
  the silent under-coverage the tier must never serve.

Reference anchor: the reference's landing dirs are scanned whole every time
(``airflow_etl.py:433-450``); pruning was left entirely to Greenplum.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dwh_etl_framework_spark.sources.sinks import _hadoop_fs

#: hidden metadata dir inside the table path — underscore prefix keeps a
#: plain ``spark.read.parquet(table)`` from ever seeing the map rows (the
#: ``_sketches`` convention, ``sinks.SKETCH_DIR``).
ZONEMAP_DIR = "_zonemaps"

#: hive partition column carrying the fragment id in the data layout.
FRAGMENT_COL = "__fragment"


def write_table_with_zonemaps(
    df: DataFrame,
    path: str,
    stats_cols: list[str],
    fragment_col: str = FRAGMENT_COL,
) -> None:
    """Land ``df`` hive-partitioned by ``fragment_col`` plus a zone map.

    ``df`` must already carry the fragment id (computed by whatever layout
    the caller chose — ``operators/layout.py`` generates range and Z-order
    assignments as portable SQL). The zone map is one row per NON-EMPTY
    fragment: ``(fragment, __gen, n_rows, <col>__min, <col>__max ...)``
    with the stats columns' own types, written as ONE small parquet dir
    at ``<path>/_zonemaps/`` AFTER the data so a crashed bulk landing is
    always loud (module docstring).

    Why one flat dir and not per-fragment subdirs: the map is read whole
    on EVERY pruning decision — at a million fragments (100 TB of 100 MB
    files) partition discovery over a million map subdirs would cost more
    than the scan it saves, while a handful of flat files read in one
    footer pass stays metadata-sized. Incremental re-lands APPEND a
    superseding row instead of replacing a subdir: ``__gen`` totally
    orders the appends and readers resolve latest-generation-per-fragment
    (the StreamMasterState pointer-commit idea applied row-wise; appended
    files become visible only at job commit, so a crashed append leaves
    no partial row).

    One repartition by fragment id keeps each fragment in one task ⇒ one
    file per fragment (the F17 sane-file-size rule, sinks.py:10-13).
    """
    df = df.persist()
    try:
        (
            df.repartition(fragment_col)
            .write.mode("overwrite")
            .partitionBy(fragment_col)
            .parquet(path)
        )
        _zonemap_rows(df, stats_cols, fragment_col, gen=0).coalesce(
            1
        ).write.mode("overwrite").parquet(f"{path}/{ZONEMAP_DIR}")
    finally:
        df.unpersist()


def _zonemap_rows(
    df: DataFrame, stats_cols: list[str], fragment_col: str, gen: int
) -> DataFrame:
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for c in stats_cols:
        aggs.append(F.min(c).alias(f"{c}__min"))
        aggs.append(F.max(c).alias(f"{c}__max"))
    return (
        df.groupBy(F.col(fragment_col).cast("bigint").alias("fragment"))
        .agg(*aggs)
        .withColumn("__gen", F.lit(gen).cast("bigint"))
    )


def _current_zonemap(spark: SparkSession, path: str) -> tuple[list, int]:
    """Latest-generation row per fragment (collected — metadata-sized).

    Returns ``(resolved rows, raw row count)`` — the raw count is the
    map's physical size including superseded generations, the number a
    growth audit watches (``read_table_pruned`` reports it as
    ``map_rows``; :func:`compact_table_zonemaps` shrinks it back to one
    row per fragment)."""
    raw = spark.read.parquet(f"{path}/{ZONEMAP_DIR}").collect()
    best: dict[int, object] = {}
    for r in raw:
        k = int(r["fragment"])
        if k not in best or r["__gen"] > best[k]["__gen"]:
            best[k] = r
    return [best[k] for k in sorted(best)], len(raw)


def _zonemap_pending(spark: SparkSession, path: str) -> list[str]:
    from dwh_etl_framework_spark.sources.sinks import PENDING_PREFIX

    fs, p = _hadoop_fs(spark, f"{path}/{ZONEMAP_DIR}")
    if not fs.exists(p):
        return []
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(p)
        if st.isFile() and st.getPath().getName().startswith(PENDING_PREFIX)
    )


def land_fragment_with_zonemap(
    df: DataFrame,
    path: str,
    stats_cols: list[str],
    fragment_col: str = FRAGMENT_COL,
) -> int:
    """Idempotently re-land ONE fragment of a zone-mapped table — the
    100 TB incremental shape (a daily/partition ingest re-run replaces
    the fragment's data AND its zone-map row instead of serving stale
    bounds), the ``write_partition_with_sketches`` protocol
    (``sources/sinks.py``).

    Mechanics: ``df`` must hold exactly ONE distinct fragment id
    (validated); the data lands under dynamic partition-overwrite so only
    that hive fragment is replaced; a SUPERSEDING map row (``__gen`` =
    landed max + 1) is then appended to the flat map dir — readers
    resolve latest-generation-per-fragment (:func:`_current_zonemap`), so
    the append IS the pointer flip, and a crashed append publishes
    nothing (files appear at job commit). The span between the two
    writes is bracketed by a ``_pending_<id>`` marker that
    :func:`read_table_pruned` refuses on — the old map row does NOT
    bound the new data, so serving it would silently drop rows (module
    docstring). Stats columns must match the landed map's (checked
    against the map schema) — a re-land cannot narrow the tier.
    Single-writer per table, like every landing protocol in this repo.

    Returns the fragment id that was replaced."""
    import uuid

    from dwh_etl_framework_spark.sources.sinks import PENDING_PREFIX

    spark = df.sparkSession
    pending = _zonemap_pending(spark, path)
    if pending:
        raise IOError(
            f"zone map at {path!r} is inconsistent: a fragment re-land "
            f"crashed mid-span ({pending}) — re-run the fragment landing "
            "(or the bulk write_table_with_zonemaps) to republish."
        )
    landed, _ = _current_zonemap(spark, path)
    want = {f"{c}__{m}" for c in stats_cols for m in ("min", "max")}
    have = {
        c
        for c in (landed[0].__fields__ if landed else [])
        if c.endswith(("__min", "__max"))
    }
    if want != have:
        raise ValueError(
            f"stats_cols {sorted(stats_cols)} do not match the landed zone "
            f"map's stats {sorted(have)} at {path!r} — a fragment re-land "
            "cannot change the tier's columns (rebuild via "
            "write_table_with_zonemaps)"
        )
    next_gen = max((int(r["__gen"]) for r in landed), default=0) + 1
    df = df.persist()
    try:
        combos = df.select(fragment_col).distinct().collect()
        if len(combos) != 1:
            raise ValueError(
                f"df holds {len(combos)} distinct {fragment_col} values — "
                "land_fragment_with_zonemap lands exactly one fragment per "
                "call (split the input by fragment first)"
            )
        frag_id = int(combos[0][0])
        marker = f"{path}/{ZONEMAP_DIR}/{PENDING_PREFIX}{uuid.uuid4().hex}"
        fs, mp = _hadoop_fs(spark, marker)
        fs.create(mp, True).close()
        previous = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                df.repartition(fragment_col)
                .write.mode("overwrite")
                .partitionBy(fragment_col)
                .parquet(path)
            )
        finally:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", previous
            )
        (
            _zonemap_rows(df, stats_cols, fragment_col, gen=next_gen)
            .coalesce(1)
            .write.mode("append")
            .parquet(f"{path}/{ZONEMAP_DIR}")
        )
        if fs.exists(mp) and not fs.delete(mp, False):
            raise IOError(f"failed to clear the pending marker {marker}")
    finally:
        df.unpersist()
    return frag_id


def compact_table_zonemaps(spark: SparkSession, path: str) -> dict:
    """Rewrite the flat zone map to latest-generation rows only, with
    ``__gen`` reset to 0 — the ``rebuild_table_sketches`` pattern.

    Why this exists (the tier's own 100×-argument): incremental re-lands
    APPEND a superseding ``__gen`` row per fragment and nothing else ever
    removes superseded rows, so under daily re-lands the map grows by one
    row per fragment per day and every pruning decision collects ALL
    generations to the driver before resolving latest. Metadata-sized for
    months, but a million-fragment table re-landed daily needs the map
    rewritten periodically — watch ``read_table_pruned``'s ``map_rows``
    vs ``fragments_total`` and compact when the ratio drifts.

    Crash safety: refuses on a ``_pending_`` marker (a fragment re-land
    is mid-span — its superseding row may not have landed yet). The
    rewrite itself is collect (metadata-sized, same as every pruning
    decision) → overwrite; a crash mid-overwrite leaves a missing or
    partial map, which :func:`read_table_pruned`'s exact-coverage check
    refuses LOUDLY — never a silently stale bound. Pruning decisions are
    identical before and after (the resolved latest-per-fragment rows are
    exactly what is rewritten); a post-compaction re-land continues at
    ``__gen = 1``.

    Concurrency contract (ADVICE r13): compaction is a SINGLE-WRITER
    maintenance job — re-lands may run concurrently with pruned reads,
    but not with compaction (the ``rebuild_table_sketches`` discipline).
    The window is shrunk, not closed: immediately before the overwrite,
    the pending marker and the map row count are re-checked, so a
    re-land that appended (or is mid-span) between the collect and the
    overwrite fails the compaction loudly instead of being silently
    swallowed; only a writer landing inside the final check→overwrite
    microseconds still requires the scheduling contract.

    Returns ``{"rows_before": …, "rows_after": …}``."""
    pending = _zonemap_pending(spark, path)
    if pending:
        raise IOError(
            f"zone map at {path!r} has a pending fragment re-land "
            f"({pending}) — finish or republish it before compacting."
        )
    map_path = f"{path}/{ZONEMAP_DIR}"
    src = spark.read.parquet(map_path)
    schema = src.schema
    latest, rows_before = _current_zonemap(spark, path)
    compacted = spark.createDataFrame(latest, schema).withColumn(
        "__gen", F.lit(0).cast("bigint")
    )
    # last-moment re-check (ADVICE r13, see docstring contract): a
    # concurrent re-land either still holds its _pending_ marker or has
    # already appended its superseding rows — both abort the compaction
    # before the overwrite can swallow them
    pending = _zonemap_pending(spark, path)
    recount = spark.read.parquet(map_path).count()
    if pending or recount != rows_before:
        raise IOError(
            f"zone map at {path!r} changed during compaction "
            f"(pending={pending or 'none'}, rows {rows_before}→{recount})"
            " — a concurrent fragment re-land is running; compaction is "
            "a single-writer maintenance job, re-run it afterwards."
        )
    # one small file, written AFTER the read is fully materialized (the
    # collect above) — never a lazy self-overwrite of the dir being read
    compacted.coalesce(1).write.mode("overwrite").parquet(map_path)
    return {"rows_before": rows_before, "rows_after": len(latest)}


def _fs_fragments(spark: SparkSession, path: str, fragment_col: str) -> list[int]:
    """Fragment ids present as hive dirs in the data directory."""
    fs, p = _hadoop_fs(spark, path)
    prefix = f"{fragment_col}="
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(prefix):
            out.append(int(name[len(prefix):]))
    return sorted(out)


def read_table_pruned(
    spark: SparkSession,
    path: str,
    intervals: dict[str, tuple],
    fragment_col: str = FRAGMENT_COL,
) -> tuple[DataFrame, dict]:
    """Interval-pruned scan: open only fragments whose zone-map ranges
    overlap EVERY ``col: (lo, hi)`` interval (closed bounds).

    Returns ``(df, info)`` where ``df`` holds the SUPERSET of matching rows
    (the caller still applies its exact predicate — pruning is a
    file-selection optimization, never a filter) and ``info`` reports
    ``fragments_total`` / ``fragments_kept`` — the numbers a pruning audit
    (x111) certifies against arithmetic recomputed from the raw table.

    Fail-loud coverage check: the zone map's fragment set must EXACTLY
    match the ``fragment_col=`` dirs on disk; any drift (crashed landing,
    manual writes into the dir) raises instead of silently dropping or
    double-serving rows, and a ``_pending_`` marker from a crashed
    fragment re-land refuses the whole read (the stale map row would not
    bound the new data). Cost: one tiny metadata read + one dir listing —
    no data file is touched for the decision.
    """
    pending = _zonemap_pending(spark, path)
    if pending:
        raise IOError(
            f"zone map at {path!r} is inconsistent: a fragment re-land "
            f"crashed mid-span ({pending}) — its map row may not bound the "
            "fragment's data. Re-run the fragment landing (or the bulk "
            "write_table_with_zonemaps) to republish."
        )
    rows, map_rows = _current_zonemap(spark, path)  # metadata-sized
    cols = rows[0].__fields__ if rows else []
    for c in intervals:
        if rows and f"{c}__min" not in cols:
            raise ValueError(
                f"no zone-map stats for column {c!r} at {path!r} "
                f"(have: {[x[:-5] for x in cols if x.endswith('__min')]})"
            )
    map_frags = sorted(int(r["fragment"]) for r in rows)
    fs_frags = _fs_fragments(spark, path, fragment_col)
    if map_frags != fs_frags:
        raise IOError(
            f"zone map at {path!r} does not cover the data directory "
            f"(map: {map_frags}, disk: {fs_frags}) — a landing crashed or "
            "the dir was modified outside write_table_with_zonemaps(); "
            "re-land the table."
        )
    kept = []
    for r in rows:
        ok = True
        for c, (lo, hi) in intervals.items():
            if r[f"{c}__max"] < lo or r[f"{c}__min"] > hi:
                ok = False
                break
        if ok:
            kept.append(int(r["fragment"]))
    kept.sort()
    info = {
        "fragments_total": len(map_frags),
        "fragments_kept": len(kept),
        # physical map size incl. superseded generations — the growth
        # signal a maintenance job watches to schedule compaction
        "map_rows": map_rows,
    }
    if not kept:
        empty = spark.read.parquet(path).drop(fragment_col).limit(0)
        return empty, info
    paths = [f"{path}/{fragment_col}={k}" for k in kept]
    return spark.read.parquet(*paths), info


def fragment_expr_for_layout(layout: Mapping) -> str:
    """Fragment-id SQL expression for a config-declared layout
    (``landing: layout:`` — see ``plans/config._parse_layout`` for the
    validated shape). Returns portable SQL text over the raw columns:

    - ``kind: range`` — one column, contiguous equal-width ranges.
    - ``kind: zorder`` — two columns, Morton-interleaved blocks.

    Grid arithmetic needs integers, so each column enters the grid as
    ``CAST(FLOOR(col) AS BIGINT)`` — fractional parts only move values
    within a grid cell's width of their neighbors, and the zone-map stats
    keep the column's ORIGINAL type, so pruning correctness is unaffected
    (the superset contract never depends on the grid). Out-of-bounds
    values clamp into edge cells (``operators.layout.norm_sql``).
    """
    from dwh_etl_framework_spark.operators.layout import (
        interleave2_sql,
        norm_sql,
        range_fragment_sql,
        zorder_fragment_sql,
    )

    kind = layout["kind"]
    cols = list(layout["columns"])
    bits = int(layout.get("bits", 8))
    fragments = int(layout.get("fragments", 64))
    frag_bits = fragments.bit_length() - 1
    norms = []
    for c in cols:
        lo, hi = layout["bounds"][c]
        norms.append(
            norm_sql(f"CAST(FLOOR({c}) AS BIGINT)", lo, hi - lo, 2**bits)
        )
    if kind == "range":
        return range_fragment_sql(norms[0], bits, frag_bits)
    z = interleave2_sql(norms[0], norms[1], bits)
    return zorder_fragment_sql(z, bits, frag_bits)


def register_pruned_view(
    spark: SparkSession,
    name: str,
    path: str,
    intervals: Mapping[str, tuple],
) -> tuple[dict, "callable"]:
    """Register a pruned read of a zone-mapped landing as temp view
    ``name`` and return ``(prune info, restore fn)``.

    The step-scoping discipline of ``plans.steps.plan_step_join``: the
    caller restores (drops, or re-binds the shadowed original) after its
    SQL is analyzed, so the pruned view never leaks into later steps.
    NOTE the contract difference from a plain view: the pruned view is a
    SUPERSET selection — the consuming SQL must still apply its exact
    predicate; pruning only decides which fragments are opened.
    """
    df, info = read_table_pruned(spark, path, dict(intervals))
    catalog = spark.catalog
    previous = None
    try:
        previous = catalog.getTable(name)
    except Exception:
        previous = None
    shadowed = (
        spark.table(name)
        if previous is not None and previous.tableType == "TEMPORARY"
        else None
    )
    df.createOrReplaceTempView(name)

    def restore() -> None:
        if shadowed is not None:
            shadowed.createOrReplaceTempView(name)
        else:
            catalog.dropTempView(name)

    return info, restore
