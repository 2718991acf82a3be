"""Sinks F15-F17 of the reference, Spark-first.

Reference parity (SURVEY.md §2a):
- F15 jdbc-sink append — ``connector.py:51-61``.
- F16 truncate-overwrite sink — ``airflow_etl.py:70-108`` (TRUNCATE then
  append). In Spark this is ``mode("overwrite")``; for JDBC we keep the
  reference's truncate-in-place behavior via the ``truncate`` option so the
  target table's DDL survives.
- F17 datalake landing sink — ``airflow_etl.py:441-450`` (Hudi bulk_insert).
  Re-expressed as a parquet/delta write with explicit file-count control:
  at 100 TB the thing that matters is emitting sanely-sized files, so the
  writer repartitions by the partition columns (or to a target partition
  count) before writing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "append",
    partition_by: list[str] | None = None,
    target_file_partitions: int | None = None,
) -> None:
    """Land a DataFrame at a datalake path (F17).

    ``partition_by`` produces a hive-layout table so downstream scans get
    partition pruning (the reference wrote unpartitioned dirs,
    ``airflow_etl.py:433-439`` — its main pruning defect at scale).
    """
    writer = df
    if partition_by:
        # co-locate rows of each output partition to avoid small files
        writer = df.repartition(*partition_by)
    elif target_file_partitions:
        writer = df.repartition(target_file_partitions)
    w = writer.write.format(fmt).mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def overwrite_table(df: DataFrame, path: str, fmt: str = "parquet", **kwargs) -> None:
    """Truncate-and-reload semantics (F16 / R12)."""
    write_table(df, path, fmt=fmt, mode="overwrite", **kwargs)


# ---- sketch metadata at sink time (VERDICT r10 #6) ----------------------

#: metadata subdirectory inside the table path. The leading underscore
#: matters: Spark's file index treats ``_*`` paths as hidden, so a plain
#: ``spark.read.parquet(table_path)`` never sees the sketch rows — the
#: metadata rides INSIDE the table directory invisibly (the same
#: convention as ``_SUCCESS``/``_metadata``).
SKETCH_DIR = "_sketches"

#: commit-intent marker (``_sketches/_pending_<id>``): present from just
#: before a sketched write's first side effect until every fragment has
#: landed. Readers REFUSE while one exists — a crashed write can therefore
#: never serve an undercounting sketch silently (ADVICE r11 #1).
PENDING_PREFIX = "_pending_"

#: erasure tombstone (``_sketches/<col>__hll_invalidated``): the HLL NDV
#: tier is MAX-merge-only, so erasure removes it; the tombstone keeps a
#: later append from quietly recreating a registers-cover-only-new-rows
#: tier (ADVICE r11 #2). Cleared only by a full-scan rebuild or an
#: overwrite (which wipes the whole table dir, tombstone included, and
#: lands a complete fresh HLL).
HLL_TOMBSTONE_SUFFIX = "__hll_invalidated"


def _touch(spark, path: str) -> None:
    fs, p = _hadoop_fs(spark, path)
    fs.create(p, True).close()


def _sketch_markers(spark, path: str) -> tuple[list[str], list[str]]:
    """(pending write markers, HLL erasure tombstones) under _sketches/."""
    fs, p = _hadoop_fs(spark, f"{path}/{SKETCH_DIR}")
    if not fs.exists(p):
        return [], []
    names = [
        st.getPath().getName() for st in fs.listStatus(p) if st.isFile()
    ]
    return (
        sorted(n for n in names if n.startswith(PENDING_PREFIX)),
        sorted(n for n in names if n.endswith(HLL_TOMBSTONE_SUFFIX)),
    )


def _refuse_if_pending(spark, path: str) -> None:
    pending, _ = _sketch_markers(spark, path)
    if pending:
        raise IOError(
            f"sketch metadata at {path!r} is inconsistent: a sketched write "
            f"crashed before publishing ({pending}) — the data directory "
            "may contain rows the sketches don't cover. Re-run "
            "rebuild_table_sketches() to rescan and republish."
        )


def _persist_unless_cached(df: DataFrame) -> bool:
    """Persist ``df`` (MEMORY_AND_DISK) unless it is already cached.
    Returns True when this call created the cache, so the caller owns
    its release. A cache created elsewhere — a master a pipeline run
    keeps for its dependents — is used as is and left to its owner."""
    from pyspark.storagelevel import StorageLevel

    if df.storageLevel != StorageLevel.NONE:
        return False
    df.persist(StorageLevel.MEMORY_AND_DISK)
    return True


def write_table_with_sketches(
    df: DataFrame,
    path: str,
    sketch_keys: list[str],
    fmt: str = "parquet",
    mode: str = "append",
    w: int | None = None,
    **kwargs,
) -> None:
    """F17 + planner statistics: land the table AND a CMS sketch per key
    column under ``<path>/_sketches/<col>/``. CMS counters SUM-merge, so
    ``append`` writes append counter FRAGMENTS (one per write; readers
    merge-on-read by summing), and ``overwrite`` replaces them with the
    new table's sketch — the sketch directory always describes exactly
    the data directory's content.

    Crash consistency (ADVICE r11 #1): the data write and the sketch
    writes are not one atomic commit, so a ``_pending_<id>`` marker
    brackets the non-atomic span and every reader refuses while it
    exists. Append mode sets the marker BEFORE the data append (the only
    silent window is data-landed-sketch-missing); overwrite mode sets it
    right AFTER (the data overwrite wipes the whole dir, so a crash
    before the marker leaves ``_sketches/`` absent — already fail-loud).
    A crashed write therefore always reads as loud-broken until
    :func:`rebuild_table_sketches` republishes from a full scan.

    Erasure interplay (ADVICE r11 #2): an append over an erasure
    tombstone (:func:`subtract_table_sketch` removed the MAX-merge-only
    HLL tier) appends the CMS fragment but SKIPS the HLL fragment — a
    recreated tier would cover only the new rows and silently undercount
    every surviving pre-erasure key. The NDV tier stays loud-absent
    until a rebuild or a full overwrite.

    This is the 100 TB serving shape the x105 decision table claims: the
    broadcast-vs-shuffle choice (:func:`decision_from_metadata`) then
    reads two ≤ d·w counter tables instead of scanning either input —
    per-day/per-partition sketches merge by the same SUM."""
    import uuid

    from pyspark.sql import functions as F

    from dwh_etl_framework_spark.operators.sketch import (
        CMS_W,
        cms_sketch,
        hll_registers,
    )

    eff_w = int(w or CMS_W)
    spark = df.sparkSession
    overwrite = mode == "overwrite"
    pending = f"{path}/{SKETCH_DIR}/{PENDING_PREFIX}{uuid.uuid4().hex}"
    # One materialization serves the table write AND every sketch pass:
    # without it, each cms/hll build re-executes the DataFrame's full
    # lineage (2 extra passes per key — a landed master's whole merge
    # plan, multiplied), and a non-deterministic upstream could make the
    # sketches describe different data than was landed (review r11).
    owned = _persist_unless_cached(df)
    try:
        if not overwrite:
            _refuse_if_pending(spark, path)  # don't compound a crash
            _touch(spark, pending)
        write_table(df, path, fmt=fmt, mode=mode, **kwargs)
        if overwrite:
            _touch(spark, pending)
        _, tombstones = _sketch_markers(spark, path)
        for col in sketch_keys:
            sk = cms_sketch(df.select(col), col, eff_w).withColumn(
                "__cms_w", F.lit(eff_w)
            )
            sk.coalesce(1).write.mode(mode).parquet(
                f"{path}/{SKETCH_DIR}/{col}"
            )
            if f"{col}{HLL_TOMBSTONE_SUFFIX}" in tombstones:
                continue  # see "Erasure interplay" above
            # NDV tier: per-key HLL registers (MAX-mergeable, so appended
            # fragments merge-on-read like the CMS counters SUM). NDV
            # feeds the System-R join-output estimate
            # (:func:`ndv_join_estimate`) — the TIGHT companion to the
            # CMS inner product's SAFE bound.
            regs = hll_registers(df.select(col), [], col)
            regs.coalesce(1).write.mode(mode).parquet(
                f"{path}/{SKETCH_DIR}/{col}__hll"
            )
        fs, p = _hadoop_fs(spark, pending)
        if fs.exists(p) and not fs.delete(p, False):
            raise IOError(f"failed to clear the pending marker {pending}")
    finally:
        if owned:
            df.unpersist()


def _persisted_sketch_width(spark, path: str, col: str) -> int | None:
    """The ``__cms_w`` the landed fragments for ``col`` carry, or None if
    no fragment exists yet. Raises on mixed widths (a crashed mixed
    write needs an explicit rebuild)."""
    fs, p = _hadoop_fs(spark, f"{path}/{SKETCH_DIR}/{col}")
    if not fs.exists(p):
        return None
    raw = spark.read.option("recursiveFileLookup", "true").parquet(
        f"{path}/{SKETCH_DIR}/{col}"
    )
    widths = [r["__cms_w"] for r in raw.select("__cms_w").distinct().collect()]
    if len(widths) > 1:
        raise ValueError(
            f"mixed persisted widths {sorted(widths)} for {col!r} at "
            f"{path!r} — rebuild_table_sketches(w=...) to repair"
        )
    return int(widths[0]) if widths else None


def write_partition_with_sketches(
    df: DataFrame,
    path: str,
    sketch_keys: list[str],
    partition_by: list[str],
    w: int | None = None,
    fmt: str = "parquet",
) -> str:
    """Idempotently land ONE partition of a hive-partitioned table plus
    its per-partition sketch fragments — the 100 TB serving shape the
    f38 metadata loop claims (per-day fragments merged on read,
    ``write_table_with_sketches`` docstring): a daily ingest job calls
    this once per day, and a RE-RUN of the same day REPLACES both the
    data partition and its fragments instead of double-counting.

    Mechanics:

    - ``df`` must contain exactly one distinct combination of
      ``partition_by`` values (validated — the combination names the
      fragment subdirectory, e.g. ``_sketches/<col>/part_day=2024-01-05``).
    - the data lands under Spark's DYNAMIC partition-overwrite mode, so
      ``mode("overwrite")`` replaces only the touched hive partition
      (the conf is set for the write and restored after);
    - each key's CMS/HLL fragments land with ``mode("overwrite")`` in
      the partition-named subdirectory — same idempotence contract as
      ``subtract_table_sketch``'s ``erasure_<id>`` fragments; readers
      merge-on-read recursively, so per-partition fragments SUM (CMS) /
      MAX (HLL) to exactly the whole table's sketch;
    - a ``_pending`` marker brackets the non-atomic span exactly like
      :func:`write_table_with_sketches` append mode, and the erasure
      tombstone interplay is identical (no HLL fragment over a
      tombstone).

    Width adopts the landed fragments' ``__cms_w`` when ``w`` is not
    given; an explicit conflicting ``w`` raises rather than stranding
    unmergeable fragments. Returns the partition tag."""
    import uuid

    from pyspark.sql import functions as F

    from dwh_etl_framework_spark.operators.sketch import (
        CMS_W,
        cms_sketch,
        hll_registers,
    )

    if not partition_by:
        raise ValueError("write_partition_with_sketches requires partition_by")
    spark = df.sparkSession
    _refuse_if_pending(spark, path)  # don't compound a crash
    owned = _persist_unless_cached(df)
    try:
        combos = df.select(*partition_by).distinct().collect()
        if len(combos) != 1:
            raise ValueError(
                f"df holds {len(combos)} distinct {partition_by} combinations"
                " — write_partition_with_sketches lands exactly one partition"
                " per call (split the input by partition first)"
            )
        tag = "part_" + "_".join(
            f"{c}={combos[0][c]}" for c in partition_by
        )
        eff_w = int(w or CMS_W)
        for col in sketch_keys:
            landed = _persisted_sketch_width(spark, path, col)
            if landed is not None:
                if w is not None and int(w) != landed:
                    raise ValueError(
                        f"explicit w={w} conflicts with the landed width "
                        f"{landed} for {col!r} at {path!r}"
                    )
                eff_w = landed
        pending = f"{path}/{SKETCH_DIR}/{PENDING_PREFIX}{uuid.uuid4().hex}"
        _touch(spark, pending)
        previous = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            write_table(
                df, path, fmt=fmt, mode="overwrite", partition_by=partition_by
            )
        finally:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", previous
            )
        _, tombstones = _sketch_markers(spark, path)
        for col in sketch_keys:
            sk = cms_sketch(df.select(col), col, eff_w).withColumn(
                "__cms_w", F.lit(eff_w)
            )
            sk.coalesce(1).write.mode("overwrite").parquet(
                f"{path}/{SKETCH_DIR}/{col}/{tag}"
            )
            if f"{col}{HLL_TOMBSTONE_SUFFIX}" in tombstones:
                continue  # see write_table_with_sketches "Erasure interplay"
            regs = hll_registers(df.select(col), [], col)
            regs.coalesce(1).write.mode("overwrite").parquet(
                f"{path}/{SKETCH_DIR}/{col}__hll/{tag}"
            )
        fs, p = _hadoop_fs(spark, pending)
        if fs.exists(p) and not fs.delete(p, False):
            raise IOError(f"failed to clear the pending marker {pending}")
    finally:
        if owned:
            df.unpersist()
    return tag


def rebuild_table_sketches(
    spark,
    path: str,
    sketch_keys: list[str] | None = None,
    w: int | None = None,
    fmt: str = "parquet",
) -> list[str]:
    """Full-scan repair of a table's sketch metadata: recompute one CMS
    fragment + one HLL fragment per key from the CURRENT data directory,
    overwrite the per-key sketch dirs, then clear every pending marker
    and erasure tombstone. This is the recovery path the loud failures
    point at — a crashed :func:`write_table_with_sketches` append or an
    erasure-invalidated NDV tier.

    Markers are cleared LAST, so a crash mid-rebuild leaves the
    metadata loud-broken (re-run to finish), never silently partial.
    Returns the rebuilt key list. ``sketch_keys`` defaults to the keys
    with existing sketch dirs; ``w`` defaults to each key's persisted
    width when unambiguous (mixed-width fragments from a crash require
    an explicit ``w``)."""
    from pyspark.sql import functions as F

    from pyspark.storagelevel import StorageLevel

    from dwh_etl_framework_spark.operators.sketch import (
        CMS_W,
        cms_sketch,
        hll_registers,
    )

    fs, sk_root = _hadoop_fs(spark, f"{path}/{SKETCH_DIR}")
    if sketch_keys is None:
        if not fs.exists(sk_root):
            raise ValueError(
                f"no sketch dir at {path!r} — pass sketch_keys explicitly"
            )
        sketch_keys = sorted(
            st.getPath().getName()
            for st in fs.listStatus(sk_root)
            if st.isDirectory() and not st.getPath().getName().endswith("__hll")
        )
    if not sketch_keys:
        raise ValueError(f"nothing to rebuild under {path!r}")

    def _width_for(col: str) -> int:
        if w is not None:
            return int(w)
        try:
            raw = spark.read.option("recursiveFileLookup", "true").parquet(
                f"{path}/{SKETCH_DIR}/{col}"
            )
            widths = [
                r["__cms_w"] for r in raw.select("__cms_w").distinct().collect()
            ]
        except Exception:
            return CMS_W
        if len(widths) > 1:
            raise ValueError(
                f"mixed persisted widths {sorted(widths)} for {col!r} — "
                "pass w= explicitly to rebuild_table_sketches"
            )
        return int(widths[0]) if widths else CMS_W

    df = spark.read.format(fmt).load(path).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        for col in sketch_keys:
            eff_w = _width_for(col)
            sk = cms_sketch(df.select(col), col, eff_w).withColumn(
                "__cms_w", F.lit(eff_w)
            )
            sk.coalesce(1).write.mode("overwrite").parquet(
                f"{path}/{SKETCH_DIR}/{col}"
            )
            regs = hll_registers(df.select(col), [], col)
            regs.coalesce(1).write.mode("overwrite").parquet(
                f"{path}/{SKETCH_DIR}/{col}__hll"
            )
    finally:
        df.unpersist()
    pending, tombstones = _sketch_markers(spark, path)
    for name in pending + tombstones:
        mfs, mp = _hadoop_fs(spark, f"{path}/{SKETCH_DIR}/{name}")
        if mfs.exists(mp) and not mfs.delete(mp, False):
            raise IOError(f"failed to clear marker {name} after rebuild")
    return list(sketch_keys)


def read_table_sketch(spark, path: str, col: str) -> tuple[DataFrame, int]:
    """Merge-on-read of a persisted key sketch: SUM the counter fragments
    appended by successive writes into one (r, col, cnt) table. Returns
    ``(sketch, w)`` and refuses mixed widths (fragments written at
    different ``w`` do not merge — the plans/steps width guard) as well
    as a crashed unpublished write (pending marker — the data dir may
    hold rows no fragment covers)."""
    from pyspark.sql import functions as F

    _refuse_if_pending(spark, path)
    # recursive: erasure corrections live in erasure_<id> subdirectories
    # (idempotent overwrite targets) next to the top-level fragments
    raw = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(f"{path}/{SKETCH_DIR}/{col}")
    )
    widths = [r["__cms_w"] for r in raw.select("__cms_w").distinct().collect()]
    if len(widths) != 1:
        raise ValueError(
            f"sketch fragments for {col!r} at {path!r} carry mixed widths "
            f"{sorted(widths)} — rewrite the sketch dir at one width"
        )
    merged = raw.groupBy("r", "col").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    return merged, int(widths[0])


def _hadoop_fs(spark, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def sketched_keys(spark, path: str) -> list[str]:
    """The key columns a landed table carries sketches for (the
    ``_sketches/`` child dirs, HLL siblings excluded)."""
    _refuse_if_pending(spark, path)
    fs, hpath = _hadoop_fs(spark, f"{path}/{SKETCH_DIR}")
    if not fs.exists(hpath):
        return []
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(hpath)
        if st.isDirectory() and not st.getPath().getName().endswith("__hll")
    )


def subtract_table_sketch(
    spark,
    path: str,
    erased: DataFrame,
    erasure_id: str,
    cols: list[str] | None = None,
) -> None:
    """Keep the CMS metadata EXACT through a right-to-erasure rewrite
    (the f36 path): CMS counters are LINEAR, so deleting rows folds in
    as a NEGATIVE fragment, summed on read — ``cms_cardinality`` /
    ``cms_join_size`` keep describing exactly the surviving rows with
    no rescan. By default EVERY sketched key is subtracted (a single
    repaired column would leave the others overcounting erased rows).

    Fail-closed + idempotent by construction (review r11):

    - the non-subtractable HLL tier (MAX registers) is removed FIRST via
      the Hadoop FS API (works on any filesystem; a failed delete
      raises) — a crash mid-way leaves NDV readers failing loudly, never
      serving erased keys;
    - each negative fragment lands with ``mode("overwrite")`` in its own
      ``erasure_<erasure_id>`` subdirectory, so re-running the same
      erasure (crash recovery, at-least-once orchestration) REPLACES its
      fragment instead of double-subtracting. ``erasure_id`` must
      uniquely name the erasure batch (e.g. the request id)."""
    from pyspark.sql import functions as F

    from dwh_etl_framework_spark.operators.sketch import cms_sketch

    keys = cols if cols is not None else sketched_keys(spark, path)
    if not keys:
        raise ValueError(f"no sketched keys found under {path!r}")
    for col in keys:
        fs, hll = _hadoop_fs(spark, f"{path}/{SKETCH_DIR}/{col}__hll")
        if fs.exists(hll) and not fs.delete(hll, True):
            raise IOError(
                f"failed to remove the stale NDV tier at {hll} — aborting "
                "before the CMS subtraction so metadata stays consistent"
            )
        # tombstone BEFORE the CMS subtraction: a later append must not
        # recreate the HLL tier covering only its own rows (ADVICE r11
        # #2) — read_table_ndv refuses and write_table_with_sketches
        # skips the HLL fragment until rebuild_table_sketches (or a full
        # overwrite, which wipes the tombstone with the table dir).
        _touch(spark, f"{path}/{SKETCH_DIR}/{col}{HLL_TOMBSTONE_SUFFIX}")
        _, w = read_table_sketch(spark, path, col)
        neg = (
            cms_sketch(erased.select(col), col, w)
            .withColumn("cnt", -F.col("cnt"))
            .withColumn("__cms_w", F.lit(w))
        )
        neg.coalesce(1).write.mode("overwrite").parquet(
            f"{path}/{SKETCH_DIR}/{col}/erasure_{erasure_id}"
        )


def read_table_ndv(spark, path: str, col: str) -> int:
    """Approximate distinct count of a persisted key, merge-on-read:
    MAX the HLL register fragments appended by successive writes, then
    the all-integer estimate (``operators/sketch.hll_estimate`` — ~2%
    at the configured register count). Never touches the data files.

    Refuses loudly while the key carries an erasure tombstone or the
    table a pending-write marker: MAX registers can't subtract, so a
    post-erasure NDV needs a full rebuild first."""
    from pyspark.sql import functions as F

    from dwh_etl_framework_spark.operators.sketch import hll_estimate

    _refuse_if_pending(spark, path)
    _, tombstones = _sketch_markers(spark, path)
    if f"{col}{HLL_TOMBSTONE_SUFFIX}" in tombstones:
        raise IOError(
            f"the NDV tier for {col!r} at {path!r} was invalidated by a "
            "right-to-erasure rewrite (MAX registers cannot subtract) — "
            "run rebuild_table_sketches() to rescan, or overwrite the "
            "table with a fresh sketched write"
        )
    # recursive: per-partition fragments (write_partition_with_sketches)
    # live in part_* subdirectories; MAX-merge is the HLL union
    raw = spark.read.option("recursiveFileLookup", "true").parquet(
        f"{path}/{SKETCH_DIR}/{col}__hll"
    )
    merged = raw.groupBy("bucket").agg(F.max("reg").alias("reg"))
    row = hll_estimate(merged, []).first()
    # Flajolet's small-range (linear counting) correction: driver-side
    # float math is fine here — the NDV is a costing statistic, not an
    # oracle value (the oracled x84 twin pins the integer-only raw
    # formula instead).
    return _ndv_linear_correct(int(row["hll_estimate"]), int(row["n_buckets_used"]))


def _ndv_linear_correct(est: int, n_buckets_used: int) -> int:
    """Flajolet's small-range (linear counting) correction shared by
    :func:`read_table_ndv` and the batched :func:`read_chain_stats` —
    the raw estimator is biased below ~2.5m; with empty registers,
    m·ln(m/V) is the better estimate."""
    import math

    from dwh_etl_framework_spark.operators.sketch import HLL_M

    empty = HLL_M - n_buckets_used
    if est < 5 * HLL_M // 2 and empty > 0:
        return int(round(HLL_M * math.log(HLL_M / empty)))
    return est


def read_chain_stats(
    spark,
    counts: list[tuple[str, str]],
    ndvs: list[tuple[str, str]],
) -> tuple[list[int], list[int]]:
    """Batched metadata reads for the join-order planners (round 15,
    guide §5 "the driver should do almost no data work"): the former
    per-statistic ``read_table_sketch`` + ``cms_cardinality().first()``
    and ``read_table_ndv`` calls each launched their own tiny Spark job
    (scan + agg + collect over ≤ d·w counter / m register rows), so
    planning a k-table chain cost ~2k driver round-trips dominated by
    fixed per-job overhead — measured ~3 s per warm f40 call at sf0.1.
    This reader unions every per-statistic single-row aggregate into ONE
    plan and collects once; the statistics, the mixed-width guard and
    the pending/tombstone refusals are unchanged (same arithmetic, same
    error classes — the width check reads the same ``__cms_w`` values,
    the NDV applies the same linear-counting correction driver-side).

    ``counts``: (table_path, key) pairs → exact row counts from the CMS
    tier. ``ndvs``: (table_path, key) pairs → HLL NDVs. Returns the two
    result lists in input order."""
    from pyspark.sql import functions as F

    from dwh_etl_framework_spark.operators.sketch import CMS_D, hll_estimate

    for path in {p for p, _ in counts} | {p for p, _ in ndvs}:
        _refuse_if_pending(spark, path)
    for path, col in ndvs:
        _, tombstones = _sketch_markers(spark, path)
        if f"{col}{HLL_TOMBSTONE_SUFFIX}" in tombstones:
            raise IOError(
                f"the NDV tier for {col!r} at {path!r} was invalidated by "
                "a right-to-erasure rewrite (MAX registers cannot "
                "subtract) — run rebuild_table_sketches() to rescan, or "
                "overwrite the table with a fresh sketched write"
            )

    frames = []
    for i, (path, col) in enumerate(counts):
        raw = spark.read.option("recursiveFileLookup", "true").parquet(
            f"{path}/{SKETCH_DIR}/{col}"
        )
        frames.append(
            raw.agg(
                (F.sum("cnt") / F.lit(CMS_D)).cast("long").alias("n"),
                F.collect_set("__cms_w").cast("array<long>").alias("aux"),
            ).select(F.lit(f"c{i}").alias("tag"), "n", "aux")
        )
    for i, (path, col) in enumerate(ndvs):
        raw = spark.read.option("recursiveFileLookup", "true").parquet(
            f"{path}/{SKETCH_DIR}/{col}__hll"
        )
        merged = raw.groupBy("bucket").agg(F.max("reg").alias("reg"))
        frames.append(
            hll_estimate(merged, []).select(
                F.lit(f"d{i}").alias("tag"),
                F.col("hll_estimate").cast("long").alias("n"),
                F.array(F.col("n_buckets_used"))
                .cast("array<long>")
                .alias("aux"),
            )
        )
    unioned = frames[0]
    for f in frames[1:]:
        unioned = unioned.unionByName(f)
    rows = {r["tag"]: r for r in unioned.collect()}

    ns: list[int] = []
    for i, (path, col) in enumerate(counts):
        r = rows[f"c{i}"]
        widths = sorted(r["aux"])
        if len(widths) != 1:
            raise ValueError(
                f"sketch fragments for {col!r} at {path!r} carry mixed "
                f"widths {widths} — rewrite the sketch dir at one width"
            )
        ns.append(int(r["n"]))
    ds: list[int] = []
    for i, _ in enumerate(ndvs):
        r = rows[f"d{i}"]
        ds.append(_ndv_linear_correct(int(r["n"]), int(r["aux"][0])))
    return ns, ds


def ndv_join_estimate(
    spark,
    left_path: str,
    left_key: str,
    right_path: str,
    right_key: str,
) -> dict:
    """The System-R uniform-containment join-output estimate from
    persisted metadata alone: ``n_l · n_r / max(ndv_l, ndv_r)`` —
    row counts recovered exactly from the CMS counters
    (:func:`~dwh_etl_framework_spark.operators.sketch.cms_cardinality`),
    distinct counts from the HLL tier.

    Division of labor (NOTES r10 weakness #5): the CMS inner product
    NEVER undercounts, so exchanges size from it; this estimate is
    TIGHT on fact-fact joins where the inner-product bound is loose,
    but assumes per-key uniformity and key containment, so it CAN
    undercount under skew — use it for costing/comparison, never for
    the never-undercounts exchange sizing."""
    from dwh_etl_framework_spark.operators.sketch import cms_cardinality

    lsk, _ = read_table_sketch(spark, left_path, left_key)
    rsk, _ = read_table_sketch(spark, right_path, right_key)
    n_l = int(cms_cardinality(lsk).first()["n_rows"])
    n_r = int(cms_cardinality(rsk).first()["n_rows"])
    ndv_l = read_table_ndv(spark, left_path, left_key)
    ndv_r = read_table_ndv(spark, right_path, right_key)
    denom = max(ndv_l, ndv_r, 1)
    return {
        "n_left": n_l,
        "n_right": n_r,
        "ndv_left": ndv_l,
        "ndv_right": ndv_r,
        "est_join_rows_ndv": -(-n_l * n_r // denom),
    }


def choose_join_order_from_metadata(
    spark,
    left: tuple[str, str],
    mid: tuple[str, str, str],
    right: tuple[str, str],
) -> dict:
    """System-R join-ORDER selection for a three-table chain served
    ENTIRELY from landed ``_sketches/`` metadata — none of the three
    tables is scanned. ``left=(path, key_lm)``, ``mid=(path, key_lm,
    key_mr)``, ``right=(path, key_mr)``; the chain is
    left ⋈(key_lm) mid ⋈(key_mr) right.

    Row counts are EXACT from the CMS tier (Σcnt = d·N), NDVs from the
    HLL tier, and the Selinger intermediate-size arithmetic is the
    x109 spec verbatim — ``tests/test_join_order.py`` pins this result
    equal to the oracled inline computation. Python's unbounded ints do
    the products, so (unlike the BIGINT-certified query) this entry
    point has no 2^63 ceiling. Costing-tier caveat inherited from
    :func:`ndv_join_estimate`: the NDV estimate assumes per-key
    uniformity — use the CMS bound, not this, to SIZE exchanges."""
    lp, k_lm = left
    mp, mk_lm, mk_mr = mid
    rp, k_mr = right

    # one batched job for all 3 counts + 4 NDVs (round 15 — see
    # read_chain_stats; formerly 7 sequential driver round-trips)
    ns, raw_ds = read_chain_stats(
        spark,
        counts=[(lp, k_lm), (mp, mk_lm), (rp, k_mr)],
        ndvs=[(lp, k_lm), (mp, mk_lm), (mp, mk_mr), (rp, k_mr)],
    )
    n_l, n_m, n_r = ns
    d_lm = max(raw_ds[0], raw_ds[1], 1)
    d_mr = max(raw_ds[2], raw_ds[3], 1)
    est_lm = (n_l * n_m + d_lm - 1) // d_lm
    est_mr = (n_m * n_r + d_mr - 1) // d_mr
    est_final = (est_lm * n_r + d_mr - 1) // d_mr
    chosen = "lm_first" if est_lm <= est_mr else "mr_first"
    return {
        "n_left": n_l,
        "n_mid": n_m,
        "n_right": n_r,
        "est_lm_first": est_lm,
        "est_mr_first": est_mr,
        "est_final_rows": est_final,
        "chosen": chosen,
    }


def choose_chain_join_order_from_metadata(spark, tables: list[tuple]) -> dict:
    """:func:`choose_join_order_from_metadata` generalized to a k-table
    chain (the x110 interval DP,
    :func:`~dwh_etl_framework_spark.operators.sketch.chain_join_order`):
    every statistic comes from the landed ``_sketches/`` tiers — exact
    row counts from the CMS counters, edge NDVs from the HLL registers —
    so planning a k-way join costs O(k) metadata reads and ZERO input
    scans.

    ``tables`` is the chain in join-graph order: first element
    ``(path, right_key)``, middles ``(path, left_key, right_key)``,
    last ``(path, left_key)`` — ``right_key`` of table i joins
    ``left_key`` of table i+1.

    Returns the :func:`chain_join_order` dict plus ``paths`` (the chain
    order echoed back) so callers can map ``order`` indices to tables.
    Costing-tier caveat inherited from :func:`ndv_join_estimate`: the
    NDV estimate assumes per-key uniformity — use the CMS bound, not
    this, to SIZE exchanges."""
    from dwh_etl_framework_spark.operators.sketch import chain_join_order

    k = len(tables)
    if k < 2:
        raise ValueError("a join chain needs at least 2 tables")

    def _keys(idx: int) -> tuple[str | None, str | None]:
        t = tables[idx]
        if idx == 0:
            return None, t[1]
        if idx == k - 1:
            return t[1], None
        return t[1], t[2]

    # one batched job for the k counts + 2(k-1) edge NDVs (round 15 —
    # see read_chain_stats; formerly ~3k sequential driver round-trips)
    count_specs = []
    for idx, t in enumerate(tables):
        lk, rk = _keys(idx)
        count_specs.append((t[0], lk or rk))
    ndv_specs = []
    for idx in range(k - 1):
        _, rk = _keys(idx)
        lk, _ = _keys(idx + 1)
        ndv_specs.append((tables[idx][0], rk))
        ndv_specs.append((tables[idx + 1][0], lk))
    ns, raw_ds = read_chain_stats(spark, counts=count_specs, ndvs=ndv_specs)
    ds: list[int] = [
        max(raw_ds[2 * i], raw_ds[2 * i + 1], 1) for i in range(k - 1)
    ]
    out = chain_join_order(ns, ds)
    out["paths"] = [t[0] for t in tables]
    out["n_rows"] = ns
    out["edge_ndvs"] = ds
    return out


def decision_from_metadata(
    spark,
    left_path: str,
    left_key: str,
    right_path: str,
    right_key: str,
    **choose_kwargs,
):
    """The x105 broadcast-vs-shuffle decision served from PERSISTED
    sketch metadata alone — neither table is scanned. Both sides'
    fragments merge-on-read; widths must agree (the cms_join_size
    inner product only aligns same-width sketches)."""
    from dwh_etl_framework_spark.operators.sketch import choose_join_strategy

    lsk, lw = read_table_sketch(spark, left_path, left_key)
    rsk, rw = read_table_sketch(spark, right_path, right_key)
    if lw != rw:
        raise ValueError(
            f"persisted sketch widths differ: {left_path}/{left_key} is "
            f"w={lw}, {right_path}/{right_key} is w={rw}"
        )
    return choose_join_strategy(
        lsk.localCheckpoint(eager=True),
        rsk.localCheckpoint(eager=True),
        **choose_kwargs,
    )


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = 10_000,
    truncate: bool = False,
    options: dict[str, str] | None = None,
) -> None:
    """JDBC sink (F15/F16). ``truncate=True`` + mode overwrite reproduces the

    reference's TRUNCATE-then-append protocol (``airflow_etl.py:95-108``)
    without dropping the target's DDL.
    """
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
    )
    if truncate:
        writer = writer.option("truncate", "true")
    for key, value in (options or {}).items():
        writer = writer.option(key, value)
    writer.mode(mode).save()
