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

Landed sketch layout
--------------------
A sketched landing (:func:`write_table_with_sketches`,
:func:`write_partition_with_sketches`, :func:`rebuild_table_sketches`,
:func:`subtract_table_sketch`) writes planner metadata inside the table
dir, under ``<path>/_sketches/`` — hidden from plain reads by the
leading underscore:

- ``<col>/`` — count-min counter fragments ``(r, col, cnt, __cms_w)``,
  one parquet file per landing (``coalesce(1)``). ``__cms_w`` is the
  width the counters were hashed at. Readers SUM every fragment, so all
  fragments of a key must share one width; Σcnt = d·N is the exact row
  count.
- ``<col>__hll/`` — HLL register fragments ``(bucket, reg)``; readers
  MAX-merge them into the key's NDV.
- ``part_<c>=<v>[_<c>=<v>…]/`` under either tier — one hive partition's
  fragment, replaced (not appended) when the partition is re-landed;
  ``<col>/erasure_<id>/`` — one erasure's negated counters. Readers
  look into subdirectories recursively.
- ``_pending_<id>`` — a sketched write started and has not finished
  (the data dir may hold rows no fragment covers). Every reader
  refuses while one exists.
- ``<col>__hll_invalidated`` — an erasure removed ``<col>__hll``, since
  MAX registers cannot subtract. Writers land no HLL fragment for the
  key and NDV readers refuse until a rebuild or an overwrite.

Append landings add top-level fragments; overwrite landings replace the
whole table dir, so the metadata always describes exactly the data dir.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager
from functools import reduce

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
# Every path under ``_sketches/`` is built by the private helpers below;
# the layout itself is described in the module docstring.

#: metadata subdirectory inside the table path. The leading underscore
#: matters: Spark's file index treats ``_*`` paths as hidden, so a plain
#: ``spark.read.parquet(table_path)`` never sees the sketch rows — the
#: metadata rides INSIDE the table directory invisibly (the same
#: convention as ``_SUCCESS``/``_metadata``).
SKETCH_DIR = "_sketches"

#: commit-intent marker (``_sketches/_pending_<id>``), see "Landed
#: sketch layout": readers refuse while one exists (ADVICE r11 #1).
PENDING_PREFIX = "_pending_"

#: erasure tombstone (``_sketches/<col>__hll_invalidated``), see "Landed
#: sketch layout" (ADVICE r11 #2). Cleared only by a full-scan rebuild
#: or an overwrite (which wipes the whole table dir).
HLL_TOMBSTONE_SUFFIX = "__hll_invalidated"

_HLL_SUFFIX = "__hll"


def _hadoop_fs(spark, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _exists(spark, path: str) -> bool:
    fs, p = _hadoop_fs(spark, path)
    return fs.exists(p)


def _touch(spark, path: str) -> None:
    fs, p = _hadoop_fs(spark, path)
    fs.create(p, True).close()


def _remove(spark, path: str) -> None:
    """Delete ``path`` (recursively) if it exists; a failed delete raises."""
    fs, p = _hadoop_fs(spark, path)
    if fs.exists(p) and not fs.delete(p, True):
        raise IOError(f"failed to delete {path}")


def _sketch_path(path: str, name: str = "", sub: str = "") -> str:
    return "/".join(s for s in (path, SKETCH_DIR, name, sub) if s)


def _read_fragments(spark, path: str, col: str, tier: str = "") -> DataFrame:
    """Every fragment of one key tier, subdirectories included."""
    return spark.read.option("recursiveFileLookup", "true").parquet(
        _sketch_path(path, col + tier)
    )


def _sketch_entries(spark, path: str, dirs: bool) -> list[str]:
    """Names of the dirs (``dirs``) or files directly under _sketches/."""
    fs, p = _hadoop_fs(spark, _sketch_path(path))
    if not fs.exists(p):
        return []
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(p)
        if st.isDirectory() == dirs
    )


def _refuse_if_pending(spark, path: str) -> None:
    pending = [
        n
        for n in _sketch_entries(spark, path, dirs=False)
        if n.startswith(PENDING_PREFIX)
    ]
    if pending:
        raise IOError(
            f"sketch metadata at {path!r} is inconsistent: a sketched write "
            f"crashed before publishing ({pending}) — the data directory "
            "may contain rows the sketches don't cover. Re-run "
            "rebuild_table_sketches() to rescan and republish."
        )


@contextmanager
def _pending_write(spark, path: str):
    """Bracket a non-atomic sketched write: touch ``_pending_<id>`` on
    entry and delete it only when the body returns, so a write that
    raises or dies midway leaves every reader refusing until
    :func:`rebuild_table_sketches` republishes. Yields the marker name."""
    name = f"{PENDING_PREFIX}{uuid.uuid4().hex}"
    marker = _sketch_path(path, name)
    _touch(spark, marker)
    yield name
    _remove(spark, marker)


def _landed_keys(spark, path: str) -> list[str]:
    """The keys with a CMS dir under ``_sketches/`` (no pending check)."""
    return [
        n
        for n in _sketch_entries(spark, path, dirs=True)
        if not n.endswith(_HLL_SUFFIX)
    ]


def _width_error(path: str, col: str, widths) -> ValueError:
    return ValueError(
        f"sketch fragments for {col!r} at {path!r} carry mixed widths "
        f"{sorted(widths)} — rebuild_table_sketches(w=...) rewrites them "
        "at one width"
    )


def _persisted_sketch_width(spark, path: str, col: str) -> int | None:
    """The one ``__cms_w`` that ``col``'s landed CMS fragments carry, or
    None when the key has no fragment dir. Mixed (or no) widths raise
    ValueError; an unreadable fragment raises Spark's read error."""
    if not _exists(spark, _sketch_path(path, col)):
        return None
    raw = _read_fragments(spark, path, col)
    widths = [r["__cms_w"] for r in raw.select("__cms_w").distinct().collect()]
    if len(widths) != 1:
        raise _width_error(path, col, widths)
    return int(widths[0])


def _land_key_sketch(
    df: DataFrame,
    path: str,
    col: str,
    w: int,
    mode: str,
    sub: str = "",
    negate: bool = False,
) -> None:
    """Land ``col``'s fragments of ``df`` into ``<col>[/<sub>]``: the CMS
    counters at width ``w`` (negated for an erasure), then the HLL
    registers into ``<col>__hll[/<sub>]`` unless the key is tombstoned —
    a recreated tier would cover only these rows and silently undercount
    every surviving key (ADVICE r11 #2)."""
    from pyspark.sql import functions as F

    from dwh_etl_framework_spark.operators.sketch import (
        cms_sketch,
        hll_registers,
    )

    cms = cms_sketch(df.select(col), col, w)
    if negate:
        cms = cms.withColumn("cnt", -F.col("cnt"))
    cms.withColumn("__cms_w", F.lit(w)).coalesce(1).write.mode(mode).parquet(
        _sketch_path(path, col, sub)
    )
    if _exists(df.sparkSession, _sketch_path(path, col + HLL_TOMBSTONE_SUFFIX)):
        return
    regs = hll_registers(df.select(col), [], col)
    regs.coalesce(1).write.mode(mode).parquet(
        _sketch_path(path, col + _HLL_SUFFIX, sub)
    )


def _partition_tag(partition_by: list[str], row) -> str:
    return "part_" + "_".join(f"{c}={row[c]}" for c in partition_by)


def _hive_partition_cols(spark, path: str) -> list[str]:
    """The partition columns of a hive-layout data dir, read off its
    first chain of ``<col>=<value>`` subdirectories ([] when flat)."""
    cols: list[str] = []
    fs, p = _hadoop_fs(spark, path)
    while sub := next(
        (
            st.getPath()
            for st in fs.listStatus(p)
            if st.isDirectory()
            and "=" in st.getPath().getName()
            and not st.getPath().getName().startswith(".")
        ),
        None,
    ):
        cols.append(sub.getName().split("=", 1)[0])
        p = sub
    return cols


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
    """F17 + planner statistics: land the table AND, per key column, a
    CMS and an HLL fragment at width ``w`` (module docstring, "Landed
    sketch layout"). ``append`` adds fragments, ``overwrite`` replaces
    the whole table dir, so the sketches always describe exactly the
    data directory's content.

    The data write and the fragment writes are not one atomic commit,
    so a pending marker brackets the span (ADVICE r11 #1). Append mode
    sets it BEFORE the data append; overwrite mode sets it right AFTER
    the data overwrite, which wipes ``_sketches/`` (a crash before the
    marker leaves the metadata absent — already fail-loud). Over an
    erasure tombstone only the CMS fragment lands.

    This is the 100 TB serving shape the x105 decision table claims: the
    broadcast-vs-shuffle choice (:func:`decision_from_metadata`) then
    reads two ≤ d·w counter tables instead of scanning either input —
    per-day/per-partition sketches merge by the same SUM."""
    from dwh_etl_framework_spark.operators.sketch import CMS_W

    eff_w = int(w or CMS_W)
    spark = df.sparkSession
    overwrite = mode == "overwrite"
    # One materialization serves the table write AND every sketch pass:
    # without it, each cms/hll build re-executes the DataFrame's full
    # lineage (2 extra passes per key — a landed master's whole merge
    # plan, multiplied), and a non-deterministic upstream could make the
    # sketches describe different data than was landed (review r11).
    owned = _persist_unless_cached(df)
    try:
        if overwrite:
            write_table(df, path, fmt=fmt, mode=mode, **kwargs)
        else:
            _refuse_if_pending(spark, path)  # don't compound a crash
        with _pending_write(spark, path):
            if not overwrite:
                write_table(df, path, fmt=fmt, mode=mode, **kwargs)
            for col in sketch_keys:
                _land_key_sketch(df, path, col, eff_w, mode)
    finally:
        if owned:
            df.unpersist()


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
    f38 metadata loop claims: a daily ingest job calls this once per
    day, and a RE-RUN of the same day REPLACES both the data partition
    and its ``part_<...>`` fragments (module docstring) instead of
    double-counting.

    ``df`` must contain exactly one distinct combination of
    ``partition_by`` values (validated — it names the fragment
    subdirectory, e.g. ``part_day=2024-01-05``). The data lands under
    Spark's DYNAMIC partition-overwrite mode, so only the touched hive
    partition is replaced (the conf is restored after). A pending marker
    brackets the data and fragment writes, and the tombstone interplay
    is :func:`write_table_with_sketches`'s.

    Width adopts the landed fragments' ``__cms_w`` when ``w`` is not
    given; an explicit conflicting ``w`` raises rather than stranding
    unmergeable fragments. Returns the partition tag."""
    from dwh_etl_framework_spark.operators.sketch import CMS_W

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
        tag = _partition_tag(partition_by, combos[0])
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
        with _pending_write(spark, path):
            previous = spark.conf.get(
                "spark.sql.sources.partitionOverwriteMode", "static"
            )
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", "dynamic"
            )
            try:
                write_table(
                    df, path, fmt=fmt, mode="overwrite",
                    partition_by=partition_by,
                )
            finally:
                spark.conf.set(
                    "spark.sql.sources.partitionOverwriteMode", previous
                )
            for col in sketch_keys:
                _land_key_sketch(df, path, col, eff_w, "overwrite", sub=tag)
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
    """Full-scan repair of a table's sketch metadata: recompute every
    key's CMS and HLL fragments from the CURRENT data directory, replace
    the key dirs, and clear every pending marker and erasure tombstone.
    This is the recovery path the loud failures point at — a crashed
    sketched write or an erasure-invalidated NDV tier.

    A hive-partitioned data dir (partition columns read off its
    ``<col>=<value>`` layout) gets one ``part_<...>`` fragment per
    partition, the tags :func:`write_partition_with_sketches` uses, so a
    later re-land of a day replaces that day's rows instead of adding
    them a second time; a flat dir gets one fragment per tier.

    The rebuild runs under its own pending marker, so a crash midway
    leaves the metadata loud-broken (re-run to finish), never silently
    partial. Returns the rebuilt key list. ``sketch_keys`` defaults to
    the keys with existing sketch dirs; ``w`` defaults to each key's
    landed width (:data:`CMS_W` when it has none). Mixed widths or an
    unreadable fragment raise unless ``w`` is given."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from dwh_etl_framework_spark.operators.sketch import CMS_W

    if sketch_keys is None:
        sketch_keys = _landed_keys(spark, path)
    if not sketch_keys:
        raise ValueError(
            f"no sketched keys under {path!r} — pass sketch_keys explicitly"
        )
    widths = {
        col: int(w)
        if w is not None
        else _persisted_sketch_width(spark, path, col) or CMS_W
        for col in sketch_keys
    }
    partition_by = _hive_partition_cols(spark, path)

    df = spark.read.format(fmt).load(path).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        parts = [("", df)]
        if partition_by:
            parts = []
            for row in df.select(*partition_by).distinct().collect():
                part = df
                for c in partition_by:
                    part = part.filter(F.col(c).eqNullSafe(row[c]))
                parts.append((_partition_tag(partition_by, row), part))
        with _pending_write(spark, path) as own:
            for name in _sketch_entries(spark, path, dirs=False):
                if name != own and (
                    name.startswith(PENDING_PREFIX)
                    or name.endswith(HLL_TOMBSTONE_SUFFIX)
                ):
                    _remove(spark, _sketch_path(path, name))
            for col in sketch_keys:
                _remove(spark, _sketch_path(path, col))
                _remove(spark, _sketch_path(path, col + _HLL_SUFFIX))
                for tag, part in parts:
                    _land_key_sketch(
                        part, path, col, widths[col], "overwrite", sub=tag
                    )
    finally:
        df.unpersist()
    return list(sketch_keys)


def read_table_sketch(spark, path: str, col: str) -> tuple[DataFrame, int]:
    """Merge-on-read of a persisted key sketch: SUM every counter
    fragment of ``col`` (module docstring) into one (r, col, cnt) table.
    Returns ``(sketch, w)`` and refuses mixed widths (fragments written
    at different ``w`` do not merge — the plans/steps width guard) as
    well as a crashed unpublished write (pending marker — the data dir
    may hold rows no fragment covers)."""
    from pyspark.sql import functions as F

    _refuse_if_pending(spark, path)
    w = _persisted_sketch_width(spark, path, col)
    merged = (
        _read_fragments(spark, path, col)  # no fragment dir: Spark's error
        .groupBy("r", "col")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    return merged, w


def sketched_keys(spark, path: str) -> list[str]:
    """The key columns a landed table carries sketches for (the
    ``_sketches/`` child dirs, HLL siblings excluded)."""
    _refuse_if_pending(spark, path)
    return _landed_keys(spark, path)


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

    - the non-subtractable HLL tier (MAX registers) is removed FIRST and
      the key tombstoned (module docstring) — a crash mid-way leaves NDV
      readers failing loudly, never serving erased keys;
    - each negative fragment lands with ``mode("overwrite")`` in its own
      ``erasure_<erasure_id>`` subdirectory, so re-running the same
      erasure (crash recovery, at-least-once orchestration) REPLACES its
      fragment instead of double-subtracting. ``erasure_id`` must
      uniquely name the erasure batch (e.g. the request id)."""
    keys = cols if cols is not None else sketched_keys(spark, path)
    if not keys:
        raise ValueError(f"no sketched keys found under {path!r}")
    for col in keys:
        _remove(spark, _sketch_path(path, col + _HLL_SUFFIX))
        _touch(spark, _sketch_path(path, col + HLL_TOMBSTONE_SUFFIX))
        _, w = read_table_sketch(spark, path, col)
        _land_key_sketch(
            erased, path, col, w, "overwrite",
            sub=f"erasure_{erasure_id}", negate=True,
        )


def read_table_ndv(spark, path: str, col: str) -> int:
    """Approximate distinct count of a persisted key, merge-on-read:
    MAX the HLL register fragments, then the all-integer estimate
    (``operators/sketch.hll_estimate`` — ~2% at the configured register
    count) with the linear-counting correction. Never touches the data
    files; one :func:`read_chain_stats` job.

    Refuses loudly while the key carries an erasure tombstone or the
    table a pending-write marker: MAX registers can't subtract, so a
    post-erasure NDV needs a full rebuild first."""
    _, ndvs = read_chain_stats(spark, [], [(path, col)])
    return ndvs[0]


def _ndv_linear_correct(est: int, n_buckets_used: int) -> int:
    """Flajolet's small-range (linear counting) correction applied by
    :func:`read_chain_stats` — the raw estimator is biased below ~2.5m;
    with empty registers, m·ln(m/V) is the better estimate. Driver-side
    float math is fine: the NDV is a costing statistic, not an oracle
    value (the oracled x84 twin pins the integer-only raw formula)."""
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
    guide §5 "the driver should do almost no data work"): one tiny Spark
    job per statistic would cost planning a k-table chain ~2k driver
    round-trips dominated by fixed per-job overhead — measured ~3 s per
    warm f40 call at sf0.1. This reader unions every per-statistic
    single-row aggregate into ONE plan and collects once. The width
    check runs inside that job (``collect_set`` of ``__cms_w``), and the
    pending/tombstone refusals come first.

    ``counts``: (table_path, key) pairs → exact row counts from the CMS
    tier. ``ndvs``: (table_path, key) pairs → HLL NDVs. Returns the two
    result lists in input order."""
    from pyspark.sql import functions as F

    from dwh_etl_framework_spark.operators.sketch import CMS_D, hll_estimate

    for path in {p for p, _ in counts} | {p for p, _ in ndvs}:
        _refuse_if_pending(spark, path)
    for path, col in ndvs:
        if _exists(spark, _sketch_path(path, col + HLL_TOMBSTONE_SUFFIX)):
            raise IOError(
                f"the NDV tier for {col!r} at {path!r} was invalidated by "
                "a right-to-erasure rewrite (MAX registers cannot "
                "subtract) — run rebuild_table_sketches() to rescan, or "
                "overwrite the table with a fresh sketched write"
            )

    frames = []
    for i, (path, col) in enumerate(counts):
        frames.append(
            _read_fragments(spark, path, col).agg(
                (F.sum("cnt") / F.lit(CMS_D)).cast("long").alias("n"),
                F.collect_set("__cms_w").cast("array<long>").alias("aux"),
            ).select(F.lit(f"c{i}").alias("tag"), "n", "aux")
        )
    for i, (path, col) in enumerate(ndvs):
        merged = (
            _read_fragments(spark, path, col, _HLL_SUFFIX)
            .groupBy("bucket")
            .agg(F.max("reg").alias("reg"))
        )
        frames.append(
            hll_estimate(merged, []).select(
                F.lit(f"d{i}").alias("tag"),
                F.col("hll_estimate").cast("long").alias("n"),
                F.array(F.col("n_buckets_used"))
                .cast("array<long>")
                .alias("aux"),
            )
        )
    rows = {r["tag"]: r for r in reduce(DataFrame.unionByName, frames).collect()}

    ns: list[int] = []
    for i, (path, col) in enumerate(counts):
        r = rows[f"c{i}"]
        if len(r["aux"]) != 1:
            raise _width_error(path, col, r["aux"])
        ns.append(int(r["n"]))
    ds = [
        _ndv_linear_correct(int(rows[f"d{i}"]["n"]), int(rows[f"d{i}"]["aux"][0]))
        for i in range(len(ndvs))
    ]
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
    distinct counts from the HLL tier, all in one
    :func:`read_chain_stats` job.

    Division of labor (NOTES r10 weakness #5): the CMS inner product
    NEVER undercounts, so exchanges size from it; this estimate is
    TIGHT on fact-fact joins where the inner-product bound is loose,
    but assumes per-key uniformity and key containment, so it CAN
    undercount under skew — use it for costing/comparison, never for
    the never-undercounts exchange sizing."""
    sides = [(left_path, left_key), (right_path, right_key)]
    (n_l, n_r), (ndv_l, ndv_r) = read_chain_stats(spark, sides, sides)
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

    The k=3 case of :func:`choose_chain_join_order_from_metadata`,
    reported pairwise: ``est_lm_first``/``est_mr_first`` are the two
    candidate first-join sizes (the x109 spec verbatim —
    ``tests/test_join_order.py`` pins this result equal to the oracled
    inline computation) and ``chosen`` is ``lm_first`` when the DP joins
    left and mid first (ties go to ``lm_first``). Python's unbounded
    ints do the products, so (unlike the BIGINT-certified query) this
    entry point has no 2^63 ceiling. Costing-tier caveat inherited from
    :func:`ndv_join_estimate`: the NDV estimate assumes per-key
    uniformity — use the CMS bound, not this, to SIZE exchanges."""
    from dwh_etl_framework_spark.operators.sketch import (
        chain_interval_estimates,
    )

    out = choose_chain_join_order_from_metadata(spark, [left, mid, right])
    n_l, n_m, n_r = out["n_rows"]
    est = chain_interval_estimates(out["n_rows"], out["edge_ndvs"])
    return {
        "n_left": n_l,
        "n_mid": n_m,
        "n_right": n_r,
        "est_lm_first": est[(0, 1)],
        "est_mr_first": est[(1, 2)],
        "est_final_rows": out["est_final"],
        "chosen": "lm_first" if set(out["order"][:2]) == {0, 1} else "mr_first",
    }


def choose_chain_join_order_from_metadata(spark, tables: list[tuple]) -> dict:
    """:func:`choose_join_order_from_metadata` generalized to a k-table
    chain (the x110 interval DP,
    :func:`~dwh_etl_framework_spark.operators.sketch.chain_join_order`):
    every statistic comes from the landed ``_sketches/`` tiers — exact
    row counts from the CMS counters, edge NDVs from the HLL registers —
    so planning a k-way join costs one batched metadata job
    (:func:`read_chain_stats`) and ZERO input scans.

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

    if len(tables) < 2:
        raise ValueError("a join chain needs at least 2 tables")
    # a table's count reads its first key; edge i's NDVs read table i's
    # right (last) key and table i+1's left (first) key
    ns, raw_ds = read_chain_stats(
        spark,
        counts=[(t[0], t[1]) for t in tables],
        ndvs=[
            side
            for a, b in zip(tables, tables[1:])
            for side in ((a[0], a[-1]), (b[0], b[1]))
        ],
    )
    ds = [max(raw_ds[i], raw_ds[i + 1], 1) for i in range(0, len(raw_ds), 2)]
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
