"""Keyed dedup + conditional upsert (SURVEY.md §2.5 W1/W2).

Re-expresses the reference's PostgreSQL idioms:

- ``SELECT DISTINCT ON (keys) ... ORDER BY keys, modified_dt DESC``
  (/root/reference/queries.py:133,150) → ``latest_wins``.
- ``INSERT ... ON CONFLICT (pk) DO UPDATE ... WHERE target.modified_dt <
  EXCLUDED.modified_dt`` (/root/reference/queries.py:151-160) →
  ``merge_upsert`` — union + window dedup with target precedence on ties,
  which is exactly the strictly-newer guard. A Delta ``MERGE INTO`` is the
  transactional variant; this parquet-only path is idempotent and
  rerun-safe the same way the reference's guard makes its upsert
  (/root/reference/etl.py:317-327) idempotent.

Scale: both operators are one hash shuffle on the natural key; no
collect, no skew beyond the key distribution itself (salt upstream if a
single natural key is hot — not possible here since keys are unique in
the target).
"""

from __future__ import annotations

import operator
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_PREC = "__prec"
_RN = "__rn"
_FILE = "__file"


def latest_wins(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """Keep exactly one row per ``keys``, the first under ``order_by``.

    ``order_by`` should end with a unique tiebreaker for determinism
    (the reference's DISTINCT ON has the same requirement, implicitly).
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) == 1)
        .drop(_RN)
    )


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    version_col: str,
) -> DataFrame:
    """Upsert ``source`` into ``target`` keyed by ``keys``; a source row
    replaces the target row only when strictly newer on ``version_col``.

    On a version tie the target wins — the ``<`` (not ``<=``) guard of the
    reference (/root/reference/queries.py:160). Source rows with no target
    match are inserted.
    """
    u = target.withColumn(_PREC, F.lit(0)).unionByName(
        source.withColumn(_PREC, F.lit(1))
    )
    deduped = latest_wins(
        u, keys, [F.desc(version_col), F.asc(_PREC)]
    )
    return deduped.drop(_PREC)


def merge_into_parquet(
    spark,
    path: str,
    source: DataFrame,
    keys: Sequence[str],
    version_col: str,
    partition_by: Sequence[str] = (),
) -> None:
    """Copy-on-write ``MERGE INTO`` of ``source`` into the parquet table at
    ``path`` under the strictly-newer guard (``merge_upsert``).

    A partitioned table is rewritten only in the partitions the merge
    touches — those the source writes into plus those that hold a source
    key now — in one write with dynamic partition overwrite, so every
    other partition's files stay byte-identical on disk. This is the
    parquet-native stand-in for a transactional MERGE (Delta/Iceberg are
    not dependencies, see README): dynamic overwrite plays the role of
    MERGE's file-level skipping, so a refresh touching one day of a
    year-partitioned table rewrites 1/365th of it (the reference's
    row-level ``ON CONFLICT`` upsert, its queries.py:151-160, is
    incremental the same way). Without a transaction log the
    swap is atomic per partition directory rather than global —
    acceptable for idempotent strictly-newer merges, which converge on
    rerun after any partial failure.

    A key may change partitions (its newer row carries another partition
    value): the partition it leaves is rewritten without it, and one it
    leaves empty is deleted. NULL partition values are matched null-safe.

    An unpartitioned table cannot be overwritten while it is read, so it
    is merged into ``<path>__staging``, which then replaces ``path`` by
    rename — still one write.

    The source schema is the table's contract: the table is read with it
    (partition-directory type inference would re-type a string partition
    value '01' as int 1 and land the merged rows in a new ``d=1``
    directory beside the stale ``d=01``). Before anything is written, the
    source's data columns are checked against one table file's footer,
    and the partition directories of the files the merge replaces
    against ``partition_by``; a mismatch raises ``ValueError``.

    Scale: one collect gathers one row per touched partition from a
    key-and-partition-column scan of the table semi-joined to the
    broadcast source keys; the merge reads only the touched partitions
    (PartitionFilters) and shuffles their rows plus the source, which
    is computed once.
    """
    # The source is read three times (keys, partition values, merge).
    # Lazy: the first job stores it and the later ones read that copy,
    # so they agree on its rows even for a nondeterministic or costly
    # feed — a merge row landing in a partition the pruned read skipped
    # would replace that partition's rows — at no job of its own.
    _merge_stored(
        spark, path, source.localCheckpoint(eager=False), keys,
        version_col, partition_by,
    )


def _merge_stored(spark, path, source, keys, version_col, partition_by):
    """``merge_into_parquet`` of a ``source`` that is already stored, so
    that every read of it sees the same rows."""
    keys, partition_by = list(keys), list(partition_by)
    root, fs = _hadoop_path(spark, path)
    root = fs.makeQualified(root)
    _check_columns(spark, fs, root, source, partition_by)
    target = spark.read.schema(source.schema).parquet(path)
    if not partition_by:
        staging = path.rstrip("/") + "__staging"
        merge_upsert(target, source, keys, version_col).write.mode(
            "overwrite"
        ).parquet(staging)
        _replace_dir(spark, staging, path)
        return
    # Per touched partition, one file that holds a source key there now
    # (NULL where the partition only receives source rows).
    holders = (
        target.select(
            *partition_by, *keys, F.col("_metadata.file_path").alias(_FILE)
        )
        .join(F.broadcast(source.select(*keys)), keys, "left_semi")
        .drop(*keys)
    )
    written = source.select(
        *partition_by, F.lit(None).cast("string").alias(_FILE)
    )
    touched = (
        holders.unionByName(written)
        .groupBy(*partition_by)
        .agg(F.min(_FILE).alias(_FILE))
        .collect()
    )
    if not touched:
        return
    jvm = spark._jvm
    held = [
        jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(r[_FILE]))
        for r in touched
        if r[_FILE] is not None
    ]
    dirs = [_partition_dir(root, f, partition_by) for f in held]
    pruned = target.filter(
        _in_partitions(partition_by, [r[:-1] for r in touched])
    )
    merged = merge_upsert(pruned, source, keys, version_col)
    mode = "spark.sql.sources.partitionOverwriteMode"
    old_mode = spark.conf.get(mode)
    spark.conf.set(mode, "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy(*partition_by).parquet(
            path
        )
    finally:
        spark.conf.set(mode, old_mode)
    # Dynamic overwrite replaces the directory of every partition that
    # received rows and leaves one that received none as it was. A
    # touched partition that still holds its pre-write file therefore
    # lost all its rows to other partitions: delete it.
    for f, d in zip(held, dirs):
        if fs.exists(f):
            fs.delete(d, True)


def merge_upsert_partitioned(
    spark,
    target_path: str,
    source: DataFrame,
    keys: Sequence[str],
    version_col: str,
    partition_col: str,
) -> None:
    """``merge_into_parquet`` for a fact table partitioned on one column
    that is never NULL (an event's date): only the touched partitions
    are read, merged and rewritten.

    A NULL partition value in ``source`` means a broken feed here, not a
    row to file under the default partition directory, so it is refused.
    """
    # Stored before the check, so the check and the merge read one copy
    # of the source's rows and an expensive feed runs once.
    source = source.localCheckpoint(eager=False)
    if not source.filter(F.col(partition_col).isNull()).isEmpty():
        raise ValueError(
            f"source has NULL values in partition column "
            f"'{partition_col}' — fill or filter them before merging"
        )
    _merge_stored(
        spark, target_path, source, keys, version_col, [partition_col]
    )


def _in_partitions(cols: list[str], values: list[tuple]) -> Column:
    """True for rows whose partition tuple is one of ``values``, NULLs
    included (plain ``=`` / IN never match NULL)."""
    return reduce(
        operator.or_,
        [
            reduce(
                operator.and_,
                [F.col(c).eqNullSafe(F.lit(v)) for c, v in zip(cols, row)],
            )
            for row in values
        ],
    )


def _check_columns(spark, fs, root, source, partition_by) -> None:
    """Raise unless the data files of the table at ``root`` hold exactly
    the columns ``source`` writes into them. The columns come from the
    footer of the first data file listed, read on the driver: no job."""
    files = fs.listFiles(root, True)
    while files.hasNext():
        f = files.next().getPath()
        rel = f.toUri().getPath()[len(root.toUri().getPath()):]
        if not any(p[:1] in ("_", ".") for p in rel.split("/") if p):
            break
    else:
        return  # no data file yet: nothing to disagree with
    jvm = spark._jvm
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            f, spark._jsc.hadoopConfiguration()
        )
    )
    try:
        schema = reader.getFooter().getFileMetaData().getSchema()
    finally:
        reader.close()
    table = sorted(t.getName() for t in schema.getFields())
    data = sorted(c for c in source.columns if c not in partition_by)
    if table != data:
        raise ValueError(
            f"{root} holds data columns {table}, but the merge would write "
            f"{data} (partitioned by {partition_by})"
        )


def _partition_dir(root, file, partition_by: list[str]):
    """The partition directory of data ``file`` of the table at ``root``:
    one ``col=value`` level per partition column, in order, directly
    below ``root``. Raises if ``file`` does not sit in one."""
    d = p = file.getParent()
    for col in reversed(partition_by):
        if p is None or not p.getName().startswith(f"{col}="):
            break
        p = p.getParent()
    else:
        if p is not None and p.toUri().getPath() == root.toUri().getPath():
            return d
    raise ValueError(
        f"{file} is not in a partition directory "
        f"{'/'.join(c + '=…' for c in partition_by)} of {root}"
    )


def _hadoop_path(spark, path):
    """(Hadoop ``Path``, its ``FileSystem``) for a path string or a
    ``java.net.URI`` (Spark reports file paths as percent-encoded URIs)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def _replace_dir(spark, src: str, dst: str) -> None:
    """Move directory ``src`` onto ``dst``, replacing it."""
    s, fs = _hadoop_path(spark, src)
    d, _ = _hadoop_path(spark, dst)
    fs.delete(d, True)
    if not fs.rename(s, d):
        raise OSError(f"could not move {src} to {dst}")


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Row-level diff between two snapshots of a table: every key is
    classified added / removed / changed / unchanged — the regression
    check a pipeline runs between yesterday's and today's output (or
    between an old and a rewritten pipeline) before promoting it.

    One full-outer shuffle join on the keys; change detection compares
    the columns directly (null-safe), so no hashing pass over either
    side. Output: keys, status, plus old_/new_ prefixed compare columns.

    Scale: both sides shuffle once on the key — the same cost as any
    key-partitioned write of the snapshots; with bucketed snapshots the
    exchange disappears entirely (see tests/test_physical.py's bucketed
    join checks).
    """
    keys = list(keys)
    # Explicit presence markers: deriving presence from compare-column
    # nullness would misclassify rows whose compare columns are all NULL
    # (present-but-NULL old vs new would read as "added"/"removed").
    o = old.select(
        *keys,
        F.lit(True).alias("__in_old"),
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
    )
    n = new.select(
        *keys,
        F.lit(True).alias("__in_new"),
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
    )
    joined = o.join(n, keys, "full_outer")
    in_old = F.col("__in_old").isNotNull()
    in_new = F.col("__in_new").isNotNull()
    same = reduce(
        lambda a, b: a & b,
        [
            F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
            for c in compare_cols
        ],
    )
    status = (
        F.when(~in_old, F.lit("added"))
        .when(~in_new, F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(*keys, status.alias("status"), *[
        c for pair in (
            (f"old_{c}", f"new_{c}") for c in compare_cols
        ) for c in pair
    ])
