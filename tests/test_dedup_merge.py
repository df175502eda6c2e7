"""Unit tests for W1/W2 semantics (SURVEY.md §5.3): latest-wins dedup and
the strictly-newer merge guard, including tie / stale / fresh / insert
cases and idempotence."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from seng550_a3_etl_spark.operators.dedup import latest_wins, merge_upsert


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_latest_wins_tiebreak(spark):
    df = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00"), "a"),
            (1, _ts("2024-01-01T10:00:00"), "b"),  # ts tie → higher tag wins
            (1, _ts("2024-01-01T09:00:00"), "c"),
            (2, _ts("2024-01-01T00:00:00"), "d"),
        ],
        "k int, ts timestamp, tag string",
    )
    out = latest_wins(df, ["k"], [F.desc("ts"), F.desc("tag")])
    got = {r.k: r.tag for r in out.collect()}
    assert got == {1: "b", 2: "d"}


def test_merge_upsert_guard(spark):
    schema = "k int, ts timestamp, v string"
    target = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00"), "t1"),  # fresher source → replaced
            (2, _ts("2024-01-01T10:00:00"), "t2"),  # staler source → kept
            (3, _ts("2024-01-01T10:00:00"), "t3"),  # tie → target wins (strict <)
            (4, _ts("2024-01-01T10:00:00"), "t4"),  # no source row → kept
        ],
        schema,
    )
    source = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T11:00:00"), "s1"),
            (2, _ts("2024-01-01T09:00:00"), "s2"),
            (3, _ts("2024-01-01T10:00:00"), "s3"),
            (5, _ts("2024-01-01T08:00:00"), "s5"),  # new key → inserted
        ],
        schema,
    )
    out = merge_upsert(target, source, ["k"], "ts")
    got = {r.k: r.v for r in out.collect()}
    assert got == {1: "s1", 2: "t2", 3: "t3", 4: "t4", 5: "s5"}


def test_merge_upsert_idempotent(spark):
    """Re-applying the same source must be a no-op (the property the
    reference's ON CONFLICT guard provides across ETL reruns)."""
    schema = "k int, ts timestamp, v string"
    target = spark.createDataFrame([(1, _ts("2024-01-01T10:00:00"), "t1")], schema)
    source = spark.createDataFrame([(1, _ts("2024-01-01T11:00:00"), "s1")], schema)
    once = merge_upsert(target, source, ["k"], "ts")
    twice = merge_upsert(once, source, ["k"], "ts")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_merge_upsert_partitioned_rewrites_only_touched(spark, tmp_path):
    """The incremental merge must (a) equal a full-table merge logically
    and (b) physically leave partitions without source rows untouched."""
    import os

    from seng550_a3_etl_spark.operators.dedup import merge_upsert_partitioned

    path = str(tmp_path / "fact")
    schema = "k int, d string, ts timestamp, v string"
    target = spark.createDataFrame(
        [
            (1, "2024-01-01", _ts("2024-01-01T10:00:00"), "t1"),
            (2, "2024-01-02", _ts("2024-01-02T10:00:00"), "t2"),
            (3, "2024-01-03", _ts("2024-01-03T10:00:00"), "t3"),
        ],
        schema,
    )
    target.write.partitionBy("d").parquet(path)

    def files(day):
        p = f"{path}/d={day}"
        return sorted(
            (f, os.path.getmtime(f"{p}/{f}"), os.path.getsize(f"{p}/{f}"))
            for f in os.listdir(p)
            if f.endswith(".parquet")
        )

    before_d2, before_d3 = files("2024-01-02"), files("2024-01-03")
    source = spark.createDataFrame(
        [
            (1, "2024-01-01", _ts("2024-01-01T11:00:00"), "s1"),  # fresher
            (4, "2024-01-01", _ts("2024-01-01T09:00:00"), "s4"),  # insert
        ],
        schema,
    )
    merge_upsert_partitioned(spark, path, source, ["k"], "ts", "d")

    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "s1", 2: "t2", 3: "t3", 4: "s4"}
    # untouched partitions: same files, same mtimes, same sizes
    assert files("2024-01-02") == before_d2
    assert files("2024-01-03") == before_d3


def test_merge_upsert_partitioned_string_partition_roundtrip(spark, tmp_path):
    """Partition values that don't survive directory-name type inference
    (zero-padded strings) must still merge in place: reading the target
    with inferred types would re-type d='01' as int 1 and write a NEW
    d=1 directory while the stale d=01 row survives."""
    from seng550_a3_etl_spark.operators.dedup import merge_upsert_partitioned

    path = str(tmp_path / "fact_pad")
    schema = "k int, d string, ts timestamp, v string"
    spark.createDataFrame(
        [(1, "01", _ts("2024-01-01T10:00:00"), "t1")], schema
    ).write.partitionBy("d").parquet(path)
    source = spark.createDataFrame(
        [(1, "01", _ts("2024-01-01T11:00:00"), "s1")], schema
    )
    merge_upsert_partitioned(spark, path, source, ["k"], "ts", "d")
    rows = (
        spark.read.schema(schema).parquet(path).collect()
    )
    assert [(r.k, r.d, r.v) for r in rows] == [(1, "01", "s1")]


def test_merge_upsert_partitioned_idempotent(spark, tmp_path):
    """Re-applying the same source must be a no-op — the property that
    makes the per-partition-directory swap safe to rerun after a partial
    failure (the replacement for transactional atomicity)."""
    from seng550_a3_etl_spark.operators.dedup import merge_upsert_partitioned

    path = str(tmp_path / "fact_idem")
    schema = "k int, d string, ts timestamp, v string"
    spark.createDataFrame(
        [
            (1, "2024-01-01", _ts("2024-01-01T10:00:00"), "t1"),
            (2, "2024-01-02", _ts("2024-01-02T10:00:00"), "t2"),
        ],
        schema,
    ).write.partitionBy("d").parquet(path)
    source = spark.createDataFrame(
        [(1, "2024-01-01", _ts("2024-01-01T11:00:00"), "s1")], schema
    )

    def snapshot():
        return sorted(
            (r.k, r.d, str(r.ts), r.v)
            for r in spark.read.schema(schema).parquet(path).collect()
        )

    merge_upsert_partitioned(spark, path, source, ["k"], "ts", "d")
    once = snapshot()
    merge_upsert_partitioned(spark, path, source, ["k"], "ts", "d")
    assert snapshot() == once
    assert [(r[0], r[3]) for r in once] == [(1, "s1"), (2, "t2")]


def test_merge_upsert_partitioned_moved_key(spark, tmp_path):
    """A key whose newer row lands in another partition must not survive
    in its old one, and a partition it leaves empty is deleted —
    dynamic overwrite by itself never touches a partition that receives
    no rows."""
    import os

    from seng550_a3_etl_spark.operators.dedup import merge_upsert_partitioned

    path = str(tmp_path / "fact_move")
    schema = "k int, d string, ts timestamp, v string"
    spark.createDataFrame(
        [
            (1, "2024-01-01", _ts("2024-01-01T10:00:00"), "t1"),
            (2, "2024-01-02", _ts("2024-01-02T10:00:00"), "t2"),
        ],
        schema,
    ).write.partitionBy("d").parquet(path)
    source = spark.createDataFrame(
        [(2, "2024-01-01", _ts("2024-01-02T11:00:00"), "s2")], schema
    )
    merge_upsert_partitioned(spark, path, source, ["k"], "ts", "d")
    rows = spark.read.schema(schema).parquet(path).collect()
    assert sorted((r.k, r.d, r.v) for r in rows) == [
        (1, "2024-01-01", "t1"), (2, "2024-01-01", "s2")
    ]
    assert not os.path.exists(f"{path}/d=2024-01-02")


def test_merge_upsert_partitioned_rejects_null_partition(spark, tmp_path):
    import pytest

    from seng550_a3_etl_spark.operators.dedup import merge_upsert_partitioned

    path = str(tmp_path / "fact_null")
    schema = "k int, d string, ts timestamp, v string"
    spark.createDataFrame(
        [(1, "2024-01-01", _ts("2024-01-01T10:00:00"), "t1")], schema
    ).write.partitionBy("d").parquet(path)
    source = spark.createDataFrame(
        [(2, None, _ts("2024-01-01T11:00:00"), "s2")], schema
    )
    with pytest.raises(ValueError, match="NULL values in partition column"):
        merge_upsert_partitioned(spark, path, source, ["k"], "ts", "d")


def test_merge_upsert_partitioned_computes_source_once(spark, tmp_path):
    """The NULL-partition check and the merge read one stored copy of the
    source: a costly feed runs once, and the rows checked are the rows
    merged."""
    from seng550_a3_etl_spark.operators.dedup import merge_upsert_partitioned

    path = str(tmp_path / "fact_once")
    schema = "k int, d string, ts timestamp, v string"
    spark.createDataFrame(
        [(1, "2024-01-01", _ts("2024-01-01T10:00:00"), "t1")], schema
    ).write.partitionBy("d").parquet(path)
    calls = spark.sparkContext.accumulator(0)

    def day(k):
        calls.add(1)
        return f"2024-01-0{k}"

    source = spark.range(1, 4, numPartitions=3).select(
        F.col("id").cast("int").alias("k"),
        F.udf(day, "string")("id").alias("d"),
        F.lit(_ts("2024-01-01T11:00:00")).alias("ts"),
        F.lit("s").alias("v"),
    )
    merge_upsert_partitioned(spark, path, source, ["k"], "ts", "d")
    rows = spark.read.schema(schema).parquet(path).collect()
    assert sorted((r.k, r.d, r.v) for r in rows) == [
        (1, "2024-01-01", "s"), (2, "2024-01-02", "s"), (3, "2024-01-03", "s")
    ]
    assert calls.value == 3


def test_snapshot_diff_null_compare_columns(spark):
    """Presence must come from join-side membership, not compare-column
    nullness: a present-but-all-NULL row is 'changed' when the other
    side has a value, 'unchanged' when both sides are NULL, and
    added/removed strictly reflect key membership."""
    from seng550_a3_etl_spark.operators.dedup import snapshot_diff

    schema = "k int, v int"
    old = spark.createDataFrame(
        [(1, None), (2, 1), (3, None), (4, 7)], schema
    )
    new = spark.createDataFrame(
        [(1, 1), (2, None), (3, None), (5, None)], schema
    )
    out = snapshot_diff(old, new, ["k"], ["v"])
    got = {r.k: r.status for r in out.collect()}
    assert got == {
        1: "changed",  # old NULL → new 1 (not "added")
        2: "changed",  # old 1 → new NULL (not "removed")
        3: "unchanged",  # NULL on both sides, key present in both
        4: "removed",
        5: "added",  # new row whose only compare column is NULL
    }


def test_asof_join_edges(spark):
    from seng550_a3_etl_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00"), "before_any"),
            (1, _ts("2024-01-01T12:00:00"), "equal_ts"),
            (1, _ts("2024-01-01T15:00:00"), "after_two"),
            (2, _ts("2024-01-01T10:00:00"), "no_right_key"),
        ],
        "k int, lts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T12:00:00"), "r1"),
            (1, _ts("2024-01-01T13:00:00"), "r2"),
        ],
        "k int, rts timestamp, rv string",
    )
    out = asof_join(left, right, by=["k"], left_ts="lts", right_ts="rts")
    got = {r.tag: r.rv for r in out.collect()}
    # before any right row → null; equal ts → inclusive match; later → latest
    assert got == {
        "before_any": None,
        "equal_ts": "r1",
        "after_two": "r2",
        "no_right_key": None,
    }

    fwd = asof_join(
        left, right, by=["k"], left_ts="lts", right_ts="rts", direction="forward"
    )
    got_f = {r.tag: r.rv for r in fwd.collect()}
    assert got_f == {
        "before_any": "r1",
        "equal_ts": "r1",
        "after_two": None,
        "no_right_key": None,
    }
