"""Gold-table lifecycle tests (SURVEY.md §3.E1 stages 5-6): partitioned
persist (matview analog), incremental merge refresh with the
strictly-newer guard, and W3 create-if-absent idempotence."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from seng550_a3_etl_spark.catalog import load_tables
from seng550_a3_etl_spark.plans.gold import (
    refresh_gold_incremental,
    save_gold,
)
from tests.conftest import SF_ORACLE
from tests.oracle_harness import canonical_rows


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_save_gold_partitioned_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-02", 20.0)],
        "k int, d string, v double",
    )
    path = str(tmp_path / "gold")
    save_gold(df, path, partition_by=["d"])
    back = spark.read.parquet(path)
    # partition-column type inference promotes the date strings to DATE —
    # exactly what date-partition pruning wants
    assert sorted((r.k, str(r.d), r.v) for r in back.collect()) == [
        (1, "2024-01-01", 10.0),
        (2, "2024-01-02", 20.0),
    ]
    # partition pruning: a filter on the partition key reads one partition
    pruned = back.filter(F.col("d") == "2024-01-01")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() == 1
    assert "PartitionFilters: [isnotnull(d" in plan


def test_refresh_gold_incremental(spark, tmp_path):
    schema = "k int, ts timestamp, v string, d string"
    path = str(tmp_path / "facts")
    initial = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00"), "t1", "2024-01-01"),
            (2, _ts("2024-01-01T10:00:00"), "t2", "2024-01-01"),
        ],
        schema,
    )
    save_gold(initial, path, partition_by=["d"])

    batch = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T11:00:00"), "s1", "2024-01-01"),  # fresher
            (2, _ts("2024-01-01T09:00:00"), "s2", "2024-01-01"),  # staler
            (3, _ts("2024-01-01T08:00:00"), "s3", "2024-01-02"),  # new
        ],
        schema,
    )
    refreshed = refresh_gold_incremental(
        spark, path, batch, keys=["k"], version_col="ts", partition_by=["d"]
    )
    got = {r.k: r.v for r in refreshed.collect()}
    assert got == {1: "s1", 2: "t2", 3: "s3"}

    # idempotence: same batch again → unchanged (W3/guard rerun safety)
    again = refresh_gold_incremental(
        spark, path, batch, keys=["k"], version_col="ts", partition_by=["d"]
    )
    assert {r.k: r.v for r in again.collect()} == got


def _parquet_files(root):
    """{partition directory: sorted (file, mtime_ns, size)} under ``root``."""
    out = {}
    for dirpath, _, names in os.walk(root):
        stats = sorted(
            (n, st.st_mtime_ns, st.st_size)
            for n in names
            if n.endswith(".parquet")
            for st in [os.stat(os.path.join(dirpath, n))]
        )
        if stats:
            out[os.path.relpath(dirpath, root)] = stats
    return out


_FACTS = "k int, ts timestamp, v string, d string"


def test_refresh_gold_moves_key_between_partitions(spark, tmp_path):
    """A key whose newer row carries another partition value leaves no
    stale copy behind; a partition it empties is deleted (dynamic
    overwrite alone would keep it); partitions holding no batch key keep
    their files byte-identical; nothing is staged beside the table; a
    rerun changes nothing."""
    path = str(tmp_path / "facts")
    odd = "2024-01-02 a/b%"  # escaped in its directory name
    save_gold(
        spark.createDataFrame(
            [
                (1, _ts("2024-01-01T10:00:00"), "t1", "2024-01-01"),
                (2, _ts("2024-01-02T10:00:00"), "t2", odd),
                (3, _ts("2024-01-03T10:00:00"), "t3", "2024-01-03"),
            ],
            _FACTS,
        ),
        path,
        partition_by=["d"],
    )
    before = _parquet_files(path)
    batch = spark.createDataFrame(
        [
            # fresher and moved: leaves the odd partition empty
            (2, _ts("2024-01-02T11:00:00"), "s2", "2024-01-01"),
            # staler and moved: ignored, so 2024-01-09 never appears
            (1, _ts("2024-01-01T09:00:00"), "s1", "2024-01-09"),
        ],
        _FACTS,
    )

    def refresh():
        out = refresh_gold_incremental(
            spark, path, batch, keys=["k"], version_col="ts",
            partition_by=["d"],
        )
        return sorted((r.k, r.v, r.d) for r in out.collect())

    want = [(1, "t1", "2024-01-01"), (2, "s2", "2024-01-01"),
            (3, "t3", "2024-01-03")]
    assert refresh() == want
    after = _parquet_files(path)
    assert sorted(after) == ["d=2024-01-01", "d=2024-01-03"]
    assert after["d=2024-01-03"] == before["d=2024-01-03"]
    assert os.listdir(tmp_path) == ["facts"]
    # no emptied partition directory is left either
    assert sorted(n for n in os.listdir(path) if n.startswith("d=")) == [
        "d=2024-01-01", "d=2024-01-03"
    ]

    assert refresh() == want
    assert sorted(_parquet_files(path)) == ["d=2024-01-01", "d=2024-01-03"]


def test_refresh_gold_null_partition_values(spark, tmp_path):
    """NULL partition values (the default-partition directory) are
    matched null-safe: merged into, and emptied like any other."""
    path = str(tmp_path / "facts")
    save_gold(
        spark.createDataFrame(
            [
                (1, _ts("2024-01-01T10:00:00"), "t1", None),
                (2, _ts("2024-01-01T10:00:00"), "t2", "2024-01-01"),
                (4, _ts("2024-01-01T10:00:00"), "t4", None),
            ],
            _FACTS,
        ),
        path,
        partition_by=["d"],
    )

    def refresh(rows):
        out = refresh_gold_incremental(
            spark, path, spark.createDataFrame(rows, _FACTS), keys=["k"],
            version_col="ts", partition_by=["d"],
        )
        return sorted((r.k, r.v, r.d) for r in out.collect())

    assert refresh([
        (1, _ts("2024-01-01T11:00:00"), "s1", None),
        (3, _ts("2024-01-01T11:00:00"), "s3", None),
    ]) == [(1, "s1", None), (2, "t2", "2024-01-01"), (3, "s3", None),
           (4, "t4", None)]
    assert refresh([
        (k, _ts("2024-01-01T12:00:00"), f"u{k}", "2024-01-02")
        for k in (1, 3, 4)
    ]) == [(1, "u1", "2024-01-02"), (2, "t2", "2024-01-01"),
           (3, "u3", "2024-01-02"), (4, "u4", "2024-01-02")]
    assert sorted(_parquet_files(path)) == ["d=2024-01-01", "d=2024-01-02"]


def test_refresh_gold_nondeterministic_batch(spark, tmp_path):
    """The batch is read more than once (touched partitions, then the
    merge); every read must see the same rows. A batch whose partition
    value is drawn at random would otherwise land rows in a partition
    the merge never read, replacing that partition's existing rows."""
    import random

    path = str(tmp_path / "facts")
    save_gold(
        spark.createDataFrame(
            [(k, _ts("2024-01-01T10:00:00"), "t", "a" if k < 10 else "b")
             for k in range(20)],
            _FACTS,
        ),
        path,
        partition_by=["d"],
    )
    pick = F.udf(lambda _: random.choice("ab"), "string")
    for i in range(6):
        batch = spark.range(1).select(
            F.lit(100 + i).cast("int").alias("k"),
            F.lit(_ts("2024-01-02T10:00:00")).alias("ts"),
            F.lit("s").alias("v"),
            pick("id").alias("d"),
        )
        out = refresh_gold_incremental(
            spark, path, batch, keys=["k"], version_col="ts",
            partition_by=["d"],
        )
        assert sorted(r.k for r in out.collect()) == (
            list(range(20)) + list(range(100, 101 + i))
        )


def test_refresh_gold_multi_column_partitions(spark, tmp_path):
    schema = "k int, ts timestamp, v string, y int, m string"
    path = str(tmp_path / "facts")
    save_gold(
        spark.createDataFrame(
            [
                (1, _ts("2024-01-01T10:00:00"), "t1", 2024, "01"),
                (2, _ts("2024-01-01T10:00:00"), "t2", 2024, None),
                (3, _ts("2024-01-01T10:00:00"), "t3", 2023, "01"),
            ],
            schema,
        ),
        path,
        partition_by=["y", "m"],
    )
    before = _parquet_files(path)
    batch = spark.createDataFrame(
        [(2, _ts("2024-01-01T11:00:00"), "s2", 2024, "01")], schema
    )
    out = refresh_gold_incremental(
        spark, path, batch, keys=["k"], version_col="ts",
        partition_by=["y", "m"],
    )
    assert sorted((r.k, r.v, r.y, r.m) for r in out.collect()) == [
        (1, "t1", 2024, "01"), (2, "s2", 2024, "01"), (3, "t3", 2023, "01")
    ]
    after = _parquet_files(path)
    assert sorted(after) == ["y=2023/m=01", "y=2024/m=01"]
    assert after["y=2023/m=01"] == before["y=2023/m=01"]


def test_refresh_gold_unpartitioned(spark, tmp_path):
    """An unpartitioned table cannot be overwritten while it is read: the
    merge is staged and moved into place, leaving no staging directory."""
    path = str(tmp_path / "facts")
    schema = "k int, ts timestamp, v string"
    save_gold(
        spark.createDataFrame(
            [(1, _ts("2024-01-01T10:00:00"), "t1"),
             (2, _ts("2024-01-01T10:00:00"), "t2")],
            schema,
        ),
        path,
    )
    batch = spark.createDataFrame(
        [(1, _ts("2024-01-01T11:00:00"), "s1"),
         (3, _ts("2024-01-01T11:00:00"), "s3")],
        schema,
    )
    for _ in range(2):  # idempotent
        out = refresh_gold_incremental(
            spark, path, batch, keys=["k"], version_col="ts"
        )
        assert sorted((r.k, r.v) for r in out.collect()) == [
            (1, "s1"), (2, "t2"), (3, "s3")
        ]
        assert os.listdir(tmp_path) == ["facts"]


def test_refresh_gold_layout_mismatch_raises_before_writing(spark, tmp_path):
    """Refreshing a table stored unpartitioned with ``partition_by`` set
    must not touch it: the merge would write ``d=...`` directories beside
    the root files, and the emptied-partition cleanup would take the
    table root for a partition directory."""
    path = str(tmp_path / "facts")
    save_gold(
        spark.createDataFrame(
            [(1, _ts("2024-01-01T10:00:00"), "t1", "2024-01-01"),
             (2, _ts("2024-01-01T10:00:00"), "t2", "2024-01-01")],
            _FACTS,
        ),
        path,
    )
    before = _parquet_files(path)
    for k in (1, 3):  # a key the table holds, then only a new key
        batch = spark.createDataFrame(
            [(k, _ts("2024-01-01T11:00:00"), "s", "2024-01-02")], _FACTS
        )
        with pytest.raises(ValueError, match="data columns"):
            refresh_gold_incremental(
                spark, path, batch, keys=["k"], version_col="ts",
                partition_by=["d"],
            )
        assert _parquet_files(path) == before
        assert os.listdir(tmp_path) == ["facts"]


@pytest.mark.parametrize("partition_by", [["d"], []])
def test_refresh_gold_column_mismatch_raises(spark, tmp_path, partition_by):
    """A batch that lacks a table column, or carries one the table lacks,
    is refused before anything is written: reading the table with the
    batch's schema would drop the first from the rewritten files only and
    fill the second with NULL."""
    path = str(tmp_path / "facts")
    save_gold(
        spark.createDataFrame(
            [(1, _ts("2024-01-01T10:00:00"), "t1", "2024-01-01")], _FACTS
        ),
        path,
        partition_by=partition_by,
    )
    before = _parquet_files(path)
    row = (1, _ts("2024-01-01T11:00:00"), "2024-01-01")
    for batch in (
        spark.createDataFrame([row], "k int, ts timestamp, d string"),
        spark.createDataFrame(
            [row[:2] + ("s1", row[2], 7)], _FACTS + ", extra int"
        ),
    ):
        with pytest.raises(ValueError, match="data columns"):
            refresh_gold_incremental(
                spark, path, batch, keys=["k"], version_col="ts",
                partition_by=partition_by,
            )
        assert _parquet_files(path) == before


def test_partition_dir_accepts_only_partition_directories(spark):
    """The emptied-partition cleanup deletes only a directory exactly one
    ``col=value`` level per partition column below the table root."""
    from seng550_a3_etl_spark.operators.dedup import _partition_dir

    def path(s):
        return spark._jvm.org.apache.hadoop.fs.Path(s)

    root = path("file:/t/facts")
    ok = _partition_dir(root, path("file:/t/facts/y=1/m=2/p.parquet"),
                        ["y", "m"])
    assert ok.toString() == "file:/t/facts/y=1/m=2"
    for bad, cols in [
        ("file:/t/facts/p.parquet", ["d"]),  # a root file
        ("file:/t/facts/y=1/p.parquet", ["y", "m"]),  # too shallow
        ("file:/t/facts/x=0/y=1/m=2/p.parquet", ["y", "m"]),  # too deep
        ("file:/t/facts/m=2/y=1/p.parquet", ["y", "m"]),  # wrong order
        ("file:/t/other/d=1/p.parquet", ["d"]),  # another table
        ("file:/d=1/p.parquet", ["d", "d"]),  # above the file system root
    ]:
        with pytest.raises(ValueError, match="not in a partition directory"):
            _partition_dir(root, path(bad), cols)


def test_catalog_ddl_idempotent(spark, tmp_path):
    """S7/P11/W3: database bootstrap, existence probes, and
    create-if-absent are all idempotent — reruns are no-ops."""
    from seng550_a3_etl_spark.catalog import (
        ensure_database,
        save_table_if_absent,
        table_exists,
    )

    assert ensure_database(spark, "a3_db") is False  # created now
    assert ensure_database(spark, "a3_db") is True   # already there

    df = spark.range(5).toDF("id")
    name = "a3_db.facts_once"
    assert not table_exists(spark, name)
    assert save_table_if_absent(df, name) is True
    assert table_exists(spark, name)
    # rerun with different data: table untouched (reference semantics)
    assert save_table_if_absent(spark.range(99).toDF("id"), name) is False
    assert spark.table(name).count() == 5
    spark.sql("DROP TABLE a3_db.facts_once")
    spark.sql("DROP DATABASE a3_db")


def test_morton_key_interleaves_exactly(spark):
    from pyspark.sql import functions as F

    from seng550_a3_etl_spark.plans.layout import morton_key

    def py_morton(a, b, bits):
        out = 0
        for i in range(bits):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    rows = [(a, b) for a in (0, 1, 5, 255, 65535) for b in (0, 3, 7, 65535)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = df.select(
        "a", "b", morton_key(F.col("a"), F.col("b"), 16).alias("z")
    ).collect()
    assert all(r.z == py_morton(r.a, r.b, 16) for r in got)


def test_zorder_layout_prunes_on_both_dimensions(spark, tmp_path):
    """A y-only box predicate must skip most z-ordered files (their
    per-file min/max is tight in BOTH dims), while an x-sorted layout
    cannot skip any file on y — each strip spans the whole y domain.
    That asymmetry is exactly what Z-ordering buys at 100 TB."""
    import glob

    from pyspark.sql import functions as F

    from seng550_a3_etl_spark.plans.layout import write_zordered

    # deterministic pseudo-random grid points
    pts = spark.range(4096).select(
        (F.xxhash64("id") % 1000).alias("x"),
        (F.xxhash64("id", F.lit(1)) % 1000).alias("y"),
    ).select(F.abs("x").alias("x"), F.abs("y").alias("y"))

    z_path, lin_path = str(tmp_path / "zorder"), str(tmp_path / "linear")
    write_zordered(
        pts, z_path, [("x", 0, 999), ("y", 0, 999)],
        bits=10, max_records_per_file=256,
    )
    (
        pts.repartitionByRange(8, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", "256")
        .parquet(lin_path)
    )

    def files_overlapping_y(path, lo, hi):
        touched, total = 0, 0
        for f in glob.glob(path + "/*.parquet"):
            mn, mx = (
                spark.read.parquet(f).agg(F.min("y"), F.max("y")).collect()[0]
            )
            total += 1
            if mx >= lo and mn <= hi:
                touched += 1
        return touched, total

    # Band inside one quadrant row: Z-order's known weak spot is a
    # predicate straddling a top-level curve boundary (e.g. y~500 here),
    # where pruning degrades toward 2x the touched files.
    z_hit, z_total = files_overlapping_y(z_path, 100, 200)
    l_hit, l_total = files_overlapping_y(lin_path, 100, 200)
    # x-sort: files span the y domain, so (almost) none can be skipped.
    # Not exactly all: repartitionByRange samples its boundaries with an
    # RDD-id-dependent seed, so an occasional small tail file can miss
    # the band — assert the fraction, not equality, to keep the test
    # deterministic in what it actually claims.
    assert l_hit >= 0.85 * l_total, (l_hit, l_total)
    assert z_hit <= z_total // 2, (z_hit, z_total)  # z-order skips most


def test_compaction_reduces_file_count_preserving_rows(spark, tmp_path):
    # plans/maintenance.compact: 32 tiny files → few target-sized files,
    # bit-identical content; with sort_by the output is range-clustered.
    from seng550_a3_etl_spark.plans.maintenance import compact

    t = load_tables(spark, SF_ORACLE)
    src = str(tmp_path / "frag")
    t.orders.repartition(32).write.parquet(src)

    dest = str(tmp_path / "compacted")
    stats = compact(spark, src, dest, target_file_mb=128)
    assert stats["n_files_in"] == 32
    assert stats["n_files_out"] <= 2
    assert stats["n_files_out"] == stats["n_files_target"]

    before = canonical_rows(spark.read.parquet(src).toPandas())
    after = canonical_rows(spark.read.parquet(dest).toPandas())
    assert before == after

    # sorted variant: each output file's [min,max] o_orderkey ranges are
    # disjoint, so a point predicate can skip all but one file
    dest2 = str(tmp_path / "clustered")
    t.orders.repartition(8).write.parquet(str(tmp_path / "frag2"))
    compact(
        spark, str(tmp_path / "frag2"), dest2,
        target_file_mb=0.05, sort_by=["o_orderkey"],
    )
    import pyarrow.parquet as pq

    ranges = []
    for f in (tmp_path / "clustered").glob("*.parquet"):
        pf = pq.ParquetFile(str(f))
        keys = pf.read(columns=["o_orderkey"])["o_orderkey"].to_pylist()
        if keys:
            ranges.append((min(keys), max(keys)))
    ranges.sort()
    assert len(ranges) > 1
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping file ranges: {ranges}"


def test_labels_gold_roundtrip(spark, tmp_path):
    # The session-scoped label materialization (suite.text._labels_df)
    # documents "write via plans/gold.py" as its production shape — prove
    # that path: persist the labels as a gold table, read back, exact
    # same (doc_id, canonical_id) mapping.
    from seng550_a3_etl_spark.plans.gold import save_gold
    from seng550_a3_etl_spark.suite.text import _labels_df
    from tests.conftest import SF_ORACLE

    labels = _labels_df(spark, SF_ORACLE)
    path = str(tmp_path / "labels_gold")
    save_gold(labels, path)
    back = spark.read.parquet(path)
    want = {(r.doc_id, r.canonical_id) for r in labels.collect()}
    got = {(r.doc_id, r.canonical_id) for r in back.collect()}
    assert got == want and len(got) == labels.count()
