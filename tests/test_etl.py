"""ETL core: worksheet source with A1 ranges, schema inference/pinning/drift,
table sink overwrite/append, CSV export."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import types as T

from flusher_spark.sinks.csv import to_csv
from flusher_spark.sinks.table import Warehouse
from flusher_spark.sources.sheet import (
    SheetGrid,
    SheetSource,
    cast_with_schema,
    infer_schema,
    read_sheet,
    schema_drift,
)

GRID = SheetGrid(
    "metrics",
    [
        ["id", "amount", "when", "flag", "note"],
        ["1", "1.5", "2024-01-01T00:00:00", "true", "a"],
        ["2", "2.5", "2024-01-02T00:00:00", "false", ""],
        ["3", "", "2024-01-03T00:00:00", "true", "c"],
        ["4", "4.25", "2024-01-04T00:00:00", "false", "d"],
    ],
)


def test_full_scan(spark):
    df = read_sheet(spark, GRID)
    assert df.columns == ["id", "amount", "when", "flag", "note"]
    assert df.count() == 4
    assert all(t == "string" for _, t in df.dtypes)  # untyped scan


def test_range_scan_projection_and_rows(spark):
    # B2:C4 → columns amount,when; spreadsheet rows 2..4 = data rows 1..3.
    df = read_sheet(spark, GRID, "B2:C4")
    assert df.columns == ["amount", "when"]
    assert df.count() == 3


def test_open_ended_range(spark):
    # A2:B — open-ended rows (reference export.py:47-48).
    df = read_sheet(spark, GRID, "A2:B")
    assert df.columns == ["id", "amount"]
    assert df.count() == 4


def test_wide_grid_past_column_z(spark):
    # >26 columns exercises true base-26 (reference's math breaks at AA).
    header = [f"c{i}" for i in range(30)]
    row = [str(i) for i in range(30)]
    grid = SheetGrid("wide", [header, row])
    df = read_sheet(spark, grid, "AA1:AD2")
    assert df.columns == ["c26", "c27", "c28", "c29"]
    assert df.collect()[0]["c26"] == "26"


def test_infer_schema(spark):
    df = read_sheet(spark, GRID)
    schema = infer_schema(df)
    types = {f.name: type(f.dataType) for f in schema.fields}
    assert types == {
        "id": T.LongType,
        "amount": T.DoubleType,
        "when": T.TimestampNTZType,
        "flag": T.BooleanType,
        "note": T.StringType,
    }


def test_cast_with_schema_and_drift_nulls(spark):
    df = read_sheet(spark, GRID)
    schema = infer_schema(df)
    typed = cast_with_schema(df, schema)
    rows = {r["id"]: r for r in typed.collect()}
    assert rows[1]["amount"] == 1.5 and rows[3]["amount"] is None
    assert rows[1]["flag"] is True and rows[2]["flag"] is False

    # Drifted data (text in a numeric column) → NULL, not a failed load.
    drifted = SheetGrid("m", [["id", "amount"], ["9", "not-a-number"]])
    t2 = cast_with_schema(
        read_sheet(spark, drifted),
        T.StructType([T.StructField("id", T.LongType()), T.StructField("amount", T.DoubleType())]),
    )
    row = t2.collect()[0]
    assert row["id"] == 9 and row["amount"] is None


def test_boolean_drift_becomes_null(spark):
    """Junk in a boolean column is DRIFT (NULL), not False — the try_cast
    contract must hold for booleans too, or schema_drift undercounts and
    corrupted cells silently load as False."""
    grid = SheetGrid(
        "b", [["flag"], ["true"], ["YES"], ["false"], ["No"], ["bad:xyz"], [""]]
    )
    schema = T.StructType([T.StructField("flag", T.BooleanType())])
    vals = [r["flag"] for r in cast_with_schema(read_sheet(spark, grid), schema).collect()]
    assert vals == [True, True, False, False, None, None]

    drift = schema_drift(read_sheet(spark, grid), schema).collect()[0]
    assert drift["flag"] == 1  # only "bad:xyz": empty cells are not drift


def test_warehouse_overwrite_vs_append(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    df = read_sheet(spark, GRID)
    name = wh.load(df, "metrics")  # full refresh
    assert name == "g_sheets.metrics"
    assert wh.read("metrics").count() == 4
    wh.load(df, "metrics")  # full refresh again: drop + recreate
    assert wh.read("metrics").count() == 4
    wh.load(df, "metrics", incremental=True)  # append
    assert wh.read("metrics").count() == 8
    assert wh.table_exists("metrics")
    wh.drop("metrics")
    assert not wh.table_exists("metrics")


def test_load_is_synchronous(spark, tmp_path):
    """The reference never awaits its load job (bigquery.py:25-28) so a
    failed load could be recorded Success. Spark writes are synchronous:
    when load() returns, the files exist."""
    wh = Warehouse(spark, str(tmp_path))
    wh.load(read_sheet(spark, GRID), "sync_check")
    files = glob.glob(os.path.join(str(tmp_path), "g_sheets", "sync_check", "*.parquet"))
    assert files, "parquet files must exist the moment load() returns"


def test_csv_export(spark, tmp_path):
    path = to_csv(read_sheet(spark, GRID), str(tmp_path), "doc", "metrics", single_file=True, now_str="t0")
    assert os.path.basename(path) == "t0 doc - metrics"
    out = spark.read.option("header", True).csv(path)
    assert out.count() == 4 and out.columns == GRID.rows[0]


def test_csv_export_flattens_path_separators(spark, tmp_path):
    """Document/sheet names come from the user-editable control table: a
    name with separators or traversal must stay ONE entry under out_dir."""
    path = to_csv(
        read_sheet(spark, GRID), str(tmp_path), "../../tmp/evil", "Q1/Report", now_str="t0"
    )
    assert os.path.dirname(path) == str(tmp_path)
    assert os.path.basename(path) == "t0 .._.._tmp_evil - Q1_Report"
    assert os.listdir(tmp_path) == [os.path.basename(path)]


def test_sheet_source_lookup():
    src = SheetSource({"doc": {"s1": GRID}})
    assert src.worksheet("doc", "s1") is GRID
    assert src.worksheet("doc") is GRID  # empty sheet ⇒ first (export.py:39)
    with pytest.raises(KeyError):
        src.worksheet("nope")
    with pytest.raises(KeyError):
        src.worksheet("doc", "missing")
    # A document with ZERO sheets must raise the KeyError shape
    # translate_error enriches, never a bare StopIteration.
    empty = SheetSource({"void": {}})
    with pytest.raises(KeyError, match="no sheets"):
        empty.worksheet("void")


def test_read_sheet_jagged_rows_wider_than_header(spark):
    """Data rows wider than the header must not crash createDataFrame:
    the overflow columns get generated col_N names."""
    grid = SheetGrid.from_csv("s", "a,b\n1,2,3\n4,5")
    df = read_sheet(spark, grid)
    assert df.columns == ["a", "b", "col_3"]
    rows = sorted(map(tuple, df.collect()))
    assert rows == [("1", "2", "3"), ("4", "5", "")]


def test_read_sheet_duplicate_headers_deduped(spark):
    """Duplicate worksheet headers are legal in a spreadsheet but break
    F.col resolution; they must be suffixed deterministically."""
    grid = SheetGrid.from_csv("s", "Value,Value,,Value\n1,2,3,4")
    df = read_sheet(spark, grid)
    assert df.columns == ["Value", "Value_2", "col_3", "Value_3"]
    # The typed pipeline must now work end-to-end on the deduped names.
    schema = infer_schema(df)
    assert {f.dataType.simpleString() for f in schema.fields} == {"bigint"}
    assert cast_with_schema(df, schema).collect()[0][0] == 1


def test_schema_drift_survives_shuffled_lineage(spark):
    """schema_drift is ONE aggregation over df — it must be correct even
    when df's lineage includes a shuffle (the old two-plan zip on
    monotonically_increasing_id was not guaranteed to align)."""
    grid = SheetGrid(
        "s",
        [["k", "v"], *[["k%d" % (i % 7), str(i) if i % 5 else "oops"] for i in range(50)]],
    )
    df = read_sheet(spark, grid).repartition(8, "k").sort("k")
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    drift = schema_drift(df, schema).collect()[0]
    assert drift["k"] == 0
    assert drift["v"] == len([i for i in range(50) if i % 5 == 0])


# -- Python DataSource (format("worksheet")) ---------------------------------


@pytest.fixture(scope="module")
def jobs_csv(tmp_path_factory):
    d = tmp_path_factory.mktemp("wsds")
    p = str(d / "jobs.csv")
    with open(p, "w") as f:
        f.write("Document,Sheet,Range,Target\n")
        for i in range(25):
            f.write(f"doc{i},sheet{i % 3},A1:B{i + 2},{'bigquery' if i % 2 else ''}\n")
    return p


def _register_ws(spark):
    from flusher_spark.sources.datasource import WorksheetDataSource

    try:
        spark.dataSource.register(WorksheetDataSource)
    except Exception:
        pass  # already registered in this session


def test_worksheet_datasource_full_scan(spark, jobs_csv):
    _register_ws(spark)
    df = spark.read.format("worksheet").option("path", jobs_csv).load()
    assert df.columns == ["Document", "Sheet", "Range", "Target"]
    assert df.count() == 25
    assert df.schema[0].dataType.simpleString() == "string"  # untyped by design


def test_worksheet_datasource_range_pushdown(spark, jobs_csv):
    _register_ws(spark)
    df = (
        spark.read.format("worksheet")
        .option("path", jobs_csv)
        .option("cellrange", "B2:C11")
        .option("numPartitions", "4")
        .load()
    )
    # Column pruning reached the schema (only B..C surface at all).
    assert df.columns == ["Sheet", "Range"]
    rows = df.collect()
    assert len(rows) == 10  # spreadsheet rows 2-11
    assert rows[0]["Sheet"] == "sheet0" and rows[0]["Range"] == "A1:B2"
    assert df.rdd.getNumPartitions() == 4


def test_worksheet_datasource_open_ended_range(spark, jobs_csv):
    _register_ws(spark)
    df = (
        spark.read.format("worksheet")
        .option("path", jobs_csv)
        .option("cellrange", "A20:D")
        .load()
    )
    # Rows 20..end → data rows 19..25 (header is row 1).
    assert df.count() == 7
    assert df.columns == ["Document", "Sheet", "Range", "Target"]


def test_worksheet_datasource_matches_read_sheet(spark, jobs_csv):
    """The DataSource and the driver-side SheetGrid path agree cell-for-cell."""
    _register_ws(spark)
    from flusher_spark.sources.sheet import SheetGrid, read_sheet

    with open(jobs_csv) as f:
        grid = SheetGrid.from_csv("jobs", f.read())
    a = spark.read.format("worksheet").option("path", jobs_csv).option("cellrange", "A2:C13").load()
    b = read_sheet(spark, grid, "A2:C13")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_warehouse_rejects_invalid_table_names(spark, tmp_path):
    """An empty destination (the Job dataclass default) used to resolve to
    the dataset ROOT, so a full-refresh load could rmtree every table."""
    wh = Warehouse(spark, str(tmp_path))
    df = read_sheet(spark, GRID)
    wh.load(df, "survivor")
    for bad in ("", ".", "..", "a/b", "../escape"):
        with pytest.raises(ValueError, match="invalid table name"):
            wh.load(df, bad)
        with pytest.raises(ValueError):
            wh.drop(bad)
    assert wh.table_exists("survivor")
    assert wh.read("survivor").count() == 4


def test_worksheet_writer_two_phase_commit(spark, tmp_path):
    """Writer protocol: deterministic partition-ordered merge under the
    header; overwrite replaces, append extends; orphan shards from failed
    attempts never reach the sheet; the staging dir is cleaned up."""
    import os

    from flusher_spark.sources.datasource import WorksheetDataSource

    try:
        spark.dataSource.register(WorksheetDataSource)
    except Exception:
        pass
    path = str(tmp_path / "sheet.csv")
    df = spark.createDataFrame([(i, f"v{i}") for i in range(10)], "k int, v string")
    ordered = df.repartitionByRange(3, "k").sortWithinPartitions("k")
    ordered.write.format("worksheet").option("path", path).mode("overwrite").save()
    lines = open(path).read().splitlines()
    assert lines[0] == "k,v"
    # range partitioning + within-partition sort + partition-id-ordered
    # commit ⇒ the grid is globally ordered.
    assert [l.split(",")[0] for l in lines[1:]] == [str(i) for i in range(10)]
    # Staging is PER-JOB (uuid-suffixed dir): another job's in-flight or
    # orphaned shards can never leak into this commit, and this job's
    # commit must clean only its OWN staging dir, leaving the concurrent
    # job's shards untouched.
    import glob

    other_stage = path + ".__stage__deadbeefcafe"
    os.makedirs(other_stage, exist_ok=True)
    with open(os.path.join(other_stage, "99999-dead.csv"), "w") as f:
        f.write("666,zombie\n")
    df.write.format("worksheet").option("path", path).mode("append").save()
    content = open(path).read()
    assert "zombie" not in content
    assert content.splitlines().count("0,v0") == 2
    # the concurrent job's staging survives; this job's own staging is gone
    assert os.path.exists(os.path.join(other_stage, "99999-dead.csv"))
    assert glob.glob(path + ".__stage__*") == [other_stage]


def test_orc_scan_pushdown(spark):
    """The ORC reader must keep parquet's pushdown surface: the date
    predicate reaches the scan as a pushed filter and the ReadSchema is
    pruned to the referenced columns (no full-width scan of the fact)."""
    from flusher_spark.plans.etl import etl_orc_roundtrip

    df = etl_orc_roundtrip(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:300]
    assert "l_shipdate" in pushed
    # column pruning: the unreferenced wide columns never leave the reader
    schema_part = plan.split("ReadSchema")[1][:400]
    assert "l_comment" not in schema_part and "l_orderkey" not in schema_part


def test_partition_overwrite_dynamic_vs_static(spark, tmp_path):
    """Pin the semantics the backfill entry depends on: under
    partitionOverwriteMode=dynamic, overwriting with one partition's rows
    replaces ONLY that partition; under the default static mode the same
    write wipes every other partition — the data-loss footgun the entry's
    conf guard exists to prevent."""
    import pyspark.sql.functions as F

    base = spark.createDataFrame(
        [(d, i) for d in ("d1", "d2", "d3") for i in range(4)], "day string, v int"
    )
    fix = base.where(F.col("day") == "d2").withColumn("v", F.col("v") + 100)

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        for mode, expected_days in (("dynamic", {"d1", "d2", "d3"}), ("static", {"d2"})):
            path = str(tmp_path / f"lake_{mode}")
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
            base.write.mode("overwrite").partitionBy("day").parquet(path)
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", mode)
            fix.write.mode("overwrite").partitionBy("day").parquet(path)
            back = spark.read.parquet(path)
            days = {r["day"] for r in back.select("day").distinct().collect()}
            assert days == expected_days, (mode, days)
            d2 = [r["v"] for r in back.where(F.col("day") == "d2").collect()]
            assert sorted(d2) == [100, 101, 102, 103], (mode, d2)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_snapshot_table_isolation_conflict_pruning_vacuum(spark, tmp_path):
    """SnapshotTable contracts: (a) time travel — v0 reads are unchanged
    after later commits; (b) optimistic concurrency — publishing the same
    version twice raises CommitConflict and leaves the winner intact;
    (c) stats-pruned merge — a merge whose key range misses a file carries
    that file forward by REFERENCE (same path in both manifests, no
    rewrite); (d) vacuum only deletes unreferenced files, so every
    retained version stays readable."""
    import os

    import pytest as _pt
    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import CommitConflict, SnapshotTable

    root = str(tmp_path / "snap")
    t = SnapshotTable(spark, root, "k")
    low = spark.range(0, 100).select(F.col("id").alias("k"), F.lit("old").alias("v"))
    high = spark.range(1000, 1100).select(F.col("id").alias("k"), F.lit("old").alias("v"))
    t.create(low)
    t.append(high)  # v1: low-file(s) + high-file(s)
    m1 = t._manifest(1)

    # (c) merge touching only the high range: low files carried by reference
    src = spark.range(1050, 1150).select(F.col("id").alias("k"), F.lit("new").alias("v"))
    t.merge(src)
    m2 = t._manifest(2)
    low_paths_1 = {f["path"] for f in m1["files"] if f["key_max"] < 1000}
    assert low_paths_1, "expected low-range files in v1"
    assert low_paths_1 <= {f["path"] for f in m2["files"]}, "low files must carry forward"
    cur = t.snapshot()
    assert cur.count() == 100 + 150  # 100 low + 1000..1149 high
    assert cur.where((F.col("k") >= 1050) & (F.col("v") != "new")).count() == 0
    assert cur.where((F.col("k") < 1000) & (F.col("v") != "old")).count() == 0

    # (a) snapshot isolation / time travel: v0 still exactly the original
    assert t.snapshot(0).count() == 100
    assert t.snapshot(0).agg(F.max("k")).collect()[0][0] == 99

    # (b) conflicting commit of an existing version loses loudly
    files = t._write_files(spark.range(5).select(F.col("id").alias("k"), F.lit("x").alias("v")))
    with _pt.raises(CommitConflict):
        t._publish({"version": 2, "parent": 1, "key": "k", "files": files})
    assert t.current_version() == 2  # winner intact

    # (d) vacuum: with the default retention window the loser's FRESH files
    # are protected (they are indistinguishable from a concurrent writer's
    # staged-but-unpublished commit — deleting them would corrupt its later
    # atomic publish); with retention 0 (known single writer) they go, and
    # every retained version still reads
    assert t.vacuum() == 0  # default 24h retention guards fresh staged files
    removed = t.vacuum(retention_seconds=0)
    assert removed >= 1
    assert t.snapshot(0).count() == 100
    assert t.snapshot(1).count() == 200
    assert t.snapshot(2).count() == 250


def test_snapshot_table_compaction_preserves_contents(spark, tmp_path):
    """compact() must fold small files into ~target-sized ones in a NEW
    version with row-identical contents, leave large files and every older
    version untouched, and preserve the streaming batch watermark."""
    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "snap"), "k")
    df = spark.range(0, 400).select(F.col("id").alias("k"), (F.col("id") * 7).alias("v"))
    t.create(df.repartition(8), batch_id=3)
    m0 = t._manifest(0)
    assert len(m0["files"]) == 8
    before = sorted(map(tuple, t.snapshot().collect()))

    v = t.compact(target_file_rows=1000)  # all files small -> one replacement
    assert v == 1
    m1 = t._manifest(1)
    assert len(m1["files"]) == 1
    assert m1["batch_id"] == 3  # batch watermark survives maintenance
    assert sorted(map(tuple, t.snapshot().collect())) == before
    # old version still reads its original 8-file layout
    assert len(t._manifest(0)["files"]) == 8
    assert sorted(map(tuple, t.snapshot(0).collect())) == before
    # idempotent: nothing left under the target -> no new version
    assert t.compact(target_file_rows=1000) == 1


def test_snapshot_table_delete_and_cdc_merge(spark, tmp_path):
    """merge(delete_col=...) must remove matched keys, no-op on unmatched
    delete keys, upsert the rest — in ONE file-granular copy-on-write
    commit — and delete(keys) is the same operation by sugar. A delete in
    one key range must not rewrite files in another."""
    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "snap"), "k")
    low = spark.range(0, 100).select(F.col("id").alias("k"), F.lit("old").alias("v"))
    high = spark.range(1000, 1100).select(F.col("id").alias("k"), F.lit("old").alias("v"))
    t.create(low)
    t.append(high)
    m_before = t._manifest(t.current_version())

    # CDC batch confined to the high range: update 1000-1009, delete
    # 1010-1019, insert 1200-1204, plus a delete for a key that was never
    # present (must be a no-op, not an insert).
    upd = spark.range(1000, 1010).select(
        F.col("id").alias("k"), F.lit("new").alias("v"), F.lit(False).alias("is_delete"))
    dele = spark.range(1010, 1020).select(
        F.col("id").alias("k"), F.lit(None).cast("string").alias("v"),
        F.lit(True).alias("is_delete"))
    ins = spark.range(1200, 1205).select(
        F.col("id").alias("k"), F.lit("ins").alias("v"), F.lit(False).alias("is_delete"))
    ghost = spark.range(5000, 5001).select(
        F.col("id").alias("k"), F.lit(None).cast("string").alias("v"),
        F.lit(True).alias("is_delete"))
    t.merge(upd.unionByName(dele).unionByName(ins).unionByName(ghost),
            delete_col="is_delete")

    cur = t.snapshot()
    assert cur.count() == 100 + (100 - 10) + 5
    assert cur.where(F.col("k").between(1010, 1019)).count() == 0
    assert cur.where((F.col("k") < 1010) & (F.col("k") >= 1000) & (F.col("v") == "new")).count() == 10
    assert cur.where(F.col("k") >= 5000).count() == 0  # unmatched delete: no-op
    assert "is_delete" not in cur.columns  # marker never lands in the table
    # low-range files carried forward by reference (file-granular CoW held)
    low_paths = {f["path"] for f in m_before["files"] if f["key_max"] < 1000}
    assert low_paths <= {f["path"] for f in t._manifest(t.current_version())["files"]}

    # delete() sugar removes a low-range key set
    t.delete(spark.range(0, 5).select(F.col("id").alias("k")))
    assert t.snapshot().where(F.col("k") < 5).count() == 0
    assert t.snapshot().count() == 95 + 90 + 5


def test_snapshot_table_concurrent_delete_upsert_conflict(spark, tmp_path):
    """Two writers reading the same current version — one deleting, one
    upserting — must serialize: the loser's publish raises CommitConflict
    and a retry on the new current version produces the serial result."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import CommitConflict, SnapshotTable

    root = str(tmp_path / "snap")
    a = SnapshotTable(spark, root, "k")
    a.create(spark.range(0, 50).select(F.col("id").alias("k"), F.lit("old").alias("v")))
    b = SnapshotTable(spark, root, "k")

    # Writer A deletes keys 0-9 and publishes v1 first.
    a.delete(spark.range(0, 10).select(F.col("id").alias("k")))
    # Writer B prepared an upsert against v0; simulate its losing publish by
    # replaying the same commit protocol: B's merge targets version 1 too.
    files = b._write_files(
        spark.range(45, 55).select(F.col("id").alias("k"), F.lit("up").alias("v")))
    with _pt.raises(CommitConflict):
        b._publish({"version": 1, "parent": 0, "key": "k", "files": files})
    # B retries through the public API on the NEW current version.
    b.merge(spark.range(45, 55).select(F.col("id").alias("k"), F.lit("up").alias("v")))
    cur = a.snapshot()
    assert cur.count() == 40 + 5  # 0-9 deleted, 45-54 upserted (45-49 replaced)
    assert cur.where(F.col("v") == "up").count() == 10
    assert cur.where(F.col("k") < 10).count() == 0


def test_snapshot_table_schema_evolution_timetravel(spark, tmp_path):
    """append/merge with extra columns must EVOLVE the manifest schema (old
    files read the new column as NULL), a source MISSING a column fills
    NULL, time travel to v0 keeps the pre-evolution schema, and a type
    conflict on an existing column fails fast."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "snap"), "k")
    t.create(spark.range(0, 10).select(F.col("id").alias("k"), F.lit("a").alias("v")))

    # v1: merge adds a column
    t.merge(spark.range(10, 15).select(
        F.col("id").alias("k"), F.lit("b").alias("v"), F.lit(7).cast("long").alias("extra")))
    cur = t.snapshot()
    assert set(cur.columns) == {"k", "v", "extra"}
    assert cur.where(F.col("k") < 10).agg(F.count("extra")).collect()[0][0] == 0  # old rows NULL
    assert cur.where(F.col("k") >= 10).agg(F.min("extra")).collect()[0][0] == 7
    # time travel: v0 still has its original two-column shape
    assert set(t.snapshot(0).columns) == {"k", "v"}

    # v2: append MISSING the evolved column -> fills NULL, schema unchanged
    t.append(spark.range(20, 25).select(F.col("id").alias("k"), F.lit("c").alias("v")))
    cur = t.snapshot()
    assert set(cur.columns) == {"k", "v", "extra"}
    assert cur.where(F.col("k") >= 20).agg(F.count("extra")).collect()[0][0] == 0

    # type conflict on an existing column fails fast
    with _pt.raises(ValueError, match="type conflict"):
        t.merge(spark.range(0, 1).select(
            F.col("id").alias("k"), F.lit(1.5).alias("v")))


def test_snapshot_table_append_preserves_batch_watermark(spark, tmp_path):
    """A manual append interleaved into a streaming-fed table must NOT
    reset the batch_id replay watermark (else a replayed micro-batch
    commits twice), and an append with a stale batch_id is a no-op."""
    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "snap"), "k")
    df = lambda lo, hi, v: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("k"), F.lit(v).alias("v"))
    t.create(df(0, 10, "base"))
    assert t.merge(df(10, 20, "b5"), batch_id=5) is not None

    # manual backfill append: watermark carries forward
    t.append(df(100, 110, "manual"))
    assert t._manifest(t.current_version())["batch_id"] == 5
    # replayed micro-batch (id 5 again) after the append: still rejected
    assert t.merge(df(10, 20, "replay"), batch_id=5) is None
    assert t.snapshot().where(F.col("v") == "replay").count() == 0
    # stale-batch append is also idempotent; a newer one advances
    assert t.append(df(200, 210, "stale"), batch_id=4) is None
    assert t.append(df(200, 210, "b6"), batch_id=6) is not None
    assert t._manifest(t.current_version())["batch_id"] == 6


def test_snapshot_table_rejects_null_merge_keys(spark, tmp_path):
    """NULL merge keys have no position in any file's [key_min, key_max],
    so they would silently break copy-on-write pruning — reject at write."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "snap"), "k")
    bad = spark.range(0, 5).select(
        F.when(F.col("id") == 3, None).otherwise(F.col("id")).alias("k"),
        F.lit("x").alias("v"))
    with _pt.raises(ValueError, match="NULL merge key"):
        t.create(bad)


def test_snapshot_table_restore_is_a_new_commit(spark, tmp_path):
    """restore(v) must publish the old file list as a NEW version: contents
    revert, history is intact (every version still time-travels), the data
    files are shared by reference (one manifest write, no data copy), and
    the batch_id watermark keeps its CURRENT value so committed
    micro-batches cannot replay into the restored state."""
    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "snap"), "k")
    df = lambda lo, hi, v: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("k"), F.lit(v).alias("v"))
    t.create(df(0, 50, "base"))
    t.merge(df(25, 75, "changed"), batch_id=9)
    assert t.snapshot().where(F.col("v") == "changed").count() == 50

    v = t.restore(0)
    assert v == 2
    # contents are exactly v0 again; file list shared by reference
    assert sorted(map(tuple, t.snapshot().collect())) == sorted(
        map(tuple, t.snapshot(0).collect()))
    assert {f["path"] for f in t._manifest(2)["files"]} == {
        f["path"] for f in t._manifest(0)["files"]}
    assert t._manifest(2)["restored_from"] == 0
    # history intact: the rolled-back version still time-travels
    assert t.snapshot(1).where(F.col("v") == "changed").count() == 50
    # watermark is monotone: batch 9 must still be rejected after restore
    assert t.merge(df(25, 75, "replay"), batch_id=9) is None
    assert t.snapshot().where(F.col("v") == "replay").count() == 0
    # vacuum never deletes restored-SHARED files (referenced by v0 AND v2);
    # it may remove empty part files that never entered a manifest
    t.vacuum(retention_seconds=0)
    assert t.snapshot().count() == 50
    assert t.snapshot(1).count() == 75
    assert t.snapshot(2).count() == 50


def test_snapshot_table_changes_feed(spark, tmp_path):
    """changes(a, b) must emit exactly the logical row diff — updates as
    delete(old)+insert(new) — and untouched-range rows (files shared by
    reference between the manifests) must never appear; across a schema
    evolution the old side surfaces NULL-extended under the later schema."""
    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "snap"), "k")
    low = spark.range(0, 100).select(F.col("id").alias("k"), F.lit("old").alias("v"))
    high = spark.range(1000, 1100).select(F.col("id").alias("k"), F.lit("old").alias("v"))
    t.create(low)
    t.append(high)  # v1
    src = spark.range(1050, 1150).select(F.col("id").alias("k"), F.lit("new").alias("v"))
    t.merge(src)  # v2: updates 1050-1099, inserts 1100-1149

    ch = t.changes(1, 2).collect()
    ins = sorted(r["k"] for r in ch if r["_change_type"] == "insert")
    dels = sorted(r["k"] for r in ch if r["_change_type"] == "delete")
    assert ins == list(range(1050, 1150))
    assert dels == list(range(1050, 1100))
    assert all(r["v"] == "new" for r in ch if r["_change_type"] == "insert")
    assert all(r["v"] == "old" for r in ch if r["_change_type"] == "delete")
    # low range is file-shared between v1 and v2: absent from the feed
    assert not [r for r in ch if r["k"] < 1000]

    # schema evolution: v3 adds a column via merge; old side NULL-extends
    t.merge(spark.range(0, 5).select(
        F.col("id").alias("k"), F.lit("evolved").alias("v"),
        F.lit(1).cast("long").alias("extra")))
    ch2 = t.changes(2, 3)
    assert set(ch2.columns) == {"k", "v", "extra", "_change_type"}
    rows = ch2.where(F.col("k") < 5).collect()
    for r in rows:
        if r["_change_type"] == "insert":
            assert r["extra"] == 1 and r["v"] == "evolved"
        else:
            assert r["extra"] is None and r["v"] == "old"
    # full-history feed v0->v3: inserts = surviving appended-high rows
    # (1000-1049 'old', 50), the v2 merge's current rows (1050-1149 'new',
    # 100), and the 5 evolved rows — updated-then-reupdated rows count once
    all_ins = t.changes(0).where(F.col("_change_type") == "insert").count()
    assert all_ins == 50 + 100 + 5


def test_snapshot_table_changes_across_restore_keeps_union_schema(spark, tmp_path):
    """A restore can publish an older, NARROWER schema on top of history;
    changes() across that boundary must diff under the UNION of both
    versions' schemas. Rows that differ only in the evolved column would
    otherwise conform identical and cancel in exceptAll — the feed would
    silently claim nothing changed."""
    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "snap"), "k")
    base = spark.range(0, 5).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    t.create(base)  # v0: (k, v)
    t.merge(base.withColumn("extra", F.lit(1).cast("long")))  # v1: (k, v, extra=1)
    t.restore(0)  # v2: v0's files AND v0's narrower schema

    ch = t.changes(1, 2)
    assert "extra" in ch.columns  # union schema, not v2's narrow one
    rows = ch.collect()
    dels = [r for r in rows if r["_change_type"] == "delete"]
    ins = [r for r in rows if r["_change_type"] == "insert"]
    assert len(dels) == 5 and all(r["extra"] == 1 for r in dels)
    assert len(ins) == 5 and all(r["extra"] is None for r in ins)


def test_snapshot_table_changes_legacy_empty_manifests(spark, tmp_path):
    """Legacy manifests (predating schema recording) with empty file lists
    must not probe parquet(*[]): empty-vs-empty diffs to an empty frame,
    and empty-vs-nonempty infers the schema from the nonempty side."""
    import json
    import os

    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    root = str(tmp_path / "snap")
    t = SnapshotTable(spark, root, "k")
    t.create(spark.range(0, 3).select(F.col("id").alias("k"), F.lit("x").alias("v")))
    data_files = t._manifest(0)["files"]
    # Rewrite history as legacy manifests: no "schema" key anywhere.
    for v, files in [(0, []), (1, []), (2, data_files)]:
        with open(os.path.join(root, "_manifests", f"v{v}.json"), "w") as f:
            json.dump({"version": v, "parent": v - 1, "key": "k", "files": files}, f)

    both_empty = t.changes(0, 1)
    assert both_empty.count() == 0 and "_change_type" in both_empty.columns

    feed = t.changes(1, 2)
    assert set(feed.columns) == {"k", "v", "_change_type"}
    assert feed.where(F.col("_change_type") == "insert").count() == 3


def test_snapshot_table_stats_scan_shortcuts(spark, tmp_path):
    """rows() must answer COUNT(*) from manifest metadata alone (exact at
    every version), and scan_range() must open ONLY files whose key range
    intersects the predicate — asserted via input_file_name — while
    returning exactly the predicate's rows."""
    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "snap"), "k")
    low = spark.range(0, 100).select(F.col("id").alias("k"), F.lit("lo").alias("v"))
    high = spark.range(1000, 1100).select(F.col("id").alias("k"), F.lit("hi").alias("v"))
    t.create(low.repartition(4))
    t.append(high.repartition(4))

    assert t.rows(0) == 100
    assert t.rows() == 200

    pruned = t.scan_range(1010, 1020)
    got = sorted(r["k"] for r in pruned.collect())
    assert got == list(range(1010, 1021))
    touched = [r[0] for r in pruned.select(F.input_file_name()).distinct().collect()]
    low_paths = {f["path"] for f in t._manifest(0)["files"]}
    for f in touched:
        assert f.removeprefix("file://") not in low_paths, (
            "low-range file opened by a high-range scan"
        )
    # empty intersection: no files, zero rows, schema intact
    assert t.scan_range(5000, 6000).count() == 0


def test_snapshot_table_clustered_writes_prune_more_files(spark, tmp_path):
    """cluster_by range-partitions + sorts rows before files land, so file
    key-stats become disjoint narrow ranges: a 5% range scan must touch a
    strict subset of the clustered table's files, while the same scan on a
    round-robin-shuffled unclustered table touches EVERY file (each file
    spans the whole key space). Same rows back from both."""
    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    # Shuffle keys across partitions so unclustered files all span ~[0, 4000)
    src = (
        spark.range(0, 4000)
        .select(F.col("id").alias("k"), (F.col("id") % 17).alias("v"))
        .repartition(8)
    )
    plain = SnapshotTable(spark, str(tmp_path / "plain"), "k")
    plain.create(src)
    clustered = SnapshotTable(
        spark, str(tmp_path / "clus"), "k", cluster_by=["k"], target_file_bytes=8192
    )
    clustered.create(src)

    def touched(t, lo, hi):
        m = t._manifest(t.current_version())
        return sum(
            1 for f in m["files"]
            if not (f["key_max"] < lo or f["key_min"] > hi)
        ), len(m["files"])

    p_hit, p_all = touched(plain, 100, 299)
    c_hit, c_all = touched(clustered, 100, 299)
    assert p_hit == p_all, "unclustered control should touch every file"
    assert c_hit < c_all, "clustered table must prune files on a range scan"
    got = sorted(r["k"] for r in clustered.scan_range(100, 299).collect())
    assert got == list(range(100, 300))
    # merge pruning rides the same stats: a narrow-range merge rewrites
    # only the touched clustered files
    n_before = len(clustered._manifest(clustered.current_version())["files"])
    clustered.merge(
        spark.range(150, 160).select(
            F.col("id").alias("k"), F.lit(99).cast("long").alias("v")
        )
    )
    m2 = clustered._manifest(clustered.current_version())
    carried = {f["path"] for f in clustered._manifest(0)["files"]} & {
        f["path"] for f in m2["files"]
    }
    assert len(carried) >= n_before - c_hit, "untouched files must carry forward"


def test_snapshot_clustered_file_count_scales_with_data_not_conf(spark, tmp_path):
    """Clustered commits size their file count from the DATA, never from
    spark.sql.shuffle.partitions. The old conf-derived default meant a
    session tuned to thousands of shuffle partitions shattered every small
    streaming commit into thousands of near-empty files. Pin: (a) a small
    commit under an absurdly large shuffle.partitions still writes ONE
    file; (b) 10x the bytes => more files at a fixed target_file_bytes
    (AQE optimized-write path); (c) merge sizes its rewrite from metadata
    (touched rows + upserts via target_file_rows), no extra count job;
    (d) cluster_files still overrides outright; (e) the optimized write's
    conf set/restore leaves the session untouched."""
    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    def mk(n):
        return spark.range(0, n).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        ).repartition(8)

    def n_files(t):
        return len(t._manifest(t.current_version())["files"])

    adv_before = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1000")
    try:
        small = SnapshotTable(spark, str(tmp_path / "s"), "k", cluster_by=["k"])
        small.create(mk(300))
        assert n_files(small) == 1, "a tiny commit is ONE file, conf be damned"

        big = SnapshotTable(
            spark, str(tmp_path / "b"), "k", cluster_by=["k"],
            target_file_bytes=16384, target_file_rows=10_000,
        )
        big.create(mk(30_000))
        n_created = n_files(big)
        assert n_created > 2, "30k rows @ 16KiB target must split into several files"

        lil = SnapshotTable(
            spark, str(tmp_path / "l"), "k", cluster_by=["k"], target_file_bytes=16384
        )
        lil.create(mk(3_000))
        assert n_files(lil) < n_created, "file count must follow commit bytes"

        # merge: a narrow upsert touches one file; the rewrite re-sizes from
        # (touched rows + upserts) / target_file_rows => no shatter, and the
        # untouched files carry forward.
        big.merge(mk(50))
        assert n_files(big) <= n_created + 1, (
            "metadata-sized merge must not shatter the commit"
        )

        fixed = SnapshotTable(
            spark, str(tmp_path / "f"), "k", cluster_by=["k"], cluster_files=4
        )
        fixed.create(mk(300))
        assert n_files(fixed) == 4, "explicit cluster_files overrides data sizing"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert (
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes") == adv_before
    ), "optimized write must restore the session's advisory size"


def test_snapshot_expire_versions_then_vacuum_reclaims(spark, tmp_path):
    """expire_versions drops old manifests (time-travel retention); only
    then does vacuum reclaim the files those versions solely pinned.
    Current data must be byte-identical before/after, expired versions
    must stop time-travelling, and keep_last must protect the tail."""
    import os

    import pytest as _pt
    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "exp"), "k")
    t.create(spark.range(0, 400).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v")))
    t.merge(spark.range(0, 400).select(F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")))
    before = sorted((r["k"], r["v"]) for r in t.snapshot().collect())

    with _pt.raises(ValueError, match="keep_last"):
        t.expire_versions(keep_last=0)
    # vacuum BEFORE expiry may sweep zero-row writer artifacts but never a
    # file any version references: both versions must still read intact
    t.vacuum(retention_seconds=0)
    v0 = sorted((r["k"], r["v"]) for r in t.snapshot(version=0).collect())
    assert len(v0) == 400 and v0[0] == (0, 0)
    assert sorted((r["k"], r["v"]) for r in t.snapshot().collect()) == before
    assert t.expire_versions(keep_last=1) == [0]
    assert t.versions() == [1]
    with _pt.raises(FileNotFoundError):
        t.snapshot(version=0)
    removed = t.vacuum(retention_seconds=0)
    assert removed > 0, "files pinned only by the expired v0 must be reclaimed"
    on_disk = sum(
        1 for _d, _s, names in os.walk(str(tmp_path / "exp" / "data"))
        for n in names if n.endswith(".parquet")
    )
    referenced = len(t._manifest(1)["files"])
    assert on_disk == referenced
    assert sorted((r["k"], r["v"]) for r in t.snapshot().collect()) == before
    # expiring when nothing is eligible is a no-op
    assert t.expire_versions(keep_last=5) == []


def test_snapshot_restore_then_expire_keeps_shared_files(spark, tmp_path):
    """The sharpest retention interplay: restore publishes an OLD file list
    by reference, so after expiring the original versions those files are
    pinned only by the restore commit — vacuum must keep them (the table
    must still read) while reclaiming the overwritten middle version's
    files, and restore/time-travel to an expired version must raise."""
    import os

    import pytest as _pt
    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "rexp"), "k")
    t.create(spark.range(0, 300).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v")))
    t.merge(spark.range(0, 300).select(F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")))
    t.restore(0)  # v2: v0's files by reference
    want = sorted((r["k"], r["v"]) for r in t.snapshot(version=0).collect())

    assert t.expire_versions(keep_last=1) == [0, 1]
    assert t.versions() == [2]
    removed = t.vacuum(retention_seconds=0)
    assert removed > 0, "v1's files are pinned by no retained version"
    # v0's files survive: still referenced by the restore commit
    assert sorted((r["k"], r["v"]) for r in t.snapshot().collect()) == want
    on_disk = sum(
        1 for _d, _s, names in os.walk(str(tmp_path / "rexp" / "data"))
        for n in names if n.endswith(".parquet")
    )
    assert on_disk == len(t._manifest(2)["files"])
    # expired versions are gone for every metadata verb, including restore
    with _pt.raises(FileNotFoundError):
        t.restore(1)
    with _pt.raises(FileNotFoundError):
        t.changes(0)


def test_snapshot_hardening_r9(spark, tmp_path):
    """R9 review batch: clear errors and edge contracts — uncreated-table
    verbs, create-on-existing, NULL-keyed deletes, duplicate upsert keys,
    and reading a legitimately emptied table."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "h"), "k")
    with _pt.raises(ValueError, match="no committed version"):
        t.snapshot()
    with _pt.raises(ValueError, match="no committed version"):
        t.merge(spark.range(1).select(F.col("id").alias("k")))

    base = spark.range(0, 10).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    t.create(base)
    with _pt.raises(ValueError, match="already exists"):
        t.create(base)

    # NULL-keyed delete rows previously no-opped silently (anti-join on
    # NULL matches nothing); now the merge-source validation raises.
    bad_del = spark.createDataFrame([(None, True)], "k long, _d boolean")
    with _pt.raises(ValueError, match="NULL merge key"):
        t.merge(bad_del, delete_col="_d")

    # Duplicate upsert keys would remove one victim and insert BOTH rows.
    dup = spark.createDataFrame([(1, 5), (1, 6)], "k long, v long")
    with _pt.raises(ValueError, match="duplicate upsert key"):
        t.merge(dup)

    # Delete every key: the emptied table must stay readable (typed, 0 rows).
    t.delete(base.select("k"))
    assert t.snapshot().count() == 0
    assert t.snapshot().columns == ["k", "v"]
    assert t.rows() == 0


def test_snapshot_date_key_stats_json_and_pruning(spark, tmp_path):
    """Non-JSON-native key types (DateType) must commit cleanly — the stats
    previously blew up json.dump AFTER the data files were written — and
    range pruning must stay conservative (never a TypeError) when manifest
    stats round-trip as ISO strings."""
    import datetime as dt

    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "dk"), "d")
    rows = [(dt.date(2024, 1, 1) + dt.timedelta(days=i), i) for i in range(10)]
    t.create(spark.createDataFrame(rows, "d date, v long"))
    assert t.rows() == 10
    # merge with a date key: bounds + pruning comparisons must not raise
    t.merge(spark.createDataFrame([(dt.date(2024, 1, 5), 99)], "d date, v long"))
    got = {r["d"]: r["v"] for r in t.snapshot().collect()}
    assert got[dt.date(2024, 1, 5)] == 99 and len(got) == 10
    # ISO-string bounds prune correctly (lexicographic == chronological)
    sub = t.scan_range("2024-01-02", "2024-01-04").collect()
    assert {r["v"] for r in sub} == {1, 2, 3}


def test_snapshot_clustered_compact_converges(spark, tmp_path):
    """compact() on a cluster_by table must honor its own target file count
    — the clustered write previously re-shuffled to shuffle.partitions,
    emitting MORE small files than it consumed and never converging."""
    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "cc"), "k", cluster_by=["k"], cluster_files=4)
    t.create(spark.range(0, 40).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v")))
    for i in range(3):
        t.append(
            spark.range(40 + i * 10, 50 + i * 10).select(
                F.col("id").alias("k"), (F.col("id") * 3).alias("v")
            )
        )
    before = sorted((r["k"], r["v"]) for r in t.snapshot().collect())
    v = t.compact(target_file_rows=1 << 20)
    assert len(t._manifest(v)["files"]) == 1, "all small files fold into the coalesce target"
    assert t.compact(target_file_rows=1 << 20) == v, "second compact is a no-op"
    assert sorted((r["k"], r["v"]) for r in t.snapshot().collect()) == before


def test_snapshot_vacuum_sweeps_sidecars_and_empty_dirs(spark, tmp_path):
    """vacuum must reclaim Hadoop .crc sidecars, _SUCCESS markers, and the
    emptied commit directories of expired versions — not only the parquet
    bytes (unbounded inode growth on a streaming sink otherwise)."""
    import os

    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    root = tmp_path / "vs"
    t = SnapshotTable(spark, str(root), "k")
    t.create(spark.range(0, 100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v")))
    t.merge(spark.range(0, 100).select(F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")))
    t.expire_versions(keep_last=1)
    t.vacuum(retention_seconds=0)
    leftovers = [
        os.path.join(d, n)
        for d, _s, names in os.walk(root / "data")
        for n in names
        if not n.endswith(".parquet")
    ]
    # every surviving non-parquet file must belong to a LIVE commit dir:
    # either a sidecar of an existing parquet, or that dir's _SUCCESS marker
    for p in leftovers:
        d, n = os.path.split(p)
        if n.endswith(".parquet.crc"):
            assert os.path.exists(os.path.join(d, n[1:-4])), f"orphan sidecar {p}"
        else:
            assert n in ("_SUCCESS", "._SUCCESS.crc"), p
            live = any(x.endswith(".parquet") for x in os.listdir(d))
            assert live, f"marker {p} in a dir with no live parquet"
    # no empty commit directories remain
    for d, subdirs, names in os.walk(root / "data"):
        if d != str(root / "data"):
            assert subdirs or names, f"empty commit dir {d}"


def test_snapshot_optimized_write_confs_survive_concurrent_writers(spark, tmp_path):
    """Two clustered tables with DIFFERENT target_file_bytes committing from
    two threads at once: the process-wide lock must serialize each writer's
    set-confs/write/restore window, so the session's AQE confs come back to
    their originals — without it, interleaved get-then-set pairs can snapshot
    each other's temporary values and restore them permanently."""
    import threading

    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    keys = (
        "spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize",
    )
    before = {k: spark.conf.get(k) for k in keys}
    src = spark.range(0, 3000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    errors = []

    def writer(name, tfb):
        try:
            t = SnapshotTable(
                spark, str(tmp_path / name), "k",
                cluster_by=["k"], target_file_bytes=tfb,
            )
            t.create(src)
            t.append(src.select((F.col("k") + 3000).alias("k"), "v"))
        except Exception as exc:  # pragma: no cover - surfaced via errors
            errors.append(exc)

    threads = [
        threading.Thread(target=writer, args=("a", 4096)),
        threading.Thread(target=writer, args=("b", 1 << 20)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    after = {k: spark.conf.get(k) for k in keys}
    assert after == before, "AQE confs must be restored to pre-write values"
    for name in ("a", "b"):
        t = SnapshotTable(spark, str(tmp_path / name), "k", cluster_by=["k"])
        assert t.snapshot().count() == 6000


def test_snapshot_vacuum_is_root_spelling_independent(spark, tmp_path):
    """vacuum must never classify LIVE files as unreferenced because the
    table root is spelled differently than when the manifests were written
    (relative path, trailing slash, symlink) — manifests record absolute
    paths, so reference identity has to be root-independent."""
    import os as _os

    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    root = str(tmp_path / "vroot")
    t = SnapshotTable(spark, root, "k")
    src = spark.range(0, 100).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    t.create(src)
    t.merge(spark.range(0, 10).select(F.col("id").alias("k"), F.lit(2).alias("v")))
    # age every file past retention, then vacuum through a RELATIVE root
    for dirpath, _d, names in _os.walk(root):
        for n in names:
            _os.utime(_os.path.join(dirpath, n), (0, 0))
    cwd = _os.getcwd()
    _os.chdir(tmp_path)
    try:
        t2 = SnapshotTable(spark, "vroot/", "k")
        t2.vacuum(retention_seconds=0)
    finally:
        _os.chdir(cwd)
    # live rows must all still be readable
    assert t.snapshot().count() == 100
    # and version 0 must still time-travel (all its files retained too)
    assert t.snapshot(0).count() == 100


def test_snapshot_decimal_key_stats_never_misprune(spark, tmp_path):
    """A merge key whose stats can't round-trip JSON order-preservingly
    (Decimal) must record NULL stats — files stay unprunable but EXACT; the
    old str() fallback pruned lexicographically ('95' > '105') and silently
    dropped rows from range scans."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "dec"), "k")
    src = spark.range(90, 120).select(
        F.col("id").cast("decimal(10,2)").alias("k"), F.lit(1).alias("v")
    )
    t.create(src)
    m = t._manifest(t.current_version())
    assert all(f["key_min"] is None and f["key_max"] is None for f in m["files"])
    got = sorted(r["k"] for r in t.scan_range(Decimal(100), Decimal(110)).collect())
    assert got == [Decimal(i).quantize(Decimal("0.01")) for i in range(100, 111)]


def test_snapshot_reopen_with_wrong_key_raises(spark, tmp_path):
    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    root = str(tmp_path / "wk")
    t = SnapshotTable(spark, root, "k")
    t.create(spark.range(5).select(F.col("id").alias("k"), F.col("id").alias("ts")))
    with pytest.raises(ValueError, match="created with merge key"):
        SnapshotTable(spark, root, "ts")


def test_snapshot_merge_rejects_upsert_delete_key_collision(spark, tmp_path):
    """One batch carrying BOTH an upsert and a delete for the same key is
    ambiguous (the upsert always silently wins) — must raise, like the
    duplicate-upsert case."""
    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "ud"), "k")
    t.create(
        spark.range(5).select(F.col("id").alias("k"), F.lit(0).cast("long").alias("v"))
    )
    bad = spark.createDataFrame(
        [(1, 9, False), (1, 0, True), (2, 7, False)],
        "k long, v long, is_del boolean",
    )
    with pytest.raises(ValueError, match="both an upsert and a delete"):
        t.merge(bad, delete_col="is_del")
    # disjoint action keys stay legal
    ok = spark.createDataFrame(
        [(1, 9, False), (2, 0, True)], "k long, v long, is_del boolean"
    )
    t.merge(ok, delete_col="is_del")
    assert sorted(r["k"] for r in t.snapshot().collect()) == [0, 1, 3, 4]


def test_snapshot_missing_key_column_fails_before_writing(spark, tmp_path):
    import os as _os

    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    root = str(tmp_path / "mk")
    t = SnapshotTable(spark, root, "k")
    nokey = spark.range(5).select(F.col("id").alias("other"))
    with pytest.raises(ValueError, match="no merge-key column"):
        t.create(nokey)
    assert not _os.path.isdir(_os.path.join(root, "data")) or not any(
        names for _p, _d, names in _os.walk(_os.path.join(root, "data"))
    ), "failed create must leave zero data files"
    t.create(spark.range(3).select(F.col("id").alias("k")))
    with pytest.raises(ValueError, match="no merge-key column"):
        t.append(nokey)
    with pytest.raises(ValueError, match="no merge-key column"):
        t.merge(nokey)


def test_snapshot_footer_stats_match_spark_aggregate(spark, tmp_path):
    """The r11 footer fast path (manifest stats read driver-side from the
    parquet footers, zero Spark jobs) must ENGAGE for plain long keys and
    agree with the Spark-aggregate fallback field for field — and a string
    key's footer stats must still prune-safely bound the real values."""
    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    df = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") * 3 % 97).alias("v")
    ).repartition(4)
    t = SnapshotTable(spark, str(tmp_path / "fs"), "k")
    files = t._write_files(df)
    # The fast path engaged: recompute via the Spark aggregate and compare.
    out = os.path.dirname(files[0]["path"])
    fast = t._footer_stats(out)
    assert fast is not None and len(fast) == len(files)
    slow = {
        r["path"].removeprefix("file://"): (r["rows"], r["key_min"], r["key_max"])
        for r in spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("path"))
        .agg(F.count("*").alias("rows"), F.min("k").alias("key_min"), F.max("k").alias("key_max"))
        .collect()
    }
    for f in fast:
        assert slow[f["path"]] == (f["rows"], f["key_min"], f["key_max"])

    # String key: footer bounds must CONTAIN the true value range (loose is
    # fine — truncation only widens; tight is what pyarrow actually gives).
    sdf = spark.range(0, 200).select(
        F.concat(F.lit("key_"), F.lpad(F.col("id").cast("string"), 4, "0")).alias("sk"),
        F.col("id").alias("v"),
    ).repartition(2)
    ts = SnapshotTable(spark, str(tmp_path / "fs_str"), "sk")
    sfiles = ts._write_files(sdf)
    lo = min(f["key_min"] for f in sfiles)
    hi = max(f["key_max"] for f in sfiles)
    assert lo <= "key_0000" and hi >= "key_0199"

    # NULL merge keys must still raise through the fast path.
    bad = spark.range(0, 10).select(
        F.when(F.col("id") % 2 == 0, F.col("id")).alias("k")
    )
    tb = SnapshotTable(spark, str(tmp_path / "fs_bad"), "k")
    with pytest.raises(ValueError, match="NULL merge key"):
        tb._write_files(bad)


def test_snapshot_footer_stats_decline_timestamp_keys(spark, tmp_path):
    """TIMESTAMP merge keys must NOT take the footer fast path: pyarrow
    footer stats are UTC-based while the Spark aggregate collects
    session-timezone datetimes, so one table's manifests could mix two ISO
    string shapes across commits and scan_range's string comparison would
    wrongly prune files (r12 / ADVICE). The aggregate fallback must produce
    session-consistent bounds that contain the written range."""
    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = spark.range(0, 100).select(
            F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 3600).alias("ts"),
            F.col("id").alias("v"),
        ).repartition(2)
        t = SnapshotTable(spark, str(tmp_path / "fs_ts"), "ts")
        files = t._write_files(df)
        out = os.path.dirname(files[0]["path"])
        assert t._footer_stats(out) is None, "timestamp key must decline fast path"
        # Aggregate-path bounds: pyspark collect() renders TimestampType via
        # datetime.fromtimestamp (PYTHON-process local tz) — whatever the
        # session tz says. The point of this test is that ALL bounds come
        # from that one representation, so compute the expectation the same
        # way and require exact agreement.
        lo = min(f["key_min"] for f in files)
        hi = max(f["key_max"] for f in files)
        import datetime

        assert lo == datetime.datetime.fromtimestamp(1700000000).isoformat()
        assert hi == datetime.datetime.fromtimestamp(1700000000 + 99 * 3600).isoformat()
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_snapshot_merge_prunes_date_keyed_tables(spark, tmp_path):
    """r12 review: manifest stats are ISO strings but the merge source's
    collected bounds were raw datetime.date objects — the comparison
    TypeError'd to 'might intersect' on EVERY file, silently degrading
    copy-on-write to a full-table rewrite per merge on date-keyed tables.
    Bounds now normalize through _stat_jsonable before pruning."""
    import os

    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    df = spark.range(0, 100).select(
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("d"),
        F.col("id").alias("v"),
    )
    t = SnapshotTable(spark, str(tmp_path / "snap_date"), "d", cluster_by=["d"],
                      cluster_files=4)
    t.create(df)
    before = {f["path"] for f in t._manifest(t.current_version())["files"]}
    assert len(before) == 4
    # merge touching only the last file's range
    src = spark.range(95, 100).select(
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("d"),
        (F.col("id") * 10).alias("v"),
    )
    t.merge(src)
    after = {f["path"] for f in t._manifest(t.current_version())["files"]}
    carried = before & after
    assert len(carried) >= 3, (
        f"only {len(carried)} files carried forward — date-keyed merge "
        "rewrote untouched files"
    )
    got = {(r["d"].isoformat(), r["v"]) for r in t.snapshot().collect()}
    assert ("2024-04-05", 950) in got and ("2024-01-01", 0) in got
    # scan_range with raw date bounds prunes too (and stays exact)
    import datetime

    pruned = t.scan_range(datetime.date(2024, 1, 1), datetime.date(2024, 1, 10))
    assert len(pruned.inputFiles()) <= 2
    assert pruned.count() == 10


def test_snapshot_table_with_percent_encodable_root(spark, tmp_path):
    """r12 review: the Spark-aggregate stats fallback recorded URL-encoded
    paths (input_file_name gives 'file:///my%20tables/...'), so any
    timestamp/Decimal-keyed table under a root with encodable characters
    published unreadable versions. Paths are percent-decoded now."""
    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable

    root = str(tmp_path / "my tables" / "events")
    df = spark.range(0, 20).select(
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 60).alias("ts"),
        F.col("id").alias("v"),
    )
    t = SnapshotTable(spark, root, "ts")  # timestamp key: aggregate fallback
    t.create(df)
    assert t.snapshot().count() == 20  # readable despite the space in root
    t.merge(
        spark.range(0, 5).select(
            F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 60).alias("ts"),
            (F.col("id") + 100).alias("v"),
        )
    )
    assert t.snapshot().where(F.col("v") >= 100).count() == 5


def test_snapshot_compact_skips_nonconverging_rewrite(spark, tmp_path):
    """r12 review: when the small-file set cannot be folded into FEWER
    files (e.g. two 90%-full files), compact must be a no-op — the old
    guard (len(small) <= 1) rewrote the same rows into the same layout and
    published a junk version every maintenance cycle, forever."""
    from flusher_spark.io.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "snap_conv"), "k")
    t.create(spark.range(0, 18).selectExpr("id as k", "id as v").coalesce(2))
    v = t.current_version()
    # each file ~9 rows; target 10 → n_out = ceil(18/10) = 2 == len(small)
    assert t.compact(target_file_rows=10) == v  # no-op, no new version
    assert t.current_version() == v
    # a genuinely foldable layout still compacts
    assert t.compact(target_file_rows=100) == v + 1


def test_snapshot_cluster_by_recovered_across_writers(spark, tmp_path):
    """r12 review: cluster_by is now manifest-recorded and recovered like
    the key, so a second writer (the CLI opens tables with key alone) no
    longer silently rewrites files unclustered with whole-keyspace
    ranges."""
    from flusher_spark.io.snapshots import SnapshotTable, stored_cluster_by

    root = str(tmp_path / "snap_cb")
    a = SnapshotTable(spark, root, "k", cluster_by=["k"], cluster_files=4)
    a.create(spark.range(0, 100).selectExpr("id as k", "id as v"))
    assert stored_cluster_by(root) == ["k"]
    b = SnapshotTable(spark, root, "k")  # omits cluster_by: adopts recorded
    assert b.cluster_by == ["k"]
    b.merge(spark.range(200, 210).selectExpr("id as k", "id*2 as v"))
    files = b._manifest(b.current_version())["files"]
    new = [f for f in files if f["key_min"] is not None and int(f["key_min"]) >= 200]
    assert new, files
    # the rewritten commit kept tight (not whole-keyspace) ranges
    assert all(int(f["key_max"]) <= 209 for f in new)


def test_snapshot_schema_evolution_ignores_nested_nullability(spark, tmp_path):
    """r12 review: nested nullability (struct inner fields, array
    containsNull) lives inside dataType, so a non-nullable inner field vs
    the same field inferred nullable raised a spurious type conflict and
    permanently failed the sink's commit. Real type conflicts still
    raise."""
    import pytest as _pytest

    from flusher_spark.io.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "snap_nn"), "k")
    # struct inner field non-nullable (lit lineage)
    t.create(spark.range(0, 3).select("id").selectExpr(
        "id as k", "named_struct('a', id) as s"
    ))
    # same logical shape, inner field nullable
    nullable_src = spark.range(3, 6).selectExpr(
        "id as k", "named_struct('a', if(id > 100, id, id)) as s"
    ).selectExpr("k", "named_struct('a', nullif(s.a, -1)) as s")
    t.append(nullable_src)
    assert t.snapshot().count() == 6
    # a REAL nested type conflict still raises
    with _pytest.raises(ValueError, match="type conflict"):
        t.append(spark.range(6, 7).selectExpr(
            "id as k", "named_struct('a', cast(id as string)) as s"
        ))


def test_snapshot_cluster_by_empty_list_unclusters(spark, tmp_path):
    """r13 (r12 ADVICE): cluster_by=[] is the deliberate re-layout TO
    UNCLUSTERED. Omission (None) adopts the recorded layout; the explicit
    empty list must NOT adopt, and its commits stop recording a layout so
    later omitted-cluster_by openers see an unclustered table."""
    from pyspark.sql import functions as F

    from flusher_spark.io.snapshots import SnapshotTable, stored_cluster_by

    root = str(tmp_path / "uncluster")
    src = spark.range(0, 1000).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    SnapshotTable(spark, root, "k", cluster_by=["k"]).create(src)
    assert stored_cluster_by(root) == ["k"]
    # omission adopts
    assert SnapshotTable(spark, root, "k").cluster_by == ["k"]
    # explicit [] does not adopt, and its commit clears the recorded layout
    t = SnapshotTable(spark, root, "k", cluster_by=[])
    assert t.cluster_by is None
    t.append(
        spark.range(1000, 2000).select(F.col("id").alias("k"), F.lit(2).alias("v"))
    )
    assert stored_cluster_by(root) is None
    assert SnapshotTable(spark, root, "k").cluster_by is None
    assert SnapshotTable(spark, root, "k").snapshot().count() == 2000


def test_worksheet_writer_append_aligns_columns_by_name(spark, tmp_path):
    """r13 review: append-mode commit concatenated shard rows under the
    existing header with NO alignment — appending df.select(v, k) to a
    sheet written as (k, v) landed values under the wrong headers with no
    error anywhere. Same names in a different order now reorder; different
    column sets fail loudly."""
    import pytest as _pytest

    from flusher_spark.sources.datasource import WorksheetDataSource

    try:
        spark.dataSource.register(WorksheetDataSource)
    except Exception:
        pass
    path = str(tmp_path / "sheet.csv")
    spark.createDataFrame([(1, "a")], "k int, v string").write.format(
        "worksheet"
    ).option("path", path).mode("overwrite").save()
    # reversed column order: must align by name, not position
    spark.createDataFrame([("b", 2)], "v string, k int").coalesce(1).write.format(
        "worksheet"
    ).option("path", path).mode("append").save()
    lines = open(path).read().splitlines()
    assert lines[0] == "k,v"
    assert "2,b" in lines and "b,2" not in lines
    # a different column SET is a layout conflict: loud error
    with _pytest.raises(Exception, match="does not match the existing sheet"):
        spark.createDataFrame([(3, "c")], "k int, other string").coalesce(
            1
        ).write.format("worksheet").option("path", path).mode("append").save()


def test_worksheet_datasource_wide_rows_match_read_sheet(spark, tmp_path):
    """r13 review: a grid WIDER than its header row silently truncated the
    extra cells in the registered DataSource while read_sheet padded
    col_<N> names for them — two readers of one worksheet model exposing
    different data. Both must surface the padded columns."""
    from flusher_spark.sources.datasource import WorksheetDataSource
    from flusher_spark.sources.sheet import SheetGrid, read_sheet

    try:
        spark.dataSource.register(WorksheetDataSource)
    except Exception:
        pass
    path = str(tmp_path / "wide.csv")
    with open(path, "w") as f:
        f.write("a,b\n1,2,3\n4,5\n")
    ds = spark.read.format("worksheet").load(path)
    assert ds.columns == ["a", "b", "col_3"]
    got = {tuple(r) for r in ds.collect()}
    assert got == {("1", "2", "3"), ("4", "5", "")}
    grid = SheetGrid("wide", rows=[["a", "b"], ["1", "2", "3"], ["4", "5"]], header=True)
    via_sheet = read_sheet(spark, grid)
    assert via_sheet.columns == ds.columns
    assert {tuple(r) for r in via_sheet.collect()} == got


def test_scratch_root_bounded_in_process(tmp_path, monkeypatch):
    """r14: atexit-only cleanup still leaked scratch roots linearly during
    a long-lived driver loop; each prefix must retain only its newest two
    roots (retain=None opts out for cross-invocation caches)."""
    import os
    import tempfile

    from flusher_spark.plans.etl import _scratch_root

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    roots = [_scratch_root("t14_") for _ in range(5)]
    assert [os.path.isdir(r) for r in roots] == [False, False, False, True, True]
    kept = [_scratch_root("t14_keep_", retain=None) for _ in range(4)]
    assert all(os.path.isdir(r) for r in kept)


class TestSnapshotR14Fixes:
    def _table(self, spark, tmp_path, key="k", rows=None, schema="k decimal(10,2), v string"):
        from flusher_spark.io.snapshots import SnapshotTable

        t = SnapshotTable(spark, str(tmp_path / "tbl"), key=key)
        if rows is not None:
            t.create(spark.createDataFrame(rows, schema))
        return t

    def test_merge_empty_source_touches_nothing_on_null_stat_files(self, spark, tmp_path):
        """r14: Decimal-keyed tables have NULL file stats; an empty merge
        source used to touch (and rewrite) every such file and publish a
        version per empty micro-batch. An empty source matches no key:
        the data files must carry forward by reference."""
        from decimal import Decimal

        schema = "k decimal(10,2), v string"
        t = self._table(
            spark, tmp_path,
            rows=[(Decimal("1.00"), "a"), (Decimal("2.00"), "b")], schema=schema,
        )
        m0 = t._manifest(t.current_version())
        assert all(f["key_min"] is None for f in m0["files"])  # the premise
        t.merge(spark.createDataFrame([], schema))
        m1 = t._manifest(t.current_version())
        assert {f["path"] for f in m0["files"]} <= {f["path"] for f in m1["files"]}
        assert {r["v"] for r in t.snapshot().collect()} == {"a", "b"}

    def test_compact_rejects_non_positive_target(self, spark, tmp_path):
        from decimal import Decimal

        import pytest as _pytest

        t = self._table(spark, tmp_path, rows=[(Decimal("1.00"), "a")])
        with _pytest.raises(ValueError, match="target_file_rows"):
            t.compact(target_file_rows=0)
        with _pytest.raises(ValueError, match="target_file_rows"):
            t.compact(target_file_rows=-5)

    def test_changes_across_restore_type_branch_raises_actionably(self, spark, tmp_path):
        """r14: restore() branches history, so two readable versions can
        disagree on a re-added column's type; changes() must explain the
        cause and workaround instead of a bare 'schema evolution' error."""
        import pytest as _pytest

        from flusher_spark.io.snapshots import SnapshotTable

        t = SnapshotTable(spark, str(tmp_path / "tbl"), key="k")
        t.create(spark.createDataFrame([(1, "a")], "k long, v string"))  # v0
        t.merge(spark.createDataFrame([(2, "b", "s1")], "k long, v string, s string"))  # v1
        t.restore(0)  # v2: schema without s
        t.merge(spark.createDataFrame([(3, "c", 7)], "k long, v string, s int"))  # v3
        with _pytest.raises(ValueError, match="restore"):
            t.changes(1, 3)
        # the straight history still diffs fine
        assert t.changes(2, 3).count() > 0

    def test_vacuum_sweeps_orphaned_manifest_temps(self, spark, tmp_path):
        """r14: a writer killed inside _publish leaves .tmp-*.json in
        _manifests forever; vacuum now reclaims aged ones (younger ones may
        belong to a publish in flight)."""
        import os
        import time
        from decimal import Decimal

        t = self._table(spark, tmp_path, rows=[(Decimal("1.00"), "a")])
        mdir = os.path.join(str(tmp_path / "tbl"), "_manifests")
        old = os.path.join(mdir, ".tmp-deadbeef.json")
        new = os.path.join(mdir, ".tmp-cafebabe.json")
        for p in (old, new):
            with open(p, "w") as f:
                f.write("{}")
        past = time.time() - 7 * 24 * 3600
        os.utime(old, (past, past))
        t.vacuum(retention_seconds=3600)
        assert not os.path.exists(old)
        assert os.path.exists(new)  # inside the retention window
        # current version still reads
        assert t.snapshot().count() == 1


def test_worksheet_append_initializes_empty_existing_file(spark, tmp_path):
    """r14 review: a zero-byte existing file is an UNINITIALIZED sheet, not
    a sheet with header [] — appending onto a pre-created/truncated file
    used to fail the schema-mismatch guard forever."""
    _register_ws(spark)
    path = str(tmp_path / "sheet.csv")
    open(path, "w").close()  # touch: exists, zero bytes
    spark.createDataFrame([("1", "x")], "a string, b string").write.format(
        "worksheet"
    ).option("path", path).mode("append").save()
    got = spark.read.format("worksheet").option("path", path).load().collect()
    assert [(r["a"], r["b"]) for r in got] == [("1", "x")]


def test_get_session_defers_master_to_external_launcher(monkeypatch):
    """r14 review: under spark-submit (the py4j gateway env vars are its
    signature) get_session must NOT set master/driver-memory — builder
    values override the launcher's, so a YARN submit used to run the whole
    job local[N] on the driver host."""
    from flusher_spark.session import _launcher_owns_master

    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    assert _launcher_owns_master() is False
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "54321")
    assert _launcher_owns_master() is True


def test_get_session_leaves_a_live_session_conf_alone(spark):
    """A second get_session on a live session (the CLI's ``main`` inside a
    test run) returns it with only the engine's runtime confs applied: the
    builder used to rewrite shuffle partitions to its own cpus, so every
    later test in the run planned with a different partition count."""
    from flusher_spark.session import get_session

    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert get_session(cpus=2) is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
