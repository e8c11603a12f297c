"""Unit tests for table-maintenance operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from eggv_spark.operators import tableops as TO


def test_unpivot_roundtrips_pivot(spark):
    df = spark.createDataFrame([(1, "a", "b")], ["id", "x", "y"])
    out = TO.unpivot(df, ["id"], ["x", "y"])
    rows = {(r.variable, r.value) for r in out.collect()}
    assert rows == {("x", "a"), ("y", "b")}


def test_merge_upsert_semantics(spark):
    current = spark.createDataFrame(
        [(1, "old1"), (2, "old2"), (3, "old3")], ["k", "v"]
    )
    updates = spark.createDataFrame([(2, "new2"), (9, "new9")], ["k", "v"])
    out = {r.k: r.v for r in TO.merge_upsert(current, updates, ["k"]).collect()}
    assert out == {1: "old1", 2: "new2", 3: "old3", 9: "new9"}


def test_profile_single_pass(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "x"), (2, "y")], ["a", "b"]
    )
    prof = TO.profile_columns(df, ["a", "b"])
    rows = {r.col_name: r for r in prof.collect()}
    assert rows["a"].n_nulls == 0 and rows["a"].n_distinct == 2
    assert rows["b"].n_nulls == 1 and rows["b"].n_distinct == 2
    assert rows["a"].min_value == "1" and rows["a"].max_value == "2"
    # single aggregate: exactly one scan of the source in the plan
    # (multi-distinct handled via Expand/gid, not repeated scans)
    plan = prof._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LocalTableScan") <= 1


def test_key_distribution(spark):
    df = spark.createDataFrame(
        [(1,)] * 8 + [(2,)] * 2, ["k"]
    )
    rows = TO.key_distribution(df, ["k"], top_n=2).collect()
    assert (rows[0].k, rows[0].n_rows, rows[0].share) == (1, 8, 0.8)
    assert (rows[1].k, rows[1].n_rows, rows[1].share) == (2, 2, 0.2)


def test_incremental_append_is_idempotent(spark, tmp_path):
    from eggv_spark.operators.tableops import incremental_append

    sink = str(tmp_path / "sink")
    batch1 = spark.createDataFrame([(1, 10), (2, 20)], ["id", "wm"])
    assert incremental_append(batch1, sink, "wm") == 2
    # re-run same batch: nothing new
    assert incremental_append(batch1, sink, "wm") == 0
    # overlapping batch: only the strictly-newer row lands
    batch2 = spark.createDataFrame([(2, 20), (3, 30)], ["id", "wm"])
    assert incremental_append(batch2, sink, "wm") == 1
    assert spark.read.parquet(sink).count() == 3


def test_scd2_merge_versions_changed_keys(spark):
    from eggv_spark.operators.tableops import scd2_merge

    dim = spark.createDataFrame(
        [
            (1, "alice", "NY", 100, None),   # open, will change
            (2, "bob", "SF", 100, None),     # open, unchanged
            (1, "alice", "LA", 50, 100),     # already-closed history
        ],
        ["id", "name", "city", "valid_from", "valid_to"],
    )
    updates = spark.createDataFrame(
        [(1, "alice", "CHI", 200), (3, "carol", "DEN", 200)],
        ["id", "name", "city", "effective_ts"],
    )
    out = scd2_merge(dim, updates, "id", ["name", "city"]).collect()
    rows = {(r["id"], r["city"]): (r["valid_from"], r["valid_to"]) for r in out}
    assert rows[(1, "NY")] == (100, 200)    # closed at update time
    assert rows[(1, "CHI")] == (200, None)  # new open version
    assert rows[(1, "LA")] == (50, 100)     # history untouched
    assert rows[(2, "SF")] == (100, None)   # unchanged passes through
    assert rows[(3, "DEN")] == (200, None)  # brand-new key inserts open
    assert len(rows) == 5


def test_validate_constraints_counts_violations(spark):
    from eggv_spark.operators.tableops import validate_constraints

    df = spark.createDataFrame(
        [(1, "A", 10.0), (2, "A", -5.0), (2, None, 50.0), (3, "Z", None)],
        ["k", "status", "price"],
    )
    out = {r.constraint: (r.violations, r.passed)
           for r in validate_constraints(
               df,
               not_null=["status"],
               unique="k",
               ranges={"price": (0.0, 100.0)},
               accepted={"status": ["A", "B"]},
           ).collect()}
    assert out["not_null(status)"] == (1, False)
    assert out["unique(k)"] == (1, False)          # k=2 twice
    # null price is NOT a range violation (not_null's job)
    assert out["range(price,[0.0,100.0])"] == (1, False)  # -5.0 only
    assert out["accepted(status)"] == (1, False)   # 'Z' only, null excluded
    clean = validate_constraints(df.limit(0), not_null=["status"]).collect()
    assert clean[0].violations == 0 and clean[0].passed


def test_validate_constraints_single_pass_plan(spark):
    from eggv_spark.operators.tableops import validate_constraints

    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    out = validate_constraints(
        df, not_null=["o_custkey"], unique="o_orderkey",
        ranges={"o_totalprice": (0.0, 1e6)},
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # All constraints in ONE aggregate over one scan — a per-check
    # job would show several scans.
    assert plan.count("FileScan parquet") == 1


def test_zorder_key_interleaves_bits(spark):
    from eggv_spark.operators.tableops import zorder_key

    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(0b1010, 0b0110)], "x long, y long"
    )
    got = df.select(zorder_key(F.col("x"), F.col("y")).alias("z")).first().z
    # x bits -> even positions, y bits -> odd:
    # x=1010, y=0110 => z = 0b01101100 (x3=1@b6, y2=1@b5, y1=1@b3, x1=1@b2)
    assert got == 0b01101100


def test_cdc_apply_last_op_wins(spark):
    from eggv_spark.operators.tableops import cdc_apply

    current = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    changes = spark.createDataFrame(
        [
            (1, "a2", "U", 1), (1, None, "D", 2),   # delete wins (later)
            (2, "b2", "U", 5), (2, "bX", "U", 4),   # higher seq wins
            (9, "new", "I", 1),                       # brand-new key
        ],
        "k long, v string, op string, seq long",
    )
    got = {r.k: r.v for r in cdc_apply(current, changes, ["k"], "seq").collect()}
    assert got == {2: "b2", 3: "c", 9: "new"}
    # equal seq: the delete deterministically beats the update
    tie = spark.createDataFrame(
        [(3, "c2", "U", 7), (3, None, "D", 7)],
        "k long, v string, op string, seq long",
    )
    got = {r.k: r.v for r in cdc_apply(current, tie, ["k"], "seq").collect()}
    assert 3 not in got


def test_snapshot_diff_classifies_all_statuses(spark):
    from eggv_spark.operators.tableops import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, None, 30.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),      # unchanged
         (2, "b", 21.0),      # changed value
         (4, "d", 40.0),      # added
         (3, "", 30.0)],      # NULL -> '' must count as changed
        "k long, s string, v double",
    )
    got = {r.k: r.diff_status for r in snapshot_diff(
        old, new, ["k"], ["s", "v"]).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "changed", 4: "added"}

    # removal
    got2 = {r.k: r.diff_status for r in snapshot_diff(
        new, old, ["k"], ["s", "v"]).collect()}
    assert got2[4] == "removed"


def test_observed_write_metrics_single_job(spark, tmp_path):
    from eggv_spark.operators.tableops import observed_write_metrics

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 9.0)], "k long, v double"
    )
    path = str(tmp_path / "observed")
    m = observed_write_metrics(df, path, "v")
    assert m == {"n_rows": 3, "n_nulls": 1, "min_value": 5.0,
                 "max_value": 9.0}
    # the write actually landed, same pass
    assert spark.read.parquet(path).count() == 3


def test_vacuum_orphans_removes_only_work_dirs(spark, tmp_path):
    import os

    from eggv_spark.operators.tableops import vacuum_orphans

    table = tmp_path / "t"
    spark.range(3).write.parquet(str(table))
    for orphan in ("t__replaced", "nested/x__upserting"):
        os.makedirs(tmp_path / orphan, exist_ok=True)
        (tmp_path / orphan / "junk").write_text("x")
    out = vacuum_orphans(str(tmp_path))
    assert len(out["removed"]) == 2 and out["needs_recovery"] == []
    # the live table is untouched
    assert spark.read.parquet(str(table)).count() == 3
    assert vacuum_orphans(str(tmp_path)) == {
        "removed": [], "needs_recovery": []
    }
    # Hadoop-FS walk (file: scheme) agrees with the local walk.
    for orphan in ("t__replaced", "nested/y__upserting"):
        os.makedirs(tmp_path / orphan, exist_ok=True)
        (tmp_path / orphan / "junk").write_text("x")
    out = vacuum_orphans(str(tmp_path), spark)
    assert len(out["removed"]) == 2 and out["needs_recovery"] == []


def test_vacuum_orphans_protects_sole_surviving_backup(spark, tmp_path):
    """A __replaced dir whose live table is GONE is the only copy left
    by a swap that crashed between its two renames — vacuum must
    refuse to delete it and report it for recovery instead."""
    import os

    from eggv_spark.operators.tableops import vacuum_orphans

    backup = tmp_path / "t__replaced"
    os.makedirs(backup)
    (backup / "part-0").write_text("the only copy")
    for use_spark in (None, spark):
        out = vacuum_orphans(str(tmp_path), use_spark)
        assert out["removed"] == []
        assert out["needs_recovery"] == [str(backup)]
        assert (backup / "part-0").read_text() == "the only copy"
    # Once the table is restored (live path back), the backup is junk.
    os.makedirs(tmp_path / "t")
    (tmp_path / "t" / "part-0").write_text("restored")
    out = vacuum_orphans(str(tmp_path))
    assert out["removed"] == [str(backup)] and out["needs_recovery"] == []


def test_partition_overwrite_replaces_only_named_partitions(spark, tmp_path):
    from eggv_spark.operators.tableops import partition_overwrite

    sink = str(tmp_path / "by_day")
    full = spark.createDataFrame(
        [(d, i, float(i)) for d in (1, 2, 3) for i in range(5)],
        "day int, k int, v double",
    )
    partition_overwrite(full, sink, ["day"])
    # recompute day 2 only, with fewer rows and new values
    backfill = spark.createDataFrame(
        [(2, 99, 100.0)], "day int, k int, v double"
    )
    partition_overwrite(backfill, sink, ["day"])
    out = spark.read.parquet(sink)
    per_day = {
        r.day: (r.n, r.s)
        for r in out.groupBy("day")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    # days 1 and 3 untouched; day 2 fully replaced (not appended)
    assert per_day[1] == (5, 10.0) and per_day[3] == (5, 10.0)
    assert per_day[2] == (1, 100.0)
    # idempotent: re-running the same backfill changes nothing
    partition_overwrite(backfill, sink, ["day"])
    assert spark.read.parquet(sink).count() == 11
