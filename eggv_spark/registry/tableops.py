"""Table-maintenance entries: merges, CDC and SCD apply, partition
layout, file planning, audits and snapshots.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from eggv_spark.operators import dedupe as D
from eggv_spark.operators import tableops as TO
from eggv_spark.registry._shared import register, _scratch_dir, _t


@register(
    "tbl_validate",
    "WITH a AS (SELECT"
    " sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v1,"
    " sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS v2,"
    " count(o_orderkey) - count(DISTINCT o_orderkey) AS v3,"
    " sum(CASE WHEN NOT o_totalprice BETWEEN 0.0 AND 1000000.0"
    "     THEN 1 ELSE 0 END) AS v4,"
    " sum(CASE WHEN o_orderstatus IS NOT NULL"
    "     AND o_orderstatus NOT IN ('O', 'F', 'P')"
    "     THEN 1 ELSE 0 END) AS v5"
    " FROM orders)"
    " SELECT c AS constraint, CAST(v AS BIGINT) AS violations,"
    " v = 0 AS passed FROM a, (VALUES"
    " ('not_null(o_custkey)', 1), ('not_null(o_orderdate)', 2),"
    " ('unique(o_orderkey)', 3),"
    " ('range(o_totalprice,[0.0,1000000.0])', 4),"
    " ('accepted(o_orderstatus)', 5)) t(c, i),"
    " LATERAL (SELECT CASE i WHEN 1 THEN v1 WHEN 2 THEN v2"
    "  WHEN 3 THEN v3 WHEN 4 THEN v4 ELSE v5 END AS v) s",
)
def _tbl_validate(spark, sf_dir):
    """One-pass Deequ-style constraint validation over orders."""
    return TO.validate_constraints(
        _t(spark, sf_dir, "orders"),
        not_null=["o_custkey", "o_orderdate"],
        unique="o_orderkey",
        ranges={"o_totalprice": (0.0, 1_000_000.0)},
        accepted={"o_orderstatus": ["O", "F", "P"]},
    )


@register(
    "tbl_unpivot",
    "SELECT p_partkey, 'p_brand' AS attribute, p_brand AS attr_value FROM part"
    " UNION ALL"
    " SELECT p_partkey, 'p_type', p_type FROM part"
    " UNION ALL"
    " SELECT p_partkey, 'p_name', p_name FROM part",
)
def _tbl_unpivot(spark, sf_dir):
    return TO.unpivot(
        _t(spark, sf_dir, "part"),
        ["p_partkey"],
        ["p_brand", "p_type", "p_name"],
        "attribute",
        "attr_value",
    )


@register(
    "tbl_merge_upsert",
    "WITH updates AS ("
    "  SELECT c_custkey, c_name, 'UPDATED' AS c_mktsegment"
    "  FROM customer WHERE c_custkey % 7 = 0"
    "  UNION ALL"
    "  SELECT 9000001, 'Customer#new', 'NEW'"
    ") SELECT * FROM updates"
    " UNION ALL"
    " SELECT c_custkey, c_name, c_mktsegment FROM customer"
    " WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)",
)
def _tbl_merge_upsert(spark, sf_dir):
    current = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    updates = (
        current.filter("c_custkey % 7 = 0")
        .withColumn("c_mktsegment", F.lit("UPDATED"))
        .unionByName(
            spark.range(1).select(
                F.lit(9_000_001).alias("c_custkey"),
                F.lit("Customer#new").alias("c_name"),
                F.lit("NEW").alias("c_mktsegment"),
            )
        )
    )
    return TO.merge_upsert(current, updates, ["c_custkey"])


@register(
    "tbl_profile",
    "WITH src AS (SELECT o_custkey, o_orderstatus,"
    "  nullif(o_orderpriority, '5-LOW') AS priority_nullable FROM orders)"
    " SELECT 'o_custkey' AS col_name, count(*) AS n_rows,"
    "  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,"
    "  count(DISTINCT o_custkey) AS n_distinct,"
    "  CAST(min(o_custkey) AS VARCHAR) AS min_value,"
    "  CAST(max(o_custkey) AS VARCHAR) AS max_value FROM src"
    " UNION ALL"
    " SELECT 'o_orderstatus', count(*),"
    "  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),"
    "  count(DISTINCT o_orderstatus),"
    "  CAST(min(o_orderstatus) AS VARCHAR),"
    "  CAST(max(o_orderstatus) AS VARCHAR) FROM src"
    " UNION ALL"
    " SELECT 'priority_nullable', count(*),"
    "  CAST(sum(CASE WHEN priority_nullable IS NULL THEN 1 ELSE 0 END) AS BIGINT),"
    "  count(DISTINCT priority_nullable),"
    "  CAST(min(priority_nullable) AS VARCHAR),"
    "  CAST(max(priority_nullable) AS VARCHAR) FROM src",
)
def _tbl_profile(spark, sf_dir):
    df = _t(spark, sf_dir, "orders").withColumn(
        "priority_nullable", F.nullif("o_orderpriority", F.lit("5-LOW"))
    )
    return TO.profile_columns(
        df, ["o_custkey", "o_orderstatus", "priority_nullable"]
    )


@register(
    "tbl_key_distribution",
    "SELECT l_partkey, count(*) AS n_rows,"
    " round(CAST(count(*) AS DOUBLE)"
    "   / (SELECT count(*) FROM lineitem), 4) AS share"
    " FROM lineitem GROUP BY l_partkey"
    " ORDER BY n_rows DESC, l_partkey ASC LIMIT 10",
)
def _tbl_key_distribution(spark, sf_dir):
    return TO.key_distribution(
        _t(spark, sf_dir, "lineitem"), ["l_partkey"], top_n=10
    )


@register(
    "tbl_snapshot_diff",
    "WITH oldt AS (SELECT o_orderkey, md5(concat_ws(chr(31),"
    "  coalesce(CAST(o_totalprice AS VARCHAR), '<NULL>'),"
    "  coalesce(o_orderstatus, '<NULL>'))) AS h FROM orders),"
    " base AS (SELECT o_orderkey,"
    "  CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0"
    "   ELSE o_totalprice END AS p, o_orderstatus"
    "  FROM orders WHERE o_orderkey % 97 <> 0),"
    " added AS (SELECT o_orderkey + 10000000 AS o_orderkey,"
    "  o_totalprice AS p, o_orderstatus FROM orders"
    "  WHERE o_orderkey % 101 = 0),"
    " newt AS (SELECT o_orderkey, md5(concat_ws(chr(31),"
    "  coalesce(CAST(p AS VARCHAR), '<NULL>'),"
    "  coalesce(o_orderstatus, '<NULL>'))) AS h"
    "  FROM (SELECT * FROM base UNION ALL SELECT * FROM added)),"
    " j AS (SELECT oldt.h AS ho, newt.h AS hn"
    "  FROM oldt FULL OUTER JOIN newt USING (o_orderkey))"
    " SELECT CASE WHEN ho IS NULL THEN 'added'"
    "  WHEN hn IS NULL THEN 'removed'"
    "  WHEN ho <> hn THEN 'changed'"
    "  ELSE 'unchanged' END AS diff_status, count(*) AS n_keys"
    " FROM j GROUP BY 1",
)
def _tbl_snapshot_diff(spark, sf_dir):
    """Snapshot reconciliation: diff orders against a derived second
    snapshot (keys %97 deleted, %89 repriced, %101 cloned to new
    keys) and count keys per added/removed/changed/unchanged class.
    Each side collapses to (key, md5) BEFORE the full-outer join, so
    the shuffle carries digests, not row bodies."""
    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.pmod("o_orderkey", F.lit(97)) != 0).withColumn(
        "o_totalprice",
        F.when(
            F.pmod("o_orderkey", F.lit(89)) == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    added = orders.filter(F.pmod("o_orderkey", F.lit(101)) == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000
    )
    new = base.unionByName(added)
    diff = TO.snapshot_diff(
        orders, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    )
    return diff.groupBy("diff_status").agg(F.count("*").alias("n_keys"))


@register(
    "tbl_zorder_key",
    "SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, "
    + TO.zorder_key_sql("l_partkey", "l_suppkey")
    + " AS zkey FROM lineitem",
)
def _tbl_zorder_key(spark, sf_dir):
    """Z-order (Morton) locality key over (l_partkey, l_suppkey):
    the two-column data-skipping sort key, as a pure unrolled
    shift/mask/or Column program (shuffle-free, codegen)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        TO.zorder_key(F.col("l_partkey"), F.col("l_suppkey")).alias("zkey"),
    )


@register(
    "tbl_scd2_apply",
    "WITH changed AS (SELECT c_custkey,"
    "  'SEG_' || CAST(c_custkey % 5 AS VARCHAR) AS new_seg"
    " FROM customer WHERE c_custkey % 7 = 0"
    "  AND c_mktsegment <> 'SEG_' || CAST(c_custkey % 5 AS VARCHAR))"
    " SELECT c.c_custkey, c.c_mktsegment AS segment,"
    " CAST(0 AS BIGINT) AS valid_from,"
    " CAST(CASE WHEN ch.c_custkey IS NOT NULL THEN 100 END"
    "  AS BIGINT) AS valid_to"
    " FROM customer c LEFT JOIN changed ch USING (c_custkey)"
    " UNION ALL"
    " SELECT c_custkey, new_seg, CAST(100 AS BIGINT),"
    "  CAST(NULL AS BIGINT) FROM changed",
)
def _tbl_scd2_apply(spark, sf_dir):
    """SCD2 dimension maintenance: apply a segment-change batch to a
    versioned customer dimension (open rows valid_to IS NULL) —
    changed keys close at the effective time and re-open with the new
    attributes; unchanged keys pass through.  The dimension side
    streams; only the update batch broadcasts."""
    cust = _t(spark, sf_dir, "customer")
    dim = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    updates = cust.filter("c_custkey % 7 = 0").select(
        "c_custkey",
        F.concat(F.lit("SEG_"), (F.col("c_custkey") % 5).cast("string")).alias(
            "segment"
        ),
        F.lit(100).cast("long").alias("effective_ts"),
    )
    return TO.scd2_merge(
        dim, updates, "c_custkey", ["segment"], "effective_ts"
    )


@register(
    "tbl_cdc_apply",
    "SELECT o_orderkey, round(o_totalprice, 2) AS price"
    " FROM orders WHERE o_orderkey % 10 <> 0"
    " UNION ALL"
    " SELECT o_orderkey, round(o_totalprice, 2) * 2"
    " FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 20 <> 0"
    " UNION ALL"
    " SELECT o_orderkey + 1000000000, round(o_totalprice, 2)"
    " FROM orders WHERE o_orderkey % 10 = 3",
)
def _tbl_cdc_apply(spark, sf_dir):
    """CDC change-stream apply: last op per key wins (delete beats an
    earlier update), I/U upsert, D removes — the batch twin of the
    streaming upsert sink.  Changes are synthesized from orders: keys
    %10==0 get a U (price doubled — exact in FP, no rounding-boundary
    ambiguity) at seq 2, keys %20==0 additionally a D at seq 3 (so
    the delete must win), keys %10==3 insert as brand-new keys
    shifted by 10^9."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.round("o_totalprice", 2).alias("price")
    )
    upd = orders.filter("o_orderkey % 10 = 0").select(
        "o_orderkey",
        (F.col("price") * 2).alias("price"),
        F.lit("U").alias("op"),
        F.lit(2).alias("seq"),
    )
    dels = orders.filter("o_orderkey % 20 = 0").select(
        "o_orderkey",
        F.lit(None).cast("double").alias("price"),
        F.lit("D").alias("op"),
        F.lit(3).alias("seq"),
    )
    ins = orders.filter("o_orderkey % 10 = 3").select(
        (F.col("o_orderkey") + 1000000000).alias("o_orderkey"),
        "price",
        F.lit("I").alias("op"),
        F.lit(1).alias("seq"),
    )
    changes = upd.unionByName(dels).unionByName(ins)
    return TO.cdc_apply(orders, changes, ["o_orderkey"], "seq")


@register(
    "tbl_partition_overwrite",
    "SELECT CAST(day(ts) AS INT) AS day, count(*) AS n_rows,"
    " round(sum(CASE WHEN day(ts) = 3 THEN value * 2"
    "  ELSE value END), 2) AS sum_value"
    " FROM events GROUP BY day(ts)",
)
def _tbl_partition_overwrite(spark, sf_dir):
    """Dynamic partition overwrite, end to end: full load of the
    day-partitioned event table, then a backfill that recomputes ONLY
    day 3 (values doubled) and overwrites just that partition — every
    other day must come back byte-identical, the property that makes
    daily re-runs idempotent (tableops.partition_overwrite)."""
    import os

    sink = os.path.join(_scratch_dir("dyn_ovr_"), "events_by_day")
    ev = _t(spark, sf_dir, "events").select(
        F.dayofmonth("ts").cast("int").alias("day"),
        "event_id",
        "value",
    )
    TO.partition_overwrite(ev, sink, ["day"])
    backfill = ev.filter(F.col("day") == 3).withColumn(
        "value", F.col("value") * 2
    )
    TO.partition_overwrite(backfill, sink, ["day"])
    out = spark.read.parquet(sink)
    return out.groupBy(F.col("day").cast("int").alias("day")).agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "tbl_incremental_append",
    "SELECT o_orderkey,"
    " CAST(floor(epoch(o_orderdate)) AS BIGINT) AS orderdate_epoch,"
    " round(o_totalprice, 2) AS price"
    " FROM orders WHERE o_orderkey % 3 <> 0"
    " UNION ALL"
    " SELECT o_orderkey,"
    " CAST(floor(epoch(o_orderdate + INTERVAL 10 YEAR)) AS BIGINT),"
    " round(o_totalprice, 2)"
    " FROM orders WHERE o_orderkey % 3 = 0",
)
def _tbl_incremental_append(spark, sf_dir):
    """High-water-mark incremental ingestion, end to end: load the
    order feed, re-run it (idempotent — the mark filters everything),
    then deliver a late batch above the mark and re-run.  The final
    table must hold exactly one copy of each feed row — the property
    that makes periodic batch pulls safe to re-run.  The mark read is
    a stats-answerable max() over the sink."""
    import os

    base = _scratch_dir("incr_append_")
    sink = os.path.join(base, "sink")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", F.round("o_totalprice", 2).alias("price")
    )
    feed1 = orders.filter("o_orderkey % 3 <> 0")
    late = orders.filter("o_orderkey % 3 = 0").withColumn(
        # strictly above feed1's max date so the mark admits it
        "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 10 YEARS")
    )
    n1 = TO.incremental_append(feed1, sink, "o_orderdate")
    n2 = TO.incremental_append(feed1, sink, "o_orderdate")  # no-op re-run
    assert n2 == 0, f"idempotent re-run appended {n2} rows"
    TO.incremental_append(feed1.unionByName(late), sink, "o_orderdate")
    return spark.read.parquet(sink).select(
        "o_orderkey",
        F.col("o_orderdate").cast("long").alias("orderdate_epoch"),
        "price",
    )


@register(
    "tbl_partition_balance",
    "WITH b AS (SELECT CAST(CAST(concat('0x',"
    "   substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)"
    "   % 32 AS INT) AS bucket, count(*) AS n_rows"
    " FROM lineitem GROUP BY bucket)"
    " SELECT bucket, n_rows,"
    " round(n_rows * 1.0 / sum(n_rows) OVER (), 6) AS share,"
    " round(max(n_rows) OVER () * 1.0 / avg(n_rows) OVER (), 4)"
    "  AS skew_factor"
    " FROM b",
)
def _tbl_partition_balance(spark, sf_dir):
    """Shuffle-balance pre-flight: bucket lineitem by portable-md5 of
    the candidate shuffle key, report per-bucket share + global skew
    factor (tableops.partition_balance)."""
    return TO.partition_balance(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", n_buckets=32
    )


@register(
    "tbl_incremental_agg",
    "SELECT o_custkey, count(*) AS n_orders,"
    " round(sum(round(o_totalprice, 2)), 2) AS total_price"
    " FROM orders GROUP BY o_custkey",
)
def _tbl_incremental_agg(spark, sf_dir):
    """Materialized-aggregate maintenance: per-customer order stats
    built from a base period, then a delta batch MERGED in without
    re-reading the base (tableops.incremental_agg_merge); the result
    is oracled against the full recompute — the equivalence that
    makes the incremental path trustworthy."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", F.round("o_totalprice", 2).alias("price")
    )
    cut = F.lit("1999-01-01").cast("timestamp")
    base = orders.filter(F.col("o_orderdate") < cut)
    delta = orders.filter(F.col("o_orderdate") >= cut)
    current = base.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.sum("price").alias("total_price"),
    )
    merged = TO.incremental_agg_merge(
        current, delta, ["o_custkey"], count_col="n_orders",
        sum_cols={"total_price": "price"},
    )
    return merged.select(
        "o_custkey", "n_orders",
        F.round("total_price", 2).alias("total_price"),
    )


@register(
    "tbl_fk_audit",
    " UNION ALL ".join(
        f"SELECT '{name}' AS relation,"
        f" (SELECT count(*) FROM {child}) AS n_rows,"
        f" (SELECT count(*) FROM {child} WHERE {fk} NOT IN"
        f"  (SELECT {pk} FROM {parent})) AS n_orphans"
        for name, child, fk, parent, pk in [
            ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
             "orders", "o_orderkey"),
            ("lineitem.l_partkey->part", "lineitem", "l_partkey",
             "part", "p_partkey"),
            ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
             "supplier", "s_suppkey"),
            ("orders.o_custkey->customer", "orders", "o_custkey",
             "customer", "c_custkey"),
            ("customer.c_nationkey->nation", "customer",
             "c_nationkey", "nation", "n_nationkey"),
            ("supplier.s_nationkey->nation", "supplier",
             "s_nationkey", "nation", "n_nationkey"),
            ("nation.n_regionkey->region", "nation", "n_regionkey",
             "region", "r_regionkey"),
        ]
    ),
)
def _tbl_fk_audit(spark, sf_dir):
    """Referential-integrity audit of the whole star schema: orphan
    counts for all seven FK relations in one report
    (tableops.fk_audit) — the trust-the-joins pre-flight."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return TO.fk_audit([
        ("lineitem.l_orderkey->orders", li, "l_orderkey", orders, "o_orderkey"),
        ("lineitem.l_partkey->part", li, "l_partkey", part, "p_partkey"),
        ("lineitem.l_suppkey->supplier", li, "l_suppkey", supplier,
         "s_suppkey"),
        ("orders.o_custkey->customer", orders, "o_custkey", customer,
         "c_custkey"),
        ("customer.c_nationkey->nation", customer, "c_nationkey", nation,
         "n_nationkey"),
        ("supplier.s_nationkey->nation", supplier, "s_nationkey", nation,
         "n_nationkey"),
        ("nation.n_regionkey->region", nation, "n_regionkey", region,
         "r_regionkey"),
    ])


@register(
    "tbl_partition_pruning",
    "SELECT o_orderpriority, count(*) AS n_orders,"
    " round(sum(o_totalprice), 2) AS total_price"
    " FROM orders WHERE year(o_orderdate) = 1997"
    " GROUP BY o_orderpriority",
)
def _tbl_partition_pruning(spark, sf_dir):
    """Partition pruning end-to-end: write orders hive-partitioned by
    order YEAR (one-time, temp), then read back with a year predicate
    — the scan must touch only the matching partition directories
    (asserted in tests/test_plans.py), which is THE dominant scan
    lever at 100 TB.  Result is oracled against a plain filter."""
    import os

    base = _scratch_dir("part_prune_")
    path = os.path.join(base, "orders_by_year")
    orders = _t(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("int")
    )
    orders.write.mode("overwrite").partitionBy("o_year").parquet(path)
    back = spark.read.parquet(path).filter(F.col("o_year") == 1997)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "tbl_checksum",
    "WITH li AS (SELECT l_orderkey, l_partkey, l_suppkey,"
    "  l_linenumber, l_linestatus,"
    "  CASE WHEN CAST(concat('0x', substr(md5("
    "   concat_ws('|', CAST(l_orderkey AS VARCHAR),"
    "    CAST(l_linenumber AS VARCHAR))), 1, 8))"
    "   AS BIGINT) % 10 <> 0 THEN l_returnflag END"
    "   AS l_returnflag"
    "  FROM lineitem)"
    " SELECT count(*) AS n_rows,"
    " CAST(sum(CAST(concat('0x', substr(md5(concat_ws('|',"
    "  coalesce(CAST(l_orderkey AS VARCHAR), chr(0)||'null'),"
    "  coalesce(CAST(l_partkey AS VARCHAR), chr(0)||'null'),"
    "  coalesce(CAST(l_suppkey AS VARCHAR), chr(0)||'null'),"
    "  coalesce(CAST(l_linenumber AS VARCHAR), chr(0)||'null'),"
    "  coalesce(l_returnflag, chr(0)||'null'),"
    "  coalesce(l_linestatus, chr(0)||'null'))), 1, 8))"
    "  AS BIGINT)) AS BIGINT) AS checksum"
    " FROM li",
)
def _tbl_checksum(spark, sf_dir):
    """Order-insensitive table checksum over lineitem's integer and
    string columns (sum of portable per-row md5 hashes + count) —
    the two-number migration/replication validation primitive.
    Doubles/timestamps are excluded from the hashed column list
    because engines disagree on their string formatting (Java
    Double.toString vs C shortest-repr); integers and strings
    stringify identically everywhere (tableops.table_checksum).

    ~10% of l_returnflag values are deterministically NULLed (md5 of
    the (orderkey, linenumber) PK, residue 0 mod 10; identical
    expression in the oracle) — the driver fixtures carry ZERO NULLs,
    so this puts table_checksum's chr(0)-'null'
    NULL sentinel under the driver's value-hash gate: a checksum that
    silently skipped NULL columns would now diverge."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "l_returnflag",
        F.when(
            D.base_hash(
                F.concat_ws(
                    "|",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                )
            )
            % 10
            != 0,
            F.col("l_returnflag"),
        ),
    )
    return TO.table_checksum(
        li,
        ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
         "l_returnflag", "l_linestatus"],
    )


@register(
    "tbl_delete_where",
    "SELECT l_linestatus, count(*) AS rows_scanned,"
    " CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)"
    "  AS BIGINT) AS rows_deleted,"
    " CAST(sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)"
    "  AS BIGINT) AS rows_kept"
    " FROM lineitem GROUP BY 1",
)
def _tbl_delete_where(spark, sf_dir):
    """DELETE WHERE as a pure transformation with a per-linestatus
    audit (rows scanned / deleted / kept) — the gate record a
    write-audit-publish wants before swapping the live table
    (tableops.delete_where)."""
    _, audit = TO.delete_where(
        _t(spark, sf_dir, "lineitem"),
        F.col("l_returnflag") == "R",
        audit_keys=["l_linestatus"],
    )
    return audit


@register(
    "tbl_wap_publish",
    "SELECT 'row_floor' AS check_name, 1 AS passed"
    " UNION ALL SELECT 'not_null_event_id', 1"
    " UNION ALL SELECT 'published_rows',"
    "  CAST(count(*) AS INT) FROM events WHERE value > 0",
)
def _tbl_wap_publish(spark, sf_dir):
    """Write-audit-publish: stage positive-value events as parquet,
    audit (row floor + NOT NULL) against the unpublished files, atomically
    rename to the publish path, report the checks from the PUBLISHED
    copy (tableops.write_audit_publish)."""
    base = _scratch_dir("wap_")
    df = _t(spark, sf_dir, "events").filter(F.col("value") > 0)
    return TO.write_audit_publish(
        df, base, not_null_cols=["event_id"], min_rows=1
    )


def _drift_block(table: str, cols: list[str]) -> str:
    return " UNION ALL ".join(
        f"SELECT '{c}' AS col,"
        f" round(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"
        f" / CAST(count(*) AS DOUBLE), 6) AS nr,"
        f" CAST(count(DISTINCT {c}) AS BIGINT) AS nd FROM {table}"
        for c in cols
    )


_SCHEMA_DRIFT_SQL = f"""
WITH o AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
n AS (SELECT c_custkey,
             CASE WHEN c_custkey % 4 = 0 THEN NULL ELSE c_name END
               AS c_name,
             c_mktsegment
      FROM customer WHERE c_custkey % 2 = 0),
po AS ({_drift_block("o", ["c_custkey", "c_name", "c_acctbal"])}),
pn AS ({_drift_block("n", ["c_custkey", "c_name", "c_mktsegment"])})
SELECT coalesce(po.col, pn.col) AS "column",
       po.nr IS NOT NULL AS in_old,
       pn.nr IS NOT NULL AS in_new,
       po.nr AS null_rate_old, pn.nr AS null_rate_new,
       round(pn.nr - po.nr, 6) AS null_rate_drift,
       po.nd AS n_distinct_old, pn.nd AS n_distinct_new
FROM po FULL OUTER JOIN pn ON po.col = pn.col
"""


@register("schema_drift_audit", _SCHEMA_DRIFT_SQL)
def _schema_drift_audit(spark, sf_dir):
    """Column-level drift audit between two synthesized customer
    snapshots (tableops.schema_drift_audit): old carries c_acctbal,
    new drops it, adds c_mktsegment, halves the rows, and nulls
    c_name on every 4th key — added/dropped columns and the null-rate
    jump are the silent-producer-breakage signals this surfaces."""
    cust = _t(spark, sf_dir, "customer")
    old = cust.select("c_custkey", "c_name", "c_acctbal")
    new = cust.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 4 == 0, F.lit(None).cast("string")
        ).otherwise(F.col("c_name")).alias("c_name"),
        "c_mktsegment",
    )
    return TO.schema_drift_audit(old, new)


_COMPACTION_SQL = """
WITH f AS (
  SELECT 'part-' || CAST(o_orderkey % 500 AS VARCHAR) AS path,
         count(*) * 1000 AS size_bytes
  FROM orders GROUP BY o_orderkey % 500
), s AS (
  SELECT path, CAST(size_bytes AS BIGINT) AS size_bytes,
         sum(size_bytes) OVER (
           ORDER BY size_bytes DESC, path
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - size_bytes AS cum_before
  FROM f
), a AS (
  SELECT path, size_bytes,
         CAST(cum_before // 128000 AS INT) AS bin
  FROM s
)
SELECT bin, count(*) AS n_files,
       CAST(sum(size_bytes) AS BIGINT) AS bin_bytes,
       round(sum(size_bytes) / CAST(128000 AS DOUBLE), 4) AS fill_ratio,
       CAST(min(size_bytes) AS BIGINT) AS min_file_bytes,
       CAST(max(size_bytes) AS BIGINT) AS max_file_bytes
FROM a GROUP BY bin
"""


@register("compaction_plan", _COMPACTION_SQL)
def _compaction_plan(spark, sf_dir):
    """Small-file compaction planner (tableops.compaction_plan) over a
    file listing synthesized from orders (path = orderkey mod 500,
    size = group row count x 1000 bytes): first-fit-decreasing bins of
    ~128 KB from one metadata-sized window."""
    files = (
        _t(spark, sf_dir, "orders")
        .groupBy((F.col("o_orderkey") % 500).alias("_g"))
        .agg(F.count("*").alias("_cnt"))
        .select(
            F.concat(F.lit("part-"), F.col("_g").cast("string"))
            .alias("path"),
            (F.col("_cnt") * 1000).alias("size_bytes"),
        )
    )
    return TO.compaction_plan(files, target_bytes=128_000)


_BLOOM_SQL = """
WITH bk AS MATERIALIZED (
  SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k FROM customer
  WHERE c_acctbal < 0 AND c_custkey IS NOT NULL
), bp AS MATERIALIZED (
  SELECT k, unnest(list_transform(range(4), j ->
    CAST('0x' || substr(md5(k || '#' || CAST(j AS VARCHAR)), 1, 8)
         AS BIGINT) % 16384)) AS pos
  FROM bk
), fb AS MATERIALIZED (SELECT DISTINCT pos FROM bp),
pk AS MATERIALIZED (
  SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k FROM orders
  WHERE o_custkey IS NOT NULL
), pp AS MATERIALIZED (
  SELECT k, unnest(list_transform(range(4), j ->
    CAST('0x' || substr(md5(k || '#' || CAST(j AS VARCHAR)), 1, 8)
         AS BIGINT) % 16384)) AS pos
  FROM pk
), hits AS MATERIALIZED (
  SELECT pp.k, sum(CASE WHEN f.setb IS NULL THEN 0 ELSE 1 END) = 4
    AS bloom_pos
  FROM pp LEFT JOIN (SELECT pos, 1 AS setb FROM fb) f USING (pos)
  GROUP BY pp.k
), truth AS MATERIALIZED (
  SELECT h.bloom_pos, b.k IS NOT NULL AS member
  FROM hits h LEFT JOIN bk b ON h.k = b.k
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_probe_keys,
         CAST(sum(CASE WHEN bloom_pos THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bloom_positive,
         CAST(sum(CASE WHEN bloom_pos AND member THEN 1 ELSE 0 END)
              AS BIGINT) AS n_true_positive,
         CAST(sum(CASE WHEN bloom_pos AND NOT member THEN 1 ELSE 0 END)
              AS BIGINT) AS n_false_positive,
         CAST(sum(CASE WHEN NOT member THEN 1 ELSE 0 END) AS BIGINT)
           AS n_neg
  FROM truth
), nb AS (SELECT CAST(count(*) AS BIGINT) AS bits_set FROM fb),
nk AS (SELECT CAST(count(*) AS BIGINT) AS n_build_keys FROM bk)
SELECT n_build_keys, n_probe_keys,
       16384 AS m_bits, 4 AS n_hashes, bits_set,
       round(bits_set / 16384.0, 6) AS fill_ratio,
       n_bloom_positive, n_true_positive, n_false_positive,
       round(CAST(n_false_positive AS DOUBLE) / n_neg, 6) AS fp_rate,
       round((bits_set / 16384.0) * (bits_set / 16384.0)
             * (bits_set / 16384.0) * (bits_set / 16384.0), 6)
         AS expected_fp_rate
FROM s, nb, nk"""


@register("tbl_bloom_probe", _BLOOM_SQL)
def _tbl_bloom_probe(spark, sf_dir):
    """Bloom-filter sizing audit (tableops.bloom_filter_audit):
    filter built over delinquent customers (c_acctbal < 0), probed
    with every ordering customer — measured vs load-factor expected
    FP rate, all integer counts."""
    cust = _t(spark, sf_dir, "customer").filter("c_acctbal < 0")
    orders = _t(spark, sf_dir, "orders")
    return TO.bloom_filter_audit(
        cust, orders, "c_custkey", "o_custkey",
        m_bits=16384, n_hashes=4,
    )


_ZONEMAP_SQL = """
WITH stats AS (
  SELECT o_orderkey % 200 AS file_id,
         min(o_totalprice) AS min_val, max(o_totalprice) AS max_val,
         count(*) AS n_rows
  FROM orders GROUP BY 1
), s AS (
  SELECT *, (max_val < 150000.0 OR min_val > 200000.0) AS skipped
  FROM stats
)
SELECT CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(CASE WHEN skipped THEN 1 ELSE 0 END) AS BIGINT)
         AS n_skipped,
       CAST(sum(n_rows) AS BIGINT) AS rows_total,
       CAST(sum(CASE WHEN skipped THEN n_rows ELSE 0 END) AS BIGINT)
         AS rows_skipped,
       round(sum(CASE WHEN skipped THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS skip_ratio,
       round(sum(CASE WHEN skipped THEN n_rows ELSE 0 END)
             / CAST(sum(n_rows) AS DOUBLE), 6) AS row_skip_ratio
FROM s"""


@register("tbl_zonemap_skip", _ZONEMAP_SQL)
def _tbl_zonemap_skip(spark, sf_dir):
    """Zone-map file-skipping audit (tableops.zonemap_skip_audit):
    synthetic manifest from orders (file = o_orderkey % 200, min/max
    o_totalprice + row count per file), predicate = totalprice in
    [150000, 200000] — how much IO the stats would save."""
    stats = (
        _t(spark, sf_dir, "orders")
        .groupBy((F.col("o_orderkey") % 200).alias("file_id"))
        .agg(
            F.min("o_totalprice").alias("min_val"),
            F.max("o_totalprice").alias("max_val"),
            F.count("*").alias("n_rows"),
        )
    )
    return TO.zonemap_skip_audit(stats, 150000.0, 200000.0)


_VACUUM_SQL = """
WITH files AS MATERIALIZED (
  SELECT 'part-' || CAST(o_orderkey % 700 AS VARCHAR)
           || '-v' || CAST(o_orderkey % 3 AS VARCHAR) AS path,
         CAST(count(*) * 500 AS BIGINT) AS size_bytes,
         max(CAST(o_orderdate AS DATE)) AS modified_day,
         o_orderkey % 3 AS v
  FROM orders GROUP BY o_orderkey % 700, o_orderkey % 3
), now_d AS (SELECT max(CAST(o_orderdate AS DATE)) AS now_day
             FROM orders),
cls AS (
  SELECT CASE WHEN f.v = 2 THEN 'live'
              WHEN date_diff('day', f.modified_day, n.now_day) >= 365
                THEN 'orphan_delete'
              ELSE 'orphan_retained' END AS status,
         f.size_bytes,
         date_diff('day', f.modified_day, n.now_day) AS age
  FROM files f, now_d n
)
SELECT status, CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
       CAST(min(age) AS BIGINT) AS min_age_days,
       CAST(max(age) AS BIGINT) AS max_age_days
FROM cls GROUP BY status"""


@register("tbl_vacuum_plan", _VACUUM_SQL)
def _tbl_vacuum_plan(spark, sf_dir):
    """Vacuum planning audit (tableops.vacuum_audit) over a versioned
    file layout synthesized from orders (700 path groups x 3
    versions; modified = the group-version's max order date; the
    current snapshot references only version 2): live /
    orphan_retained / orphan_delete reclaim report at 365-day
    retention, "now" = the table's max order date carried as a
    column."""
    orders = _t(spark, sf_dir, "orders")
    files = (
        orders.groupBy(
            (F.col("o_orderkey") % 700).alias("_g"),
            (F.col("o_orderkey") % 3).alias("_v"),
        )
        .agg(
            F.count("*").alias("_cnt"),
            F.max(F.to_date("o_orderdate")).alias("modified_day"),
        )
        .select(
            F.concat(
                F.lit("part-"), F.col("_g").cast("string"),
                F.lit("-v"), F.col("_v").cast("string"),
            ).alias("path"),
            (F.col("_cnt") * 500).alias("size_bytes"),
            "modified_day",
            "_v",
        )
    )
    now = orders.agg(F.max(F.to_date("o_orderdate")).alias("now_day"))
    listing = files.crossJoin(F.broadcast(now))
    manifest = files.filter(F.col("_v") == 2).select("path")
    return TO.vacuum_audit(listing, manifest, retention_days=365)


_OVERLAP_DEPTH_SQL = """
WITH files AS MATERIALIZED (
  SELECT o_orderkey % 300 AS g,
         CAST(min(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS mn,
         CAST(max(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS mx
  FROM orders GROUP BY 1
), pts AS (
  SELECT mn AS boundary, CAST(1 AS BIGINT) AS d,
         CAST(1 AS BIGINT) AS st, CAST(0 AS BIGINT) AS en FROM files
  UNION ALL
  SELECT mx + 1, CAST(-1 AS BIGINT), CAST(0 AS BIGINT),
         CAST(1 AS BIGINT) FROM files
), pp AS (
  SELECT boundary, CAST(sum(d) AS BIGINT) AS dd,
         CAST(sum(st) AS BIGINT) AS n_starting,
         CAST(sum(en) AS BIGINT) AS n_ending
  FROM pts GROUP BY boundary
)
SELECT boundary,
       CAST(sum(dd) OVER (ORDER BY boundary ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS depth,
       n_starting, n_ending
FROM pp"""


@register("tbl_file_overlap_depth", _OVERLAP_DEPTH_SQL)
def _tbl_file_overlap_depth(spark, sf_dir):
    """Clustering-depth sweep (tableops.file_overlap_depth) over 300
    file ranges synthesized from orders (min/max total-price cents
    per o_orderkey%300 group — heavily overlapping, i.e. an
    unclustered layout): +1/-1 boundary deltas, one cumulative
    window, exact integer depths."""
    files = (
        _t(spark, sf_dir, "orders")
        .groupBy((F.col("o_orderkey") % 300).alias("_g"))
        .agg(
            F.min(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .alias("min_key"),
            F.max(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .alias("max_key"),
        )
        .select(
            F.concat(F.lit("part-"), F.col("_g").cast("string"))
            .alias("path"),
            "min_key", "max_key",
        )
    )
    return TO.file_overlap_depth(files)
