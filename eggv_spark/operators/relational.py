"""Generic relational operators (SURVEY §2.2-2.6 generalized).

The reference hard-codes each transform inline over genomic frames;
here the same primitives are exposed as a reusable, composable
library so any table (genomic or otherwise) gets the identical
semantics.  All pure Column expressions / DataFrame ops — Catalyst
prunes, pushes down, and picks join strategies.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable, Mapping, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from eggv_spark.materialize import materialize


def project(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """PRJ-01: column projection (reference eggv/process.py:115)."""
    return df.select(*columns)


def rename(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """PRJ-02: column rename (reference eggv/process.py:118,224)."""
    return df.withColumnsRenamed(dict(mapping))


def prefix_concat(df: DataFrame, col: str, prefix: str, out: str) -> DataFrame:
    """STR-01: literal-prefix concat (reference eggv/process.py:122)."""
    return df.withColumn(out, F.concat(F.lit(prefix), F.col(col).cast("string")))


def concat_with_sep(
    df: DataFrame, cols: Sequence[str], sep: str, out: str
) -> DataFrame:
    """STR-04: multi-column concat with separator
    (reference eggv/process.py:142)."""
    return df.withColumn(out, F.concat_ws(sep, *cols))


def split_get(
    df: DataFrame, col: str, sep: str, index: int, out: str
) -> DataFrame:
    """STR-05/06: split to array + null-safe element get
    (reference eggv/process.py:163-175)."""
    return df.withColumn(out, F.get(F.split(F.col(col), sep), index))


def explode_split(
    df: DataFrame, col: str, sep: str, out: str, keep_empty: bool = True
) -> DataFrame:
    """EXP-01: split-then-explode, replicating the other columns
    (reference eggv/process.py:163).  ``keep_empty`` uses
    explode_outer so null/empty inputs keep their row (the pandas
    behavior the reference relies on)."""
    exploded = F.explode_outer if keep_empty else F.explode
    return df.withColumn(out, exploded(F.split(F.col(col), sep)))


def fill_null(df: DataFrame, values: Mapping[str, object]) -> DataFrame:
    """NUL-01: constant null fill (reference eggv/process.py:138-139)."""
    return df.na.fill(dict(values))


def drop_null_keys(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """NUL-02: drop rows with null keys (reference eggv/process.py:128)."""
    return df.na.drop(subset=list(keys))


def cast_columns(df: DataFrame, types: Mapping[str, str]) -> DataFrame:
    """CST-01: typed casts (reference eggv/process.py:131,151,227-228)."""
    return df.withColumns({c: F.col(c).cast(t) for c, t in types.items()})


def filter_eq(df: DataFrame, col: str, value: object) -> DataFrame:
    """FLT-01: equality filter — sits over the scan so Catalyst pushes
    it into parquet (reference eggv/process.py:199)."""
    return df.filter(F.col(col) == value)


def filter_isin(df: DataFrame, col: str, values: Iterable[object]) -> DataFrame:
    """FLT-02: disjunction of equalities (reference
    eggv/annotate.py:113-115)."""
    return df.filter(F.col(col).isin(list(values)))


def filter_not_in_and_notnull(
    df: DataFrame, col: str, values: Iterable[object], notnull_col: str
) -> DataFrame:
    """FLT-03: negation ∧ not-null (reference eggv/annotate.py:139)."""
    return df.filter(~F.col(col).isin(list(values)) & F.col(notnull_col).isNotNull())


def left_join(
    left: DataFrame,
    right: DataFrame,
    on: Column | str | Sequence[str],
    broadcast_right: bool = False,
) -> DataFrame:
    """JOIN-01 generalized: left outer equi-join, optional explicit
    broadcast of the small side (reference shuffles both sides,
    eggv/annotate.py:70-77 — broadcasting is strictly better when the
    right side fits on executors)."""
    right_side = F.broadcast(right) if broadcast_right else right
    return left.join(right_side, on, "left")


def dedupe(df: DataFrame, keys: Optional[Sequence[str]] = None) -> DataFrame:
    """DDP-01/03/04: global dedup, all columns or a key subset.
    Spark plans a map-side partial aggregate before the shuffle, so
    the reference's shuffle-avoiding local dedup
    (eggv/process.py:289-294) is captured automatically."""
    return df.dropDuplicates(list(keys)) if keys else df.dropDuplicates()


def dedupe_first_by_key(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[Column | str]
) -> DataFrame:
    """DDP-02, made deterministic: one row per key, FIRST under an
    explicit ordering (the reference keeps an arbitrary
    first-per-partition row, eggv/process.py:297-315 — SURVEY §7.5.4
    flags that nondeterminism; an explicit tiebreak is the
    reproducible version).

    Window row_number + filter: one shuffle on ``keys``, no join.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def union_all(dfs: Sequence[DataFrame], by_name: bool = True) -> DataFrame:
    """Set op: UNION ALL of N frames (SURVEY §2.8 — the reference
    keeps per-chromosome outputs as separate files,
    eggv/process.py:394-424; a union is the natural single-table
    view).  ``by_name`` aligns columns by name (order-insensitive),
    the safe default when frames come from different writers.

    Scale: union is a no-shuffle plan combinator — partitions of the
    inputs are concatenated, never moved.
    """
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df) if by_name else out.union(df)
    return out


def distinct_union(dfs: Sequence[DataFrame]) -> DataFrame:
    """UNION (set semantics): union-all then global dedup — one
    shuffle with map-side partial aggregation."""
    return union_all(dfs).dropDuplicates()


def intersect_rows(a: DataFrame, b: DataFrame, keep_all: bool = False) -> DataFrame:
    """Set op INTERSECT [ALL] — hash-shuffled on all columns; at
    scale prefer a semi-join on explicit keys when only keys matter."""
    return a.intersectAll(b) if keep_all else a.intersect(b)


def except_rows(a: DataFrame, b: DataFrame, keep_all: bool = False) -> DataFrame:
    """Set op EXCEPT [ALL]."""
    return a.exceptAll(b) if keep_all else a.subtract(b)


def semi_join(left: DataFrame, right: DataFrame, on: Column | str | Sequence[str],
              broadcast_right: bool = True) -> DataFrame:
    """LEFT SEMI join — existence filter that never duplicates left
    rows and never materializes right columns (the scale-safe
    replacement for `WHERE key IN (subquery)`)."""
    right_side = F.broadcast(right) if broadcast_right else right
    return left.join(right_side, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: Column | str | Sequence[str],
              broadcast_right: bool = True) -> DataFrame:
    """LEFT ANTI join — `WHERE NOT EXISTS` as a join."""
    right_side = F.broadcast(right) if broadcast_right else right
    return left.join(right_side, on, "left_anti")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the (skewed) left side's key
    into ``n_salts`` sub-keys and replicate the right side once per
    salt, so a hot key's rows spread across ``n_salts`` tasks instead
    of serializing into one.

    Use when a shuffled join MUST run (right side too big to
    broadcast) and the key distribution is pathological.  AQE's skew
    handling (``spark.sql.adaptive.skewJoin``) splits oversized
    sort-merge partitions automatically — prefer that first; explicit
    salting is the deterministic fallback and also composes with
    window/aggregate consumers of the join output.

    Cost: right side is replicated ×``n_salts`` through the shuffle —
    keep ``n_salts`` ≈ (hot-key rows / target task rows), not huge.
    """
    salted_left = left.withColumn(
        "_salt", (F.rand(seed=7) * n_salts).cast("int")
    )
    salted_right = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = salted_left.join(salted_right, [key, "_salt"], how)
    return out.drop("_salt")


def sort_limit(
    df: DataFrame, order_by: Sequence[Column | str], k: int
) -> DataFrame:
    """Global ordered limit (top-k).  Spark plans
    TakeOrderedAndProject: each partition keeps its local top-k, the
    driver merges k·p rows — no global sort shuffle, safe at any
    scale for small k.  ``order_by`` must include a unique tiebreak
    for deterministic results."""
    return df.orderBy(*order_by).limit(k)


def top_k_per_group(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[Column | str], k: int
) -> DataFrame:
    """Top-k rows per group via rank window — the scale-safe pattern
    (single shuffle; no driver collect)."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .withColumnRenamed("_rn", "rank")
    )


def full_outer_join(
    left: DataFrame, right: DataFrame, on: Column, coalesce_keys: dict[str, tuple[str, str]] | None = None
) -> DataFrame:
    """FULL OUTER join — both unmatched sides survive with nulls.
    ``coalesce_keys`` maps output name -> (left col, right col) to
    produce one non-null key column per pair (the standard full-outer
    idiom).  Shuffle-hash/sort-merge both sides: broadcast cannot
    implement full-outer (extension; reference joins are left-only,
    ``eggv/annotate.py:62-76``)."""
    out = left.join(right, on, "full_outer")
    for name, (lc, rc) in (coalesce_keys or {}).items():
        out = out.withColumn(name, F.coalesce(left[lc], right[rc]))
    return out


def cross_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Explicit Cartesian product.  Only sane when one side is tiny —
    Spark plans BroadcastNestedLoopJoin when a side fits the
    broadcast threshold, which is the only formulation that survives
    scale (a shuffled cartesian of two big tables never finishes)."""
    return left.crossJoin(right)


def systematic_sample(
    df: DataFrame, key: str, modulus: int, keep: int
) -> DataFrame:
    """Deterministic systematic sample: keep rows where
    ``key % modulus < keep`` (≈ keep/modulus of the data).  Unlike
    ``df.sample()`` this is reproducible across engines, runs, AND
    partitionings — the property that matters for train/eval splits
    — and it's a pushable scan predicate, not a separate operator."""
    return df.filter(F.pmod(F.col(key), F.lit(modulus)) < keep)


def stratified_sample_hash(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    pct_by_stratum: "dict[str, int]",
    default_pct: int = 0,
) -> DataFrame:
    """Deterministic stratified sampling: keep a row when
    ``md5-hash(key) % 100`` falls under its stratum's percentage.
    Unlike ``df.sampleBy`` this is reproducible across engines, runs,
    and partitionings (train/eval split property), and it stays a
    pushable scan predicate — no shuffle, no RNG state.  The hash is
    the engine-portable md5 formula (dedupe.base_hash), NOT Spark's
    ``hash()`` (not reproducible in other engines).
    """
    from eggv_spark.operators.dedupe import base_hash

    rate = F.lit(default_pct)
    for stratum, pct in sorted(pct_by_stratum.items()):
        rate = F.when(F.col(stratum_col) == stratum, F.lit(pct)).otherwise(rate)
    bucket = F.pmod(base_hash(F.col(key_col).cast("string")), F.lit(100))
    return df.filter(bucket < rate)


def cap_per_group(
    df: DataFrame, group_col: str, key_col: str, cap: int
) -> DataFrame:
    """Domain balancing: keep at most ``cap`` rows per group, chosen
    by deterministic hash rank over the key (engine-portable md5, see
    dedupe.base_hash) rather than arrival order — the standard
    per-source cap of web-scale training mixtures (no single domain
    may dominate), reproducible across runs and partitionings.

    One shuffle (window partitioned on the group); the rank predicate
    drops excess rows in the same stage they rank in, so downstream
    stages only ever see ≤ cap rows per group.  A pathologically hot
    group is the only skew risk — AQE's skew-join/partition splitting
    handles the shuffle side, and the per-row state is one counter.
    """
    from eggv_spark.operators.dedupe import base_hash

    w = Window.partitionBy(group_col).orderBy(
        base_hash(F.col(key_col).cast("string")), key_col
    )
    return (
        df.withColumn("_cap_rank", F.row_number().over(w))
        .filter(F.col("_cap_rank") <= cap)
        .drop("_cap_rank")
    )


def apply_sample_weights(
    df: DataFrame,
    weights: DataFrame,
    domain_col: str = "source",
    weight_col: str = "sample_weight",
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize a weighted mixture: each row appears
    ``floor(w)`` times plus one more when its deterministic
    per-row coin (md5-hash fraction of the id) lands below
    ``frac(w)`` — so ``w = 2.5`` means 2 or 3 copies (expected 2.5),
    ``w = 0.3`` means 0 or 1 copies (expected 0.3).  This is the
    APPLY step for :func:`~eggv_spark.operators.text_analysis.
    temperature_weights`-style mixture designs: upsampling needs
    replication, which a plain filter cannot express.

    Deterministic and engine-portable (same md5 coin as the other
    samplers — reproducible across runs, engines, partitionings);
    replication is a per-row ``sequence`` explode, so no shuffle
    beyond the broadcast weight join; expected output size is
    ``Σ w_d · n_d``, known from the design table before running.
    """
    from eggv_spark.operators.dedupe import base_hash

    w = F.col(weight_col)
    coin = base_hash(F.col(id_col).cast("string")) / F.lit(4294967296.0)
    n_copies = (
        F.floor(w).cast("long")
        + F.when(coin < w - F.floor(w), 1).otherwise(0)
    )
    copies = F.when(
        n_copies >= 1, F.sequence(F.lit(1), n_copies.cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    return (
        df.join(F.broadcast(weights.select(domain_col, weight_col)), domain_col)
        .withColumn("copy_idx", F.explode(copies))
        .drop(weight_col)
    )


def domain_mix_sample(
    df: DataFrame, group_col: str, key_col: str
) -> DataFrame:
    """Equal-share domain rebalancing: cap every domain at
    ``ceil(total / n_domains)`` rows — the data-derived twin of
    ``cap_per_group`` (whose cap is a constant).  Used to flatten a
    skewed source mixture toward uniform before token-budget
    sampling; rows within a domain are chosen by deterministic
    engine-portable md5 rank (reproducible across runs, engines, and
    partitionings — the train/eval-split property).

    Scale shape: the (total, n_domains) scalar is ONE aggregated row
    cross-broadcast into the plan (BroadcastNestedLoopJoin over a
    1-row side — the standard in-plan-scalar pattern, no driver
    round-trip, no collect); the per-domain rank is one shuffle
    partitioned on the domain.  A pathologically hot domain is the
    only skew risk — it's also exactly the domain the cap truncates.
    """
    from eggv_spark.operators.dedupe import base_hash

    scalar = df.agg(
        F.ceil(
            F.count("*") / F.count_distinct(F.col(group_col))
        ).cast("long").alias("_cap")
    )
    w = Window.partitionBy(group_col).orderBy(
        base_hash(F.col(key_col).cast("string")), key_col
    )
    return (
        df.crossJoin(F.broadcast(scalar))
        .withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= F.col("_cap"))
        .drop("_rank", "_cap")
    )


def token_budget_sample(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    quality_col: str,
    n_tokens_col: str,
    budget: int,
) -> DataFrame:
    """Token-budget mixture sampling: per domain, take documents in
    descending quality order until the CUMULATIVE token count reaches
    ``budget`` — how a pretraining mixture fills each source's token
    allocation with its best documents (greedy prefix of the quality
    ranking; a doc is kept iff the running total through it fits).

    Deterministic: quality ties break on the id, so the selected set
    is reproducible across runs, engines, and partitionings (the
    train/eval-split property).  ``cum_tokens`` stays in the output —
    downstream loaders use it for within-budget shard offsets.

    One shuffle (window partitioned on the domain); the running sum
    carries one long of state per row, and the budget predicate drops
    excess rows in the ranking stage itself, so no second pass ever
    sees the over-budget tail.
    """
    w = (
        Window.partitionBy(domain_col)
        .orderBy(F.desc(quality_col), id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        "cum_tokens", F.sum(n_tokens_col).over(w)
    ).filter(F.col("cum_tokens") <= budget)


def union_evolve(dfs: "Sequence[DataFrame]") -> DataFrame:
    """Schema-evolution-tolerant union: concatenate frames whose
    schemas drifted across feed generations — columns are matched BY
    NAME and columns missing from a generation null-fill, exactly how
    a long-lived ingestion pipeline absorbs added fields.  (A
    positional ``UNION ALL`` silently mis-aligns after any schema
    change; this is the safe default for multi-generation raw zones.)

    Pure plan combinator: no shuffle — the union is a metadata merge
    and each input keeps its own partitioning until a downstream op
    asks otherwise."""
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def train_eval_split(
    df: DataFrame,
    key_col: str,
    pcts: "tuple[int, int, int]" = (90, 5, 5),
) -> DataFrame:
    """Deterministic train/val/test assignment: every row gets a
    ``split`` label from the md5 bucket of its key — disjoint,
    exhaustive, and reproducible across runs, engines, AND
    partitionings (the property RNG-based splits lack: a re-run or a
    repartition must never move an example across the leakage
    boundary).  Keys equal ⇒ splits equal, so grouped leakage
    control (all rows of one document/user land together) falls out
    of choosing the key.

    Shuffle-free: one hash + two comparisons per row, whole-stage
    codegen; the label is a plain column, so split-filtered reads
    stay pushable scan predicates.
    """
    if sum(pcts) != 100:
        raise ValueError(f"pcts must sum to 100: {pcts}")
    from eggv_spark.operators.dedupe import base_hash

    bucket = F.pmod(base_hash(F.col(key_col).cast("string")), F.lit(100))
    split = (
        F.when(bucket < pcts[0], "train")
        .when(bucket < pcts[0] + pcts[1], "val")
        .otherwise("test")
    )
    return df.withColumn("split", split)


def negative_sample_keys(
    interactions: DataFrame,
    items: DataFrame,
    entity_col: str,
    item_col: str,
    n_candidates: int = 8,
    k: int = 4,
) -> DataFrame:
    """Deterministic negative sampling for pairwise/contrastive
    training: for every entity, ``k`` item keys the entity has NOT
    interacted with, drawn pseudo-randomly (portable md5 of
    ``entity#i``) from the item-key space.

    Plan: the entity list explodes ``n_candidates`` hash candidates
    (shuffle-free), the in-plan ``max(item)`` scalar rides a 1-row
    broadcast as the draw modulus, invalid draws are dropped by a
    semi-join against the item dim and positives by an anti-join
    against the (entity, item) interaction set — both key-hashed
    joins, never a cross product against the item space.  A final
    per-entity window keeps the first ``k`` surviving candidates by
    draw index, so results are reproducible across runs, engines, and
    partitionings.  Oversample (``n_candidates`` > ``k``) to cover
    candidates lost to collisions with positives."""
    from eggv_spark.operators.dedupe import base_hash

    mx = items.agg(F.max(item_col).alias("_max_item"))
    cands = (
        interactions.select(entity_col).distinct()
        .crossJoin(F.broadcast(mx))
        .select(
            entity_col,
            F.explode(
                F.array(*[F.lit(i) for i in range(n_candidates)])
            ).alias("cand_idx"),
            "_max_item",
        )
        .select(
            entity_col,
            "cand_idx",
            (
                base_hash(
                    F.concat(F.col(entity_col).cast("string"),
                             F.lit("#"), F.col("cand_idx").cast("string"))
                ) % F.col("_max_item") + 1
            ).alias(item_col),
        )
    )
    valid = cands.join(items.select(item_col), item_col, "left_semi")
    seen = interactions.select(entity_col, item_col).distinct()
    negs = valid.join(seen, [entity_col, item_col], "left_anti")
    w = Window.partitionBy(entity_col).orderBy("cand_idx")
    return (
        negs.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(entity_col, item_col, "cand_idx")
    )


def weighted_sample_group(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    order_cols: Sequence[str],
    k: int = 50,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per group, via the
    Efraimidis–Spirakis exponential-rank method: each row draws a
    deterministic uniform u ∈ (0,1) (portable md5 of its identity) and
    keeps key = ln(u)/w; the k LARGEST keys per group are exactly a
    weight-proportional without-replacement sample.

    One window shuffle on the group key — no global sort, no
    rejection loop, no driver round trips; the identical draw is
    reproducible in ANSI SQL, across runs, and across partitionings
    (``order_cols`` must identify the row so the tiebreak is total)."""
    from eggv_spark.operators.dedupe import base_hash

    ident = F.concat_ws("#", *[F.col(c).cast("string") for c in order_cols])
    # (h+1)/(2^32+1) ∈ (0,1): never 0 (ln) and never 1 exactly
    u = (base_hash(ident) + 1) / F.lit(float(2**32 + 1))
    key = F.log(u) / F.col(weight_col).cast("double")
    w = Window.partitionBy(group_col).orderBy(
        F.col("_es_key").desc(), *[F.col(c) for c in order_cols]
    )
    return (
        df.withColumn("_es_key", key)
        .withColumn("_es_rank", F.row_number().over(w))
        .filter(F.col("_es_rank") <= k)
        .drop("_es_key", "_es_rank")
    )


def pareto_frontier_2d(
    df: DataFrame,
    minimize: str,
    maximize: str,
    keep_cols: Sequence[str],
) -> DataFrame:
    """2-D Pareto (skyline) frontier: rows not strictly dominated on
    (minimize ``minimize``, maximize ``maximize``).

    Two steps, no O(n²) self-join: (1) collapse to one row per
    ``minimize`` level keeping the level's max ``maximize`` (map-side
    combinable agg — equal-cost dominated rows die here); (2) order
    levels by cost and keep a level iff its value strictly exceeds the
    running max of all CHEAPER levels (cheaper-and-at-least-as-good
    dominates).  The only global window runs over the distinct-cost
    table, which is levels-sized, not rows-sized."""
    levels = df.groupBy(minimize).agg(
        F.max(maximize).alias("_best"),
        F.min_by(F.struct(*keep_cols), F.struct(
            (-F.col(maximize)).alias("a"),
            *[F.col(c) for c in keep_cols],
        )).alias("_keep"),
    )
    w = (
        Window.orderBy(F.col(minimize).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = (
        levels.withColumn("_cm", F.max("_best").over(w))
        .filter(F.col("_cm").isNull() | (F.col("_best") > F.col("_cm")))
    )
    return frontier.select(
        *[F.col("_keep")[c].alias(c) for c in keep_cols],
        F.col(minimize),
        F.col("_best").alias(maximize),
    )


def qgram_fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_text: str,
    right_text: str,
    max_distance: int = 3,
    max_len_diff: int = 2,
) -> DataFrame:
    """Scalable fuzzy string join (PPJoin-style blocking): candidate
    pairs must share at least one whitespace token AND have close
    lengths, and only candidates pay the Levenshtein verify.

    The blocking join keys on tokens — work is Σ_token |L_t|·|R_t|,
    bounded by token frequency, never |L|·|R|; the length filter rides
    the join condition so hopeless pairs don't reach the (relatively
    expensive) edit-distance kernel.  This is the all-pairs-safe form
    of the broadcast `levenshtein` lookup (`join_fuzzy_name`), usable
    when BOTH sides are large."""
    lt = left.select(
        F.col(left_key).alias("left_key"), F.col(left_text).alias("left_text")
    ).withColumn(
        "_tok", F.explode(F.split(F.lower(F.col("left_text")), r"\s+"))
    )
    rt = right.select(
        F.col(right_key).alias("right_key"),
        F.col(right_text).alias("right_text"),
    ).withColumn(
        "_tok", F.explode(F.split(F.lower(F.col("right_text")), r"\s+"))
    )
    cands = (
        lt.join(
            rt,
            (lt["_tok"] == rt["_tok"])
            & (
                F.abs(F.length(lt["left_text"]) - F.length(rt["right_text"]))
                <= max_len_diff
            )
            & (lt["left_key"] < rt["right_key"]),
        )
        .select("left_key", "right_key", "left_text", "right_text")
        .distinct()
    )
    return (
        cands.withColumn(
            "distance", F.levenshtein(F.col("left_text"), F.col("right_text"))
        )
        .filter(F.col("distance") <= max_distance)
    )


def copurchase_pairs(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    top_n: int = 100,
) -> DataFrame:
    """Market-basket pair counts: for every unordered item pair that
    appears in the same basket, its co-occurrence support, global
    top-N.  The pair expansion self-joins WITHIN the basket key — work
    is Σ_basket |b|², bounded by basket size, never corpus²; support
    counts combine map-side and the top-N is TakeOrdered, not a
    global sort."""
    items = baskets.select(
        F.col(basket_col).alias("_b"), F.col(item_col).alias("item_a")
    ).distinct()
    other = items.select(F.col("_b"), F.col("item_a").alias("item_b"))
    pairs = (
        items.join(other, "_b")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("support"))
    )
    return sort_limit(
        pairs,
        [F.col("support").desc(), F.col("item_a").asc(), F.col("item_b").asc()],
        top_n,
    )


def balanced_downsample(
    df: DataFrame, label_col: str, key_col: str
) -> DataFrame:
    """Class-balance a training table by downsampling every class to
    the global minority-class size — deterministic (portable md5 rank
    over ``key_col``, then the key itself as tiebreak), so the same
    balanced set comes back across runs, partitionings, and engines.

    Plan: one map-side-combined count to find the minority size
    (1-row broadcast), one window shuffle on ``label_col`` to rank
    within each class, then a rank filter.  Scale: the window
    partitions by class — a class bigger than one executor's sort
    space wants the two-phase bucketed-rank decomposition; the common
    case (dozens-to-thousands of classes) spreads evenly."""
    from .dedupe import base_hash

    min_n = (
        df.groupBy(label_col).agg(F.count("*").alias("_n"))
        .agg(F.min("_n").alias("_min_n"))
    )
    w = Window.partitionBy(label_col).orderBy(
        base_hash(F.col(key_col).cast("string")).asc(),
        F.col(key_col).asc(),
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .join(F.broadcast(min_n))
        .filter(F.col("_rk") <= F.col("_min_n"))
        .drop("_rk", "_min_n")
    )


def kfold_assign(
    df: DataFrame, key_col: str, k: int = 5
) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: fold =
    portable-md5(key) mod k.  Reproducible across runs, engines, AND
    partitionings (the property ``randomSplit`` lacks), and the fold
    id is a pushable scan predicate — training fold i reads
    ``fold != i`` straight off the scan, no materialized split
    tables.  Adds a ``fold`` int column."""
    from .dedupe import base_hash

    return df.withColumn(
        "fold",
        F.pmod(base_hash(F.col(key_col).cast("string")), F.lit(k))
        .cast("int"),
    )


def neyman_stratified_sample(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    key_col: str,
    total_n: int,
) -> DataFrame:
    """Neyman-allocation stratified sample: the sample budget is
    split across strata proportional to N_h * s_h (stratum size ×
    within-stratum std-dev) — the allocation that minimizes the
    variance of the estimated mean for a fixed total_n.  Proportional
    allocation (``stratified_sample_hash``) oversamples big
    homogeneous strata and starves small noisy ones; Neyman fixes
    exactly that, which is why survey samplers and eval-set builders
    use it.

    Fully deterministic: the per-stratum quota is
    ``least(N_h, round(total_n * N_h*s_h / Σ N_h*s_h))`` (singleton
    strata contribute s_h = 0 and receive no allocation), and row
    selection is a rank over the engine-portable md5 of the key
    within each stratum — reproducible across engines, runs, and
    partitionings.  Two shuffles: the stratum-stats aggregation and
    the per-stratum rank window; stats broadcast back to the facts.

    Returns the sampled rows (stratum, key, value) plus the stratum's
    quota, so callers can audit the realized allocation.
    """
    from eggv_spark.operators.dedupe import base_hash

    rows = df.filter(
        F.col(value_col).isNotNull() & F.col(key_col).isNotNull()
    ).select(
        F.col(stratum_col).alias("_s"),
        F.col(key_col).alias("_key"),
        F.col(value_col).alias("_val"),
    )
    stats = rows.groupBy("_s").agg(
        F.count("*").alias("_nh"),
        F.coalesce(F.stddev_samp("_val"), F.lit(0.0)).alias("_sh"),
    )
    tot = stats.agg(
        F.sum(F.col("_nh") * F.col("_sh")).alias("_tot")
    )
    # try_divide + coalesce-to-0: when EVERY stratum is constant
    # (sum N_h*s_h == 0) the allocation is empty, not a
    # DIVIDE_BY_ZERO abort (ANSI mode) — and never least(nh, NULL),
    # which would skip the NULL and return the whole table
    quotas = stats.crossJoin(F.broadcast(tot)).select(
        "_s",
        "_nh",
        F.least(
            F.col("_nh"),
            F.coalesce(
                F.round(
                    F.try_divide(
                        F.lit(total_n) * F.col("_nh") * F.col("_sh"),
                        F.col("_tot"),
                    )
                ).cast("long"),
                F.lit(0),
            ),
        ).alias("_quota"),
    )
    w = Window.partitionBy("_s").orderBy(
        base_hash(F.col("_key").cast("string")).asc(), F.col("_key").asc()
    )
    ranked = rows.withColumn("_rk", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(quotas), "_s")
        .filter(F.col("_rk") <= F.col("_quota"))
        .select(
            F.col("_s").alias(stratum_col),
            F.col("_key").alias(key_col),
            F.col("_val").alias(value_col),
            F.col("_quota").alias("stratum_quota"),
        )
    )


def min_per_group_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    min_keep: int,
    frac_pct: int,
) -> DataFrame:
    """Coverage-floor sampling: keep a deterministic ~frac_pct% of
    each group but NEVER fewer than ``min_keep`` rows (if the group
    has them) — the long-tail guarantee a training mixture needs so
    rare domains/languages don't vanish under proportional
    sampling.  Rows rank by the portable md5 hash of the key (so
    membership is stable across runs and engines); a row survives if
    its rank is within the floor OR its hash bucket falls under the
    percentage.  One window shuffle on the group key."""
    from eggv_spark.operators.dedupe import base_hash

    h = base_hash(F.col(key_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(h, key_col)
    ranked = df.withColumn("_h", h).withColumn(
        "_rk", F.row_number().over(w)
    )
    keep = (F.col("_rk") <= min_keep) | (
        F.pmod(F.col("_h"), F.lit(100)) < frac_pct
    )
    return ranked.filter(keep).drop("_h", "_rk")


def horvitz_thompson_totals(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    size_col: str,
    key_col: str,
    size_threshold: float,
    base_pct: int = 10,
) -> DataFrame:
    """Unequal-probability sampling with the Horvitz–Thompson
    estimator: big units (size above the FIXED ``size_threshold``)
    get a 3x inclusion probability — classic size-stratified PPS
    approximation with a constant split point (a data-derived median
    would ride a percentile-interpolation boundary between engines),
    the estimator re-weights each sampled unit by 1/p_i, and the
    output reports estimated vs TRUE totals so the calibration is
    visible.  The draw is the portable md5 coin (deterministic
    across engines/runs); truth and estimate come from the same
    single aggregation pass."""
    from eggv_spark.operators.dedupe import base_hash

    keys = list(keys)
    rows = df.select(
        *keys,
        F.col(value_col).alias("_x"),
        F.when(
            F.col(size_col) > F.lit(size_threshold), F.lit(3 * base_pct)
        ).otherwise(F.lit(base_pct)).alias("_pct"),
        F.pmod(
            base_hash(F.col(key_col).cast("string")), F.lit(100)
        ).alias("_u"),
    )
    sampled = F.col("_u") < F.col("_pct")
    p = F.col("_pct") / 100.0
    return rows.groupBy(*keys).agg(
        F.count("*").alias("n_total"),
        F.sum(sampled.cast("int")).alias("n_sampled"),
        F.round(F.sum("_x"), 2).alias("true_total"),
        F.round(
            F.sum(F.when(sampled, F.col("_x") / p).otherwise(F.lit(0.0))), 2
        ).alias("ht_total"),
        F.round(
            F.sum(F.when(sampled, 1.0 / p).otherwise(F.lit(0.0))), 2
        ).alias("ht_count"),
    )


def epoch_shuffle(
    df: DataFrame,
    key_cols: Sequence[str],
    epoch: int,
    n_shards: int,
) -> DataFrame:
    """Deterministic training-epoch shuffle: every row gets a
    reproducible pseudo-random draw md5(epoch || key), a balanced
    shard id, and its position within the shard — the global
    permutation a data loader needs, WITHOUT a global sort.  Changing
    ``epoch`` yields an independent permutation of the same rows;
    re-running the same epoch is bit-identical on any cluster shape
    (portable md5, no RNG state, no partition dependence).

    Shard = draw mod n_shards (hash-balanced, so shards are
    within-noise equal), position = row_number per shard ordered by
    (draw, keys) — ONE hash-partitioned window whose partition count
    is ``n_shards``; readers consume shards independently, so the
    100 TB epoch never materializes a total order.  Staged for the
    round-7 registry window."""
    keys = [F.col(k) for k in key_cols]
    draw = F.md5(
        F.concat_ws("|", F.lit(str(epoch)), *[k.cast("string") for k in keys])
    )
    staged = df.withColumn("_draw", draw).withColumn(
        "shard",
        (
            F.conv(F.substring("_draw", 1, 8), 16, 10).cast("long")
            % n_shards
        ).cast("int"),
    )
    w = Window.partitionBy("shard").orderBy("_draw", *key_cols)
    return staged.withColumn(
        "shard_pos", F.row_number().over(w)
    ).drop("_draw")


def pps_systematic_sample(
    df: DataFrame,
    key_cols: Sequence[str],
    weight_cents_col: Column | str,
    n_samples: int,
) -> DataFrame:
    """Probability-proportional-to-size SYSTEMATIC sampling
    (Madow 1949): order the population by a portable hash of the keys
    (a deterministic pre-shuffle — systematic sampling needs a fixed
    traversal order that is uncorrelated with the weights), take the
    integer cumulative weight, and select every row whose cumulative
    interval crosses a multiple of W/n — inclusion probability
    exactly n·wᵢ/W for every unit with wᵢ ≤ W/n, zero RNG state.
    The heavy-unit caveat is the classic one: a unit with wᵢ > W/n is
    always selected (possibly crossing several skip points; it still
    appears once).

    ``weight_cents_col`` must be an INTEGER column (the caller
    pre-scales currency to cents etc.): the running sum is then exact
    under any partitioning, where a float cumulative sum would make
    selection engine- and order-dependent at boundary crossings.

    Shape: one hash-ordered window for the running sum (single global
    ordering — at 100 TB shard first by a coarse stratum and sample
    within strata, which is also statistically better), then a pure
    filter.  Staged for the round-8 registry window."""
    from eggv_spark.operators.dedupe import base_hash

    w = F.col(weight_cents_col) if isinstance(weight_cents_col, str) \
        else weight_cents_col
    h = base_hash(
        F.concat_ws("|", *[F.col(k).cast("string") for k in key_cols])
    )
    ordered = df.select(
        *key_cols,
        w.cast("long").alias("_w"),
        h.alias("_h"),
    )
    win = Window.orderBy("_h", *key_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = ordered.select(
        *key_cols, "_w", F.sum("_w").over(win).alias("_cum")
    )
    tot = cum.agg(F.max("_cum").alias("_tot"))
    # crossing test in exact integer math: cum*n div W >
    # (cum-w)*n div W  <=>  some threshold T_m = m·W/n (m = 1..n)
    # lies in the unit's half-open weight interval ((cum-w), cum] —
    # each of the n thresholds lands in exactly one interval, so
    # exactly n selections (fewer only when a heavy unit spans
    # several thresholds and collapses them into one row).  `div`
    # keeps the whole test in BIGINT — a double floor() would
    # misplace boundary crossings once cum·n approaches 2^53
    j = cum.crossJoin(F.broadcast(tot))
    sel = j.filter(
        F.expr(f"_cum * {n_samples} div _tot")
        > F.expr(f"(_cum - _w) * {n_samples} div _tot")
    )
    return sel.select(
        *key_cols,
        F.col("_w").alias("weight_cents"),
        F.col("_cum").alias("cum_weight_cents"),
    )


def pps_stratified_sample(
    df: DataFrame,
    strata_cols: Sequence[str],
    key_cols: Sequence[str],
    weight_cents_col: Column | str,
    n_per_stratum: int,
) -> DataFrame:
    """Stratified PPS systematic sampling — the 100 TB headline form
    of :func:`pps_systematic_sample`: the hash-ordered cumulative
    weight runs PER STRATUM (``Window.partitionBy(strata)``), so the
    one serialization point of the global form — a single total-order
    window — becomes |strata| independent streams, and the design is
    also statistically better (allocation guaranteed per stratum,
    e.g. per source/domain in a training-mixture draw).

    Same exact-integer machinery per stratum: md5 traversal order,
    integer cumulative weights, ``div`` crossing test against the
    stratum total broadcast back on the strata-sized frame — exactly
    ``n_per_stratum`` selections per stratum (fewer only when a heavy
    unit collapses thresholds).  Staged for the round-8 registry
    window."""
    from eggv_spark.operators.dedupe import base_hash

    w = F.col(weight_cents_col) if isinstance(weight_cents_col, str) \
        else weight_cents_col
    h = base_hash(
        F.concat_ws("|", *[F.col(k).cast("string") for k in key_cols])
    )
    ordered = df.select(
        *strata_cols, *key_cols,
        w.cast("long").alias("_w"),
        h.alias("_h"),
    )
    win = Window.partitionBy(*strata_cols).orderBy("_h", *key_cols) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = ordered.select(
        *strata_cols, *key_cols, "_w",
        F.sum("_w").over(win).alias("_cum"),
    )
    tot = cum.groupBy(*strata_cols).agg(F.max("_cum").alias("_tot"))
    # NULL-SAFE key equality on the totals join: a NULL-valued stratum
    # is a real stratum to both the window partitionBy and the groupBy
    # above, so a plain equi-join here would silently drop its rows
    # from the sample (the round-7 exact-twin pitfall, see
    # approx_aggregates_graded)
    join_cond = reduce(
        lambda a, b: a & b,
        [
            F.col(f"c.{k}").eqNullSafe(F.col(f"t.{k}"))
            for k in strata_cols
        ],
    )
    j = cum.alias("c").join(tot.alias("t"), join_cond)
    sel = j.filter(
        F.expr(f"_cum * {n_per_stratum} div _tot")
        > F.expr(f"(_cum - _w) * {n_per_stratum} div _tot")
    )
    return sel.select(
        *[F.col(f"c.{k}").alias(k) for k in strata_cols],
        *key_cols,
        F.col("_w").alias("weight_cents"),
        F.col("_cum").alias("cum_weight_cents"),
    )


def group_kfold_assign(
    df: DataFrame,
    group_col: str,
    k: int = 5,
    keys: list | tuple = (),
) -> DataFrame:
    """Group-aware k-fold assignment summary — the leakage-safe CV
    split: row-level k-fold (``kfold_assign``) puts rows of the SAME
    user/document/session in different folds, so a model sees its
    own eval groups during training and the offline metric lies.
    Group k-fold assigns every row of a group to ONE fold — the
    md5 hash of the group key (deterministic, partition-invariant,
    and stable under re-runs: adding rows to a group never moves
    it).

    NULL groups raise in-plan (a NULL would silently hash to one
    fold and concentrate every orphan row there — the caller decides
    whether NULL is a real group).

    Output: one row per fold — n_groups, n_rows, row_frac (6dp) and
    group_frac (6dp), the balance numbers a split review checks
    (group k-fold trades perfect balance for leakage safety; skewed
    group sizes show up here).  One map-side-combined aggregation
    over (fold, group) then fold; the row-grain frame never joins."""
    from eggv_spark.operators.dedupe import base_hash

    gc = F.col(group_col)
    fold = F.when(
        gc.isNotNull(),
        base_hash(gc.cast("string")) % k,
    ).otherwise(
        F.raise_error(
            F.lit("group_kfold_assign: NULL group key")
        )
    )
    per_group = (
        df.select(fold.alias("_fold"), gc.alias("_g"))
        .groupBy("_fold", "_g")
        .agg(F.count("*").alias("_rows"))
    )
    per_fold = per_group.groupBy("_fold").agg(
        F.count("*").alias("n_groups"),
        F.sum("_rows").alias("n_rows"),
    )
    totals = per_fold.agg(
        F.sum("n_groups").alias("_tg"), F.sum("n_rows").alias("_tr")
    )
    return (
        per_fold.crossJoin(F.broadcast(totals))
        .select(
            F.col("_fold").cast("int").alias("fold"),
            "n_groups", "n_rows",
            F.round(F.col("n_rows") / F.col("_tr"), 6).alias("row_frac"),
            F.round(F.col("n_groups") / F.col("_tg"), 6)
            .alias("group_frac"),
        )
    )


def raking_weights(
    df: DataFrame,
    dim1_col: str,
    dim2_col: str,
    target1: dict,
    target2: dict,
    iterations: int = 3,
) -> DataFrame:
    """Iterative proportional fitting (raking / IPF) — calibrate
    sample weights so BOTH categorical margins match target shares
    simultaneously, the survey-statistics workhorse that a training
    -data pipeline reuses verbatim to hit a prescribed domain × 
    language (or source × topic) mixture when independent per-dim
    sampling can't (scaling one margin breaks the other; raking
    alternates until both hold).

    Works entirely at the CELL grain: every row of a (dim1, dim2)
    cell shares the same adjustment factor, so the row table
    collapses to |dim1|·|dim2| cells ONCE (map-side combined) and
    each iteration is two margin aggregates + factor joins on the
    cell frame — data is touched exactly once regardless of
    iteration count.  Per-row weight = cell_weight / cell_n.

    Determinism (the kmeans feedback discipline): margin factors
    round at 8dp before multiplying into the cell weights, so every
    iteration's input is engine-identical; cells are
    localCheckpoint-ed per iteration (flat lineage).  Cells whose
    dim value is missing from the target dict raise in-plan — a
    silently-unweighted stratum is the classic raking bug.

    Output: one row per cell — n_rows, weight_sum (6dp), the
    per-row weight (6dp), both dim values."""
    t1 = F.create_map(
        *[F.lit(x) for kv in target1.items() for x in kv]
    )
    t2 = F.create_map(
        *[F.lit(x) for kv in target2.items() for x in kv]
    )
    cells = (
        df.groupBy(
            F.col(dim1_col).alias("_d1"), F.col(dim2_col).alias("_d2")
        )
        .agg(F.count("*").alias("_n"))
        .select(
            "_d1", "_d2", "_n",
            F.col("_n").cast("double").alias("_w"),
        )
    )
    total = cells.agg(F.sum("_n").alias("_tot"))
    cells = cells.crossJoin(F.broadcast(total))

    def _tshare(m: Column, key: Column, op: str) -> Column:
        share = m[key]
        return F.when(share.isNotNull(), share).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"raking_weights: no {op} target for "),
                    key.cast("string"),
                )
            )
        )

    cells = cells.transform(materialize)
    for _ in range(iterations):
        for dim, tmap, op in (("_d1", t1, "dim1"), ("_d2", t2, "dim2")):
            margins = cells.groupBy(dim).agg(
                F.sum("_w").alias("_mw")
            )
            cells = (
                cells.join(F.broadcast(margins), dim)
                .select(
                    "_d1", "_d2", "_n", "_tot",
                    (
                        F.col("_w")
                        * F.round(
                            _tshare(tmap, F.col(dim), op)
                            * F.col("_tot") / F.col("_mw"),
                            8,
                        )
                    ).alias("_w"),
                )
                .transform(materialize)
            )
    return cells.select(
        F.col("_d1").alias(dim1_col),
        F.col("_d2").alias(dim2_col),
        F.col("_n").alias("n_rows"),
        F.round("_w", 6).alias("weight_sum"),
        F.round(F.col("_w") / F.col("_n"), 6).alias("row_weight"),
    )


def rare_category_collapse(
    df: DataFrame,
    cat_col: str,
    min_count: int = 100,
    other_label: str = "__OTHER__",
) -> DataFrame:
    """Rare-category collapse — the standard cardinality guard before
    one-hot/target/WOE encoding: every category with fewer than
    ``min_count`` rows folds into ``other_label``, and the output
    reports the POST-collapse category table (the encoder's true
    input domain) with how many source categories each output
    absorbs.  Unbounded-cardinality features (raw domains, user
    agents) otherwise explode encoder width and overfit the tail.

    Two grouped integer passes at category grain (map-side
    combined); no row-level output — at 100 TB the row rewrite is a
    cheap broadcast-join the caller applies with this table, and the
    AUDIT (did __OTHER__ swallow 2% or 60%?) is what needs eyes
    first.  A literal category equal to ``other_label`` raises
    in-plan rather than silently merging with the collapse bucket.

    Output per output-category: (category, n_rows,
    n_source_categories, is_collapsed)."""
    guarded = F.when(
        F.col(cat_col) == other_label,
        F.raise_error(
            F.lit(
                f"rare_category_collapse: input already contains"
                f" the sentinel {other_label!r}"
            )
        ),
    ).otherwise(F.col(cat_col))
    per_cat = df.select(guarded.alias("_c")).groupBy("_c").agg(
        F.count("*").alias("_n")
    )
    mapped = per_cat.select(
        F.when(F.col("_n") >= min_count, F.col("_c"))
        .otherwise(F.lit(other_label))
        .alias("category"),
        "_n",
    )
    return mapped.groupBy("category").agg(
        F.sum("_n").alias("n_rows"),
        F.count("*").alias("n_source_categories"),
        F.max(F.col("category") == other_label).alias("is_collapsed"),
    )
