"""Fixture-level oracle checks for the round-7 operators, in the
form of tests/test_round6_staged_oracles.py: registry generators from
``__spark_entry__.py`` where the registry has one, fixture SQL here
otherwise.

Non-obvious encodings proven here:

- ``pps_systematic_sample``: the hash-ordered integer cumulative sum
  and the ``div``-based crossing test are bit-identical in DuckDB
  (``CAST('0x'||substr(md5(k),1,8) AS BIGINT)`` ordering, ``//``
  integer division).
- ``compaction_plan``: the cum-before window uses the same
  (size DESC, path) total order on both engines.
"""

from __future__ import annotations

import pandas as pd

import __spark_entry__ as E


CUPED_SQL = """
WITH per_unit AS (
  SELECT unit AS u, variant AS v, sum(pre) AS x, sum(post) AS y
  FROM ev GROUP BY unit, variant
), mo AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM per_unit
), th AS (
  SELECT n, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
         sx / n AS xbar
  FROM mo
), adj AS (
  SELECT v, y, y - th.theta * (x - th.xbar) AS y_adj, th.theta AS theta
  FROM per_unit, th
)
SELECT CAST(sum(CASE WHEN v = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       CAST(sum(CASE WHEN v = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       round(any_value(theta), 6) AS theta,
       round(sum(CASE WHEN v = 'B' THEN y ELSE 0 END)
               / sum(CASE WHEN v = 'B' THEN 1 ELSE 0 END)
             - sum(CASE WHEN v = 'A' THEN y ELSE 0 END)
               / sum(CASE WHEN v = 'A' THEN 1 ELSE 0 END), 6) AS lift_raw,
       round(sum(CASE WHEN v = 'B' THEN y_adj ELSE 0 END)
               / sum(CASE WHEN v = 'B' THEN 1 ELSE 0 END)
             - sum(CASE WHEN v = 'A' THEN y_adj ELSE 0 END)
               / sum(CASE WHEN v = 'A' THEN 1 ELSE 0 END), 6)
         AS lift_adjusted,
       round(1.0 - var_samp(y_adj) / var_samp(y), 6) AS var_reduction
FROM adj
"""


def test_cuped_oracle_matches_spark(spark, con):
    from eggv_spark.operators.events import cuped_adjusted_lift

    rows = []
    for i in range(40):
        pre = float(5 + (i * 7) % 13)
        noise = float((i * 3) % 5) - 2.0
        variant = "A" if i % 2 == 0 else "B"
        post = 2.0 * pre + noise + (3.0 if variant == "B" else 0.0)
        rows.append((f"u{i}", variant, pre, post))
    df = spark.createDataFrame(rows, ["unit", "variant", "pre", "post"])
    got = tuple(
        cuped_adjusted_lift(df, "unit", "variant", "pre", "post")
        .collect()[0]
    )
    con.register(
        "ev", pd.DataFrame(rows, columns=["unit", "variant", "pre", "post"])
    )
    assert got == con.execute(CUPED_SQL).fetchall()[0]


ACTIVE_USERS_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM ev
), spine AS (
  -- full calendar spine: a report day needs only TRAILING-window
  -- activity to exist (round-8 semantics; dau/wau coalesce to 0)
  SELECT unnest(generate_series(
    (SELECT min(d) FROM ud), (SELECT max(d) FROM ud),
    INTERVAL 1 DAY)) AS day
),
j AS (
  SELECT ud.u, ud.d, CAST(spine.day AS DATE) AS day
  FROM ud JOIN spine
    ON ud.d <= spine.day AND ud.d > spine.day - INTERVAL 28 DAY
),
dau AS (SELECT day, count(DISTINCT u) AS dau FROM j
        WHERE d = day GROUP BY day),
wau AS (SELECT day, count(DISTINCT u) AS wau FROM j
        WHERE d > day - INTERVAL 7 DAY GROUP BY day),
mau AS (SELECT day, count(DISTINCT u) AS mau FROM j GROUP BY day)
SELECT mau.day AS day, coalesce(dau.dau, 0) AS dau,
       coalesce(wau.wau, 0) AS wau, mau,
       round(coalesce(dau.dau, 0) / CAST(mau AS DOUBLE), 4)
         AS dau_mau_ratio
FROM mau LEFT JOIN dau ON mau.day = dau.day
         LEFT JOIN wau ON mau.day = wau.day
"""


def test_active_users_oracle_matches_spark(spark, con):
    import datetime as dt

    from eggv_spark.operators.events import active_user_counts

    base = dt.datetime(2024, 3, 1)
    # activity on EVEN days only: odd days exercise the round-8
    # trailing-only path (they appear with dau = 0, not dropped)
    rows = [
        (f"u{i % 17}",
         base + dt.timedelta(days=((i * 3) % 35) * 2, hours=i % 20))
        for i in range(160)
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    got = sorted(
        (r["day"], r["dau"], r["wau"], r["mau"], r["dau_mau_ratio"])
        for r in active_user_counts(df, "user_id", "ts").collect()
    )
    con.register("ev", pd.DataFrame(rows, columns=["user_id", "ts"]))
    exp = sorted(
        (r[0].date() if hasattr(r[0], "date") else r[0],
         r[1], r[2], r[3], r[4])
        for r in con.execute(ACTIVE_USERS_SQL).fetchall()
    )
    assert got == exp


HHI_SQL = """
WITH t AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_contributors,
         sum(v) AS tot, max(v) AS mx
  FROM c GROUP BY g
)
SELECT c.g, any_value(t.n_contributors) AS n_contributors,
       round(sum((c.v / t.tot) * (c.v / t.tot)), 6) AS hhi,
       round(1.0 / round(sum((c.v / t.tot) * (c.v / t.tot)), 6), 4)
         AS effective_n,
       round(any_value(t.mx / t.tot), 6) AS top_share
FROM c JOIN t ON c.g = t.g
GROUP BY c.g ORDER BY c.g
"""


def test_hhi_oracle_matches_spark(spark, con):
    from eggv_spark.operators.aggregates import hhi_concentration

    rows = [("g1", f"c{i}", float(10 + i)) for i in range(6)] + [
        ("g2", "dom", 90.0), ("g2", "min", 10.0),
    ]
    df = spark.createDataFrame(rows, ["g", "contributor", "v"])
    got = sorted(
        tuple(r) for r in hhi_concentration(df, ["g"], "v")
        .select("g", "n_contributors", "hhi", "effective_n", "top_share")
        .collect()
    )
    con.register("c", pd.DataFrame(rows, columns=["g", "contributor", "v"]))
    assert got == con.execute(HHI_SQL).fetchall()


MCC_SQL = """
WITH cells AS (
  SELECT CAST(sum(CASE WHEN label = 1 AND pred = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS tp,
         CAST(sum(CASE WHEN label = 0 AND pred = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS fp,
         CAST(sum(CASE WHEN label = 1 AND pred = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS fn,
         CAST(sum(CASE WHEN label = 0 AND pred = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS tn
  FROM t
)
SELECT tp, fp, fn, tn,
  round(tp / CAST(nullif(tp + fp, 0) AS DOUBLE), 6) AS precision,
  round(tp / CAST(nullif(tp + fn, 0) AS DOUBLE), 6) AS recall,
  round(2 * tp / CAST(nullif(2 * tp + fp + fn, 0) AS DOUBLE), 6) AS f1,
  round((tp + tn) / CAST(tp + fp + fn + tn AS DOUBLE), 6) AS accuracy,
  round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
        / nullif(sqrt((CAST(tp AS DOUBLE) + fp) * (CAST(tp AS DOUBLE) + fn)
                      * (CAST(tn AS DOUBLE) + fp)
                      * (CAST(tn AS DOUBLE) + fn)), 0), 6) AS mcc
FROM cells
"""


def test_mcc_oracle_matches_spark(spark, con):
    from eggv_spark.operators.aggregates import mcc_confusion

    rows = [(1, 1)] * 31 + [(1, 0)] * 7 + [(0, 1)] * 4 + [(0, 0)] * 22
    df = spark.createDataFrame(rows, ["label", "pred"])
    got = tuple(mcc_confusion(df, "label", "pred").collect()[0])
    con.register("t", pd.DataFrame(rows, columns=["label", "pred"]))
    assert got == con.execute(MCC_SQL).fetchall()[0]


BRIER_SQL = """
WITH b AS (
  SELECT least(CAST(floor(p * 10) AS INT), 9) AS bin, p, y FROM t
), per_bin AS (
  SELECT bin, count(*) AS nk, avg(p) AS pk, avg(y) AS yk
  FROM b GROUP BY bin
), g AS (
  SELECT count(*) AS n, avg(y) AS ybar,
         avg((p - y) * (p - y)) AS bs
  FROM b
)
SELECT CAST(any_value(g.n) AS BIGINT) AS n,
       count(*) AS n_bins_used,
       round(any_value(g.bs), 6) AS brier,
       round(sum(nk * (pk - yk) * (pk - yk)) / any_value(g.n), 6)
         AS reliability,
       round(sum(nk * (yk - g.ybar) * (yk - g.ybar)) / any_value(g.n), 6)
         AS resolution,
       round(any_value(g.ybar * (1 - g.ybar)), 6) AS uncertainty
FROM per_bin, g
"""


def test_brier_oracle_matches_spark(spark, con):
    from eggv_spark.operators.aggregates import brier_decomposition

    rows = []
    for i in range(300):
        p = ((i * 41) % 100) / 100.0
        y = 1 if ((i * 17) % 100) / 100.0 < p else 0
        rows.append((p, y))
    df = spark.createDataFrame(rows, ["p", "y"])
    got = tuple(brier_decomposition(df, "p", "y", n_bins=10).collect()[0])
    con.register("t", pd.DataFrame(rows, columns=["p", "y"]))
    assert got == con.execute(BRIER_SQL).fetchall()[0]


PPS_SQL = """
WITH h AS (
  SELECT k, CAST(w AS BIGINT) AS w,
         CAST(concat('0x', substr(md5(CAST(k AS VARCHAR)), 1, 8))
              AS BIGINT) AS hk
  FROM t
), cum AS (
  SELECT k, w,
         sum(w) OVER (ORDER BY hk, k
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumw
  FROM h
), tot AS (SELECT max(cumw) AS tw FROM cum)
SELECT k, w AS weight_cents, cumw AS cum_weight_cents
FROM cum, tot
WHERE cumw * {n} // tw > (cumw - w) * {n} // tw
"""


def test_pps_oracle_matches_spark(spark, con):
    from eggv_spark.operators.relational import pps_systematic_sample

    rows = [(f"k{i}", (1 + (i * 7) % 12) * 50) for i in range(120)]
    df = spark.createDataFrame(rows, ["k", "w"])
    got = sorted(
        tuple(r) for r in
        pps_systematic_sample(df, ["k"], "w", n_samples=12).collect()
    )
    con.register("t", pd.DataFrame(rows, columns=["k", "w"]))
    exp = sorted(con.execute(PPS_SQL.format(n=12)).fetchall())
    assert got == exp
    assert len(got) > 0


COMPACTION_SQL = """
WITH s AS (
  SELECT path, CAST(size_bytes AS BIGINT) AS size_bytes,
         sum(size_bytes) OVER (
           ORDER BY size_bytes DESC, path
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - size_bytes AS cum_before
  FROM f
), a AS (
  SELECT path, size_bytes,
         CAST(cum_before // {target} AS INT) AS bin
  FROM s
)
SELECT bin, count(*) AS n_files,
       CAST(sum(size_bytes) AS BIGINT) AS bin_bytes,
       round(sum(size_bytes) / CAST({target} AS DOUBLE), 4) AS fill_ratio,
       CAST(min(size_bytes) AS BIGINT) AS min_file_bytes,
       CAST(max(size_bytes) AS BIGINT) AS max_file_bytes
FROM a GROUP BY bin ORDER BY bin
"""


def test_compaction_oracle_matches_spark(spark, con):
    from eggv_spark.operators.tableops import compaction_plan

    rows = [(f"part-{i:04d}", 10 + (i * 13) % 90) for i in range(60)]
    df = spark.createDataFrame(rows, ["path", "size_bytes"])
    got = sorted(
        tuple(r) for r in compaction_plan(df, target_bytes=200).collect()
    )
    con.register("f", pd.DataFrame(rows, columns=["path", "size_bytes"]))
    exp = sorted(con.execute(COMPACTION_SQL.format(target=200)).fetchall())
    assert got == exp


MODULARITY_SQL = """
WITH e AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst
), tagged AS (
  SELECT ca.community AS ca, cb.community AS cb
  FROM e JOIN comm ca ON e.a = ca.node JOIN comm cb ON e.b = cb.node
), m AS (SELECT count(*) AS m FROM tagged),
intra AS (
  SELECT ca AS community, count(*) AS intra_edges
  FROM tagged WHERE ca = cb GROUP BY ca
), deg AS (
  SELECT community, count(*) AS degree_sum FROM (
    SELECT ca AS community FROM tagged
    UNION ALL SELECT cb AS community FROM tagged
  ) GROUP BY community
), per_c AS (
  SELECT CAST(deg.community AS VARCHAR) AS community,
         CAST(coalesce(intra.intra_edges, 0) AS BIGINT) AS intra_edges,
         CAST(deg.degree_sum AS BIGINT) AS degree_sum,
         round(coalesce(intra.intra_edges, 0) / CAST(m.m AS DOUBLE)
               - (deg.degree_sum / (2.0 * m.m))
                 * (deg.degree_sum / (2.0 * m.m)), 6) AS q_contribution
  FROM deg LEFT JOIN intra ON deg.community = intra.community, m
)
SELECT community, intra_edges, degree_sum, q_contribution FROM per_c
UNION ALL
SELECT '__ALL__' AS community,
       CAST(sum(intra_edges) AS BIGINT) AS intra_edges,
       CAST(sum(degree_sum) AS BIGINT) AS degree_sum,
       round(sum(q_contribution), 6) AS q_contribution
FROM per_c
"""


def test_modularity_oracle_matches_spark(spark, con):
    from eggv_spark.operators.graph import modularity

    edges = []
    for base in (0, 100):
        for i in range(5):
            for j in range(i + 1, 5):
                if (i + j) % 3 != 0:
                    edges.append((base + i, base + j))
    edges += [(0, 100), (1, 103), (2, 101)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    comm_rows = [(i, "l") for i in range(5)] + [
        (100 + i, "r") for i in range(5)
    ]
    comm = spark.createDataFrame(comm_rows, ["node", "community"])
    got = sorted(tuple(r) for r in modularity(e, comm).collect())
    con.register("edges", pd.DataFrame(edges, columns=["src", "dst"]))
    con.register("comm", pd.DataFrame(comm_rows,
                                      columns=["node", "community"]))
    assert got == sorted(con.execute(MODULARITY_SQL).fetchall())


_TOKS = "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')"

PERPLEXITY_BINS_SQL = f"""
WITH terms AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
counts AS (SELECT term, count(*) AS n_term FROM terms GROUP BY term),
tot AS (SELECT sum(n_term) AS n_total FROM counts),
scored AS (
  SELECT doc_id, count(*) AS n_tokens,
         round(avg(ln(n_term / n_total)), 4) AS avg_logprob
  FROM terms JOIN counts USING (term), tot GROUP BY doc_id
), hist AS (
  SELECT avg_logprob AS s, count(*) AS c FROM scored GROUP BY avg_logprob
), cum AS (
  SELECT s, sum(c) OVER (ORDER BY s
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
  FROM hist
), nn AS (SELECT sum(c) AS n FROM hist),
cuts AS (
  -- DISCRETE order-statistic cutoffs (round 8): cutoff i = smallest
  -- score whose cumulative count reaches ceil(n*i/3) — ordinal, so
  -- interpolation can never flip a tie mass between engines
  SELECT min(CASE WHEN cumc >= (n * 1 + 2) // 3 THEN s END) AS c0,
         min(CASE WHEN cumc >= (n * 2 + 2) // 3 THEN s END) AS c1
  FROM cum, nn
), binned AS (
  SELECT 4 - (1 + CAST(avg_logprob >= c0 AS INT)
                + CAST(avg_logprob >= c1 AS INT)) AS bin,
         avg_logprob, n_tokens
  FROM scored, cuts
)
SELECT bin, count(*) AS n_docs,
       round(avg(avg_logprob), 4) AS mean_logprob,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM binned GROUP BY bin ORDER BY bin
"""


def test_perplexity_bins_oracle_matches_spark(spark, con):
    from eggv_spark.operators.text_analysis import perplexity_bins

    rows = [(i, f"tok{i % 7} tok{i % 3} shared words here stay")
            for i in range(30)] + [(99, "rare glyph zzyzx")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(tuple(r) for r in perplexity_bins(df, n_bins=3).collect())
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    assert got == con.execute(PERPLEXITY_BINS_SQL).fetchall()


def test_bpe_apply_oracle_matches_spark(spark, con):
    from eggv_spark.operators.text_analysis import (
        bpe_apply_merges,
        bpe_train_merges,
    )

    corpus = ["low lower lowest low low", "newer newest new low wider",
              "aaaa aaaa banana bandana"]
    rows = [(i, t) for i, t in enumerate(corpus)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    merges = bpe_train_merges(df, n_merges=4)
    got = sorted(
        tuple(r) for r in bpe_apply_merges(df, merges, 4).collect()
    )
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    assert got == sorted(con.execute(E._bpe_apply_oracle_sql(4)).fetchall())


IMAGE_PATCHES_SQL = """
WITH grid AS (
  SELECT d.doc_id AS asset_id, pr.pr AS patch_row, pc.pc AS patch_col
  FROM docs d, (SELECT unnest(range(0, 2)) AS pr) pr,
       (SELECT unnest(range(0, 2)) AS pc) pc
)
SELECT asset_id, CAST(patch_row AS INT) AS patch_row,
       CAST(patch_col AS INT) AS patch_col,
       list_sum(list_transform(range(0, 16), k ->
         CAST((asset_id * 7 + ((((patch_row * 4 + k // 4) * 8)
              + patch_col * 4 + (k % 4)) * 3 + 0) * 13) % 256
              AS DOUBLE))) / 16 AS mean_r,
       list_sum(list_transform(range(0, 16), k ->
         CAST((asset_id * 7 + ((((patch_row * 4 + k // 4) * 8)
              + patch_col * 4 + (k % 4)) * 3 + 1) * 13) % 256
              AS DOUBLE))) / 16 AS mean_g,
       list_sum(list_transform(range(0, 16), k ->
         CAST((asset_id * 7 + ((((patch_row * 4 + k // 4) * 8)
              + patch_col * 4 + (k % 4)) * 3 + 2) * 13) % 256
              AS DOUBLE))) / 16 AS mean_b
FROM grid ORDER BY asset_id, patch_row, patch_col
"""


def test_image_patches_oracle_matches_spark(spark, con):
    from eggv_spark.operators.multimodal import (
        image_patches,
        synthesize_ppm_images,
    )

    ids = [0, 2, 9, 15]
    docs = spark.createDataFrame([(d,) for d in ids], ["doc_id"])
    assets = synthesize_ppm_images(docs, width=8, height=8)
    got = sorted(tuple(r) for r in image_patches(assets, patch=4).collect())
    con.register("docs", pd.DataFrame({"doc_id": ids}))
    assert got == sorted(con.execute(IMAGE_PATCHES_SQL).fetchall())


FUNNEL_PATHS_SQL = """
WITH stepped AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM ev
), per_user AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM stepped WHERE rn <= {max_steps} GROUP BY user_id
), counts AS (
  SELECT path, count(*) AS n_users FROM per_user GROUP BY path
)
SELECT CAST(row_number() OVER (ORDER BY n_users DESC, path) AS INT)
         AS rank,
       path, n_users
FROM counts QUALIFY rank <= {top_n} ORDER BY rank
"""


def test_funnel_paths_oracle_matches_spark(spark, con):
    import datetime as dt

    from eggv_spark.operators.events import funnel_paths

    base = dt.datetime(2024, 5, 1)
    rows = []
    eid = 0
    for i in range(60):
        u = f"u{i % 13}"
        t = ["view", "click", "purchase", "error"][i % 4]
        rows.append((eid, u, t, base + dt.timedelta(minutes=i)))
        eid += 1
    df = spark.createDataFrame(rows, ["event_id", "user_id",
                                      "event_type", "ts"])
    got = [tuple(r) for r in
           funnel_paths(df, max_steps=5, top_n=8).orderBy("rank").collect()]
    con.register("ev", pd.DataFrame(rows, columns=["event_id", "user_id",
                                                   "event_type", "ts"]))
    exp = con.execute(
        FUNNEL_PATHS_SQL.format(max_steps=5, top_n=8)
    ).fetchall()
    assert got == exp


PPS_STRAT_SQL = """
WITH h AS (
  SELECT stratum, k, CAST(w AS BIGINT) AS w,
         CAST(concat('0x', substr(md5(CAST(k AS VARCHAR)), 1, 8))
              AS BIGINT) AS hk
  FROM t
), cum AS (
  SELECT stratum, k, w,
         sum(w) OVER (PARTITION BY stratum ORDER BY hk, k
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumw
  FROM h
), tot AS (
  SELECT stratum, max(cumw) AS tw FROM cum GROUP BY stratum
)
SELECT cum.stratum, k, w AS weight_cents, cumw AS cum_weight_cents
FROM cum JOIN tot ON cum.stratum = tot.stratum
WHERE cumw * {n} // tw > (cumw - w) * {n} // tw
"""


def test_pps_stratified_oracle_matches_spark(spark, con):
    from eggv_spark.operators.relational import pps_stratified_sample

    rows = [(f"s{i % 3}", f"k{i}", (1 + (i * 5) % 11) * 30)
            for i in range(90)]
    df = spark.createDataFrame(rows, ["stratum", "k", "w"])
    got = sorted(
        tuple(r) for r in
        pps_stratified_sample(df, ["stratum"], ["k"], "w",
                              n_per_stratum=6).collect()
    )
    con.register("t", pd.DataFrame(rows, columns=["stratum", "k", "w"]))
    exp = sorted(con.execute(PPS_STRAT_SQL.format(n=6)).fetchall())
    assert got == exp
