"""Fixture-level oracle checks for the round-6 operators: each Spark
operator runs on a small fixture and a DuckDB query runs on the same
rows.  Where the registry has an oracle for the operator, the test
calls the registry's generator in ``__spark_entry__.py``; the SQL kept
here covers fixture shapes the registry tables do not have.  Two
non-obvious encodings:

- ``epoch_shuffle``: DuckDB's ``CAST('0x'||substr(md5(..),1,8) AS
  BIGINT)`` equals Spark's ``conv(substring(md5(..),1,8),16,10)``.
- ``bpe_train_merges``: the greedy left-to-right merge is expressed
  as a string ``replace`` over a pipe-delimited, double-space-
  separated symbol encoding ('|l|  |o|  |w|'): the pipes make symbol
  boundaries unambiguous (no cross-token suffix/prefix matches) and
  the double separator keeps overlapping matches greedy ('|a|  |a|
  |a|' collapses to '|aa|  |a|', exactly the fold semantics).
"""

from __future__ import annotations

import pandas as pd

import __spark_entry__ as E

MULT_MEANS_SQL = """
SELECT g, count(v) AS n,
       count(CASE WHEN v > 0 THEN v END) AS n_positive,
       round(avg(v), 6) AS mean,
       round(exp(avg(CASE WHEN v > 0 THEN ln(v) END)), 6) AS gmean,
       round(count(CASE WHEN v > 0 THEN v END)
             / sum(CASE WHEN v > 0 THEN 1.0/v END), 6) AS hmean
FROM t GROUP BY g ORDER BY g
"""

SRM_SQL = """
WITH per AS (
  SELECT variant, count(DISTINCT unit) AS n_units FROM ev GROUP BY variant
), tot AS (SELECT sum(n_units) AS n FROM per)
SELECT count(*) AS k, sum(n_units) AS n_units,
       round(sum(pow(n_units - 0.5 * (SELECT n FROM tot), 2)
                 / (0.5 * (SELECT n FROM tot))), 4) AS srm_chi2,
       count(*) - 1 AS dof
FROM per
"""

EPOCH_SHUFFLE_SQL = """
WITH drawn AS (
  SELECT k, md5('{epoch}' || '|' || CAST(k AS VARCHAR)) AS draw FROM t
), sharded AS (
  SELECT k, draw,
         CAST(CAST('0x' || substr(draw, 1, 8) AS BIGINT)
              % {n_shards} AS INT) AS shard
  FROM drawn
)
SELECT k, shard,
       row_number() OVER (PARTITION BY shard ORDER BY draw, k)
         AS shard_pos
FROM sharded ORDER BY k
"""

C4_SQL = r"""
WITH s AS (
  SELECT doc_id, string_split(text, chr(10)) AS lines FROM d
), k AS (
  SELECT doc_id, lines,
         list_filter(lines, l ->
             regexp_matches(trim(l), '[.!?"’”]$')
             AND len(string_split_regex(trim(l), '\s+')) >= 3
             AND NOT contains(lower(trim(l)), '{')
             AND NOT contains(lower(trim(l)), 'lorem ipsum')
             AND NOT contains(lower(trim(l)), 'javascript')
         ) AS kept
  FROM s
)
SELECT doc_id, len(lines) AS n_lines, len(kept) AS n_kept,
       len(kept) >= 3 AS page_ok,
       array_to_string(kept, chr(10)) AS clean_text
FROM k ORDER BY doc_id
"""

VOCAB_JSD_SQL = r"""
WITH toks AS (
  SELECT source AS g,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            t -> t <> '')) AS tok
  FROM documents WHERE source IN ('a', 'b')
), counts AS (
  SELECT tok,
         sum(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS cb
  FROM toks GROUP BY tok
), tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM counts)
SELECT any_value(na) AS n_tokens_a, any_value(nb) AS n_tokens_b,
       count(*) AS vocab_union,
       sum(CASE WHEN ca > 0 THEN 1 ELSE 0 END) AS vocab_a,
       sum(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS vocab_b,
       round(sum(
         CASE WHEN ca > 0 THEN 0.5 * (ca/na)
              * ln((ca/na) / ((ca/na + cb/nb)/2)) ELSE 0 END
         + CASE WHEN cb > 0 THEN 0.5 * (cb/nb)
                * ln((cb/nb) / ((ca/na + cb/nb)/2)) ELSE 0 END
       ), 6) AS jsd_nats,
       round(sum(
         CASE WHEN ca > 0 THEN 0.5 * (ca/na)
              * ln((ca/na) / ((ca/na + cb/nb)/2)) ELSE 0 END
         + CASE WHEN cb > 0 THEN 0.5 * (cb/nb)
                * ln((cb/nb) / ((ca/na + cb/nb)/2)) ELSE 0 END
       ) / 0.6931471805599453, 6) AS jsd_normalized
FROM counts, tot
"""

JOIN_CARD_SQL = """
WITH la AS (SELECT k AS key, count(*) AS ca FROM l GROUP BY k),
     rb AS (SELECT j AS key, count(*) AS cb FROM r GROUP BY j),
     j2 AS (SELECT coalesce(la.key, rb.key) AS key,
                   coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb,
                   coalesce(ca, 0) * coalesce(cb, 0) AS outn
            FROM la FULL OUTER JOIN rb ON la.key = rb.key),
     total AS (
       SELECT 0 AS rank, '__TOTAL__' AS key, sum(outn) AS est_rows,
              sum(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END)
                AS n_matched_keys,
              sum(CASE WHEN cb = 0 THEN 1 ELSE 0 END)
                AS n_left_only_keys,
              sum(CASE WHEN ca = 0 THEN 1 ELSE 0 END)
                AS n_right_only_keys
       FROM j2),
     heavy AS (
       SELECT row_number() OVER (ORDER BY outn DESC, key) AS rank,
              CAST(key AS VARCHAR) AS key, outn AS est_rows,
              NULL AS n_matched_keys, NULL AS n_left_only_keys,
              NULL AS n_right_only_keys
       FROM j2 WHERE outn > 0 QUALIFY rank <= 10)
SELECT * FROM total UNION ALL BY NAME SELECT * FROM heavy
ORDER BY rank
"""

EMB_DRIFT_SQL = """
WITH pairs AS (
  SELECT slice AS g, u.p[2] AS d, u.p[1] AS x
  FROM emb, unnest(list_zip(vec, range(1, len(vec) + 1))) AS u(p)
  WHERE slice IN ('a', 'b')
), per_dim AS (
  SELECT g, d, avg(x) AS m, count(*) AS n FROM pairs GROUP BY g, d
), cents AS (
  SELECT g, list(m ORDER BY d) AS c, max(n) AS nvecs
  FROM per_dim GROUP BY g
), j AS (
  SELECT a.c AS ca, a.nvecs AS n_a, b.c AS cb, b.nvecs AS n_b
  FROM (SELECT * FROM cents WHERE g = 'a') a,
       (SELECT * FROM cents WHERE g = 'b') b
)
SELECT n_a, n_b, len(ca) AS dims,
       round(list_dot_product(ca, cb)
             / (sqrt(list_dot_product(ca, ca))
                * sqrt(list_dot_product(cb, cb))), 6) AS centroid_cosine,
       round(sqrt(list_dot_product(
           list_transform(list_zip(ca, cb), p -> p[1] - p[2]),
           list_transform(list_zip(ca, cb), p -> p[1] - p[2]))), 6)
         AS centroid_l2
FROM j
"""


def test_mult_means_oracle_matches_spark(spark, con):
    from eggv_spark.operators.aggregates import multiplicative_means

    rows = [("g1", v) for v in [1.0, 2.0, 4.0, 8.0]] + [
        ("g2", v) for v in [-3.0, 0.0, 9.0, 4.0]
    ]
    sdf = spark.createDataFrame(rows, ["g", "v"])
    got = [
        tuple(r) for r in
        multiplicative_means(sdf, ["g"], "v").orderBy("g").collect()
    ]
    con.register("t", pd.DataFrame(rows, columns=["g", "v"]))
    exp = con.execute(MULT_MEANS_SQL).fetchall()
    assert got == exp


def test_srm_oracle_matches_spark(spark, con):
    from pyspark.sql import functions as F  # noqa: F401

    from eggv_spark.operators.events import srm_check

    rows = [("A", f"u{i % 70}") for i in range(140)] + [
        ("B", f"v{i}") for i in range(30)
    ]
    sdf = spark.createDataFrame(rows, ["variant", "unit"])
    got = tuple(
        srm_check(sdf, "variant", "unit", {"A": 0.5, "B": 0.5}).collect()[0]
    )
    con.register("ev", pd.DataFrame(rows, columns=["variant", "unit"]))
    assert got == con.execute(SRM_SQL).fetchall()[0]


def test_epoch_shuffle_oracle_matches_spark(spark, con):
    from eggv_spark.operators.relational import epoch_shuffle

    sdf = spark.range(0, 64).withColumnRenamed("id", "k")
    got = sorted(
        (r["k"], r["shard"], r["shard_pos"])
        for r in epoch_shuffle(sdf, ["k"], epoch=3, n_shards=4).collect()
    )
    con.register("t", pd.DataFrame({"k": list(range(64))}))
    exp = con.execute(
        EPOCH_SHUFFLE_SQL.format(epoch=3, n_shards=4)
    ).fetchall()
    assert got == exp


def test_c4_oracle_matches_spark(spark, con):
    from eggv_spark.operators.text_analysis import c4_line_filters

    doc = "\n".join([
        "This is a proper sentence with enough words.",
        "Too short.",
        "No terminal punctuation at all here",
        "Click here to enable javascript on this page.",
        "if (x) { return y; } and some other words too.",
        "Lorem ipsum dolor sit amet, consectetur elit.",
        "Another good sentence should survive the gate!",
        'He said "this quoted line also counts fine."',
    ])
    rows = [(1, doc), (2, "one good line stands alone here.\nnope")]
    sdf = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [tuple(r) for r in c4_line_filters(sdf).orderBy("doc_id").collect()]
    con.register("d", pd.DataFrame(rows, columns=["doc_id", "text"]))
    assert got == con.execute(C4_SQL).fetchall()


def test_vocab_jsd_oracle_matches_spark(spark, con):
    from eggv_spark.operators.text_analysis import vocab_jsd

    rows = [
        ("a", "the cat sat on the mat"), ("a", "the dog barked"),
        ("b", "the cat ran off"), ("b", "a bird sang the song twice"),
        ("c", "poison tokens here"),
    ]
    sdf = spark.createDataFrame(rows, ["source", "text"])
    got = tuple(vocab_jsd(sdf, "source", "text", "a", "b").collect()[0])
    con.register("documents", pd.DataFrame(rows, columns=["source", "text"]))
    assert got == con.execute(VOCAB_JSD_SQL).fetchall()[0]


def test_join_cardinality_oracle_matches_spark(spark, con):
    from eggv_spark.operators.tableops import join_cardinality_estimate

    lrows, rrows = [1, 1, 1, 2, 2, 3, 7], [1, 1, 2, 4, 4, 4]
    left = spark.createDataFrame([(k,) for k in lrows], ["k"])
    right = spark.createDataFrame([(k,) for k in rrows], ["j"])
    got = [
        tuple(r) for r in
        join_cardinality_estimate(left, right, "k", "j")
        .orderBy("rank").collect()
    ]
    con.register("l", pd.DataFrame({"k": lrows}))
    con.register("r", pd.DataFrame({"j": rrows}))
    assert got == con.execute(JOIN_CARD_SQL).fetchall()


def test_embedding_drift_oracle_matches_spark(spark, con):
    from eggv_spark.operators.similarity import embedding_drift

    rows = [
        ("a", [1.0, 0.0, 2.0]), ("a", [3.0, 2.0, 0.0]),
        ("b", [0.5, 1.5, 2.5]), ("b", [2.0, 1.0, 1.0]),
        ("c", [9.0, 9.0, 9.0]),
    ]
    sdf = spark.createDataFrame(rows, ["slice", "vec"])
    got = tuple(embedding_drift(sdf, "slice", "vec", "a", "b").collect()[0])
    con.register("emb", pd.DataFrame(rows, columns=["slice", "vec"]))
    assert got == con.execute(EMB_DRIFT_SQL).fetchall()[0]


def test_bpe_oracle_matches_spark(spark, con):
    from eggv_spark.operators.text_analysis import bpe_train_merges

    corpus = ["low lower lowest low low", "newer newest new low wider",
              "aaaa aaaa banana bandana"]
    sdf = spark.createDataFrame([(t,) for t in corpus], ["text"])
    got = [
        tuple(r) for r in
        bpe_train_merges(sdf, n_merges=6).orderBy("step").collect()
    ]
    con.register("documents", pd.DataFrame({"text": corpus}))
    assert got == con.execute(E._bpe_oracle_sql(6)).fetchall()


LABEL_CHI2_SQL = r"""
WITH docs AS (
  SELECT source AS l,
         list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
                                   t -> t <> '')) AS toks
  FROM documents
), pairs AS (
  SELECT l, unnest(toks) AS t FROM docs
), n_docs AS (SELECT count(*) AS n FROM docs),
per_label AS (SELECT l, count(*) AS nl FROM docs GROUP BY l),
per_term AS (SELECT t, count(*) AS dt FROM pairs GROUP BY t),
cell AS (SELECT l, t, count(*) AS a FROM pairs GROUP BY l, t),
j AS (
  SELECT c.l, c.t, c.a, pt.dt, pl.nl, nd.n
  FROM cell c
  JOIN per_term pt ON c.t = pt.t
  JOIN per_label pl ON c.l = pl.l
  CROSS JOIN n_docs nd
  WHERE pt.dt >= {min_doc_freq}
), scored AS (
  SELECT l AS source, t AS term, a AS label_doc_freq,
         dt AS corpus_doc_freq,
         round(
           CASE WHEN (a + (dt - a)) * ((nl - a) + (n - dt - nl + a))
                     * (a + (nl - a)) * ((dt - a) + (n - dt - nl + a)) = 0
                THEN NULL
                ELSE n * pow(a * (n - dt - nl + a)
                             - (dt - a) * (nl - a), 2)
                     / ((a + (dt - a)) * ((nl - a) + (n - dt - nl + a))
                        * (a + (nl - a))
                        * ((dt - a) + (n - dt - nl + a)))
           END, 4) AS chi2
  FROM j
)
SELECT source, term, label_doc_freq, corpus_doc_freq, chi2,
       row_number() OVER (PARTITION BY source
                          ORDER BY chi2 DESC NULLS LAST, term) AS rank
FROM scored
QUALIFY rank <= {top_n}
ORDER BY source, rank
"""

PREFIX_RECALL_SQL = """
WITH queries AS (
  SELECT vec_id, embedding FROM emb ORDER BY vec_id LIMIT {n_queries}
),
exact AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_dot_product(q.embedding, c.embedding)
                    / (sqrt(list_dot_product(q.embedding, q.embedding))
                       * sqrt(list_dot_product(c.embedding, c.embedding))),
                    4) DESC,
                    c.vec_id ASC
         ) AS rank
  FROM emb c CROSS JOIN queries q
  WHERE c.vec_id <> q.vec_id
  QUALIFY rank <= {k}
),
approx AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(
                    list_dot_product(q.embedding[1:{d}], c.embedding[1:{d}])
                    / (sqrt(list_dot_product(q.embedding[1:{d}],
                                             q.embedding[1:{d}]))
                       * sqrt(list_dot_product(c.embedding[1:{d}],
                                               c.embedding[1:{d}]))),
                    4) DESC,
                    c.vec_id ASC
         ) AS rank
  FROM emb c CROSS JOIN queries q
  WHERE c.vec_id <> q.vec_id
  QUALIFY rank <= {k}
),
per_query AS (
  SELECT e.query_id,
         count(a.neighbor_id) / CAST({k} AS DOUBLE) AS recall
  FROM exact e
  LEFT JOIN approx a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.query_id
)
SELECT CAST({d} AS INT) AS dims, count(*) AS n_queries,
       round(avg(recall), 4) AS mean_recall
FROM per_query
UNION ALL
SELECT CAST((SELECT max(len(embedding)) FROM emb) AS INT) AS dims,
       (SELECT count(DISTINCT query_id) FROM exact) AS n_queries,
       CAST(1.0 AS DOUBLE) AS mean_recall
"""


def test_label_chi2_oracle_matches_spark(spark, con):
    from eggv_spark.operators.text_analysis import label_chi2_terms

    rows = [
        ("sa", "x y z"), ("sa", "x y"), ("sa", "x q"),
        ("sb", "y z q"), ("sb", "z q"), ("sb", "x z"),
    ]
    sdf = spark.createDataFrame(rows, ["source", "text"])
    got = [
        tuple(r) for r in
        label_chi2_terms(sdf, top_n=3, min_doc_freq=2)
        .orderBy("source", "rank").collect()
    ]
    con.register("documents", pd.DataFrame(rows, columns=["source", "text"]))
    exp = con.execute(
        LABEL_CHI2_SQL.format(min_doc_freq=2, top_n=3)
    ).fetchall()
    assert got == exp


def test_prefix_recall_oracle_matches_spark(spark, con):
    import numpy as np

    from eggv_spark.operators.similarity import prefix_dim_recall

    rng = np.random.RandomState(11)
    vecs = rng.randn(20, 6).round(3)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    sdf = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = sorted(
        tuple(r) for r in
        prefix_dim_recall(sdf, dims_list=[3], k=4, n_queries=5)
        .collect()
    )
    con.register("emb", pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    exp = sorted(con.execute(
        PREFIX_RECALL_SQL.format(n_queries=5, k=4, d=3)
    ).fetchall())
    assert got == exp
    assert len(got) == 2  # dims=3 row + full-dimension baseline row
    assert got[-1] == (6, 5, 1.0)  # baseline: native width, recall 1.0


UPLIFT_SQL = """
WITH per_unit AS (
  SELECT seg AS s, unit AS u, variant AS v,
         max(CAST(converted AS INT)) AS y
  FROM ev GROUP BY seg, unit, variant
), seg AS (
  SELECT s,
         sum(CASE WHEN v = 'A' THEN 1 ELSE 0 END) AS n_a,
         sum(CASE WHEN v = 'B' THEN 1 ELSE 0 END) AS n_b,
         sum(CASE WHEN v = 'A' THEN y ELSE 0 END) AS c_a,
         sum(CASE WHEN v = 'B' THEN y ELSE 0 END) AS c_b
  FROM per_unit GROUP BY s
), total AS (
  SELECT '__ALL__' AS s, sum(n_a) AS n_a, sum(n_b) AS n_b,
         sum(c_a) AS c_a, sum(c_b) AS c_b
  FROM seg
), combined AS (
  SELECT * FROM seg UNION ALL BY NAME SELECT * FROM total
)
SELECT s AS seg, n_a, n_b,
       round(c_a / CAST(n_a AS DOUBLE), 6) AS rate_a,
       round(c_b / CAST(n_b AS DOUBLE), 6) AS rate_b,
       round(c_b / CAST(n_b AS DOUBLE)
             - c_a / CAST(n_a AS DOUBLE), 6) AS lift,
       round(
         CASE WHEN sqrt(((c_a + c_b) / CAST(n_a + n_b AS DOUBLE))
                        * (1 - (c_a + c_b) / CAST(n_a + n_b AS DOUBLE))
                        * (1.0/n_a + 1.0/n_b)) = 0 THEN NULL
              ELSE (c_b / CAST(n_b AS DOUBLE)
                    - c_a / CAST(n_a AS DOUBLE))
                   / sqrt(((c_a + c_b) / CAST(n_a + n_b AS DOUBLE))
                          * (1 - (c_a + c_b)
                               / CAST(n_a + n_b AS DOUBLE))
                          * (1.0/n_a + 1.0/n_b))
         END, 4) AS z_stat
FROM combined ORDER BY seg
"""


def test_uplift_oracle_matches_spark(spark, con):
    from eggv_spark.operators.events import uplift_by_segment

    rows = []
    for i in range(5):
        rows.append(("s1", f"a{i}", "A", int(i < 2)))
        rows.append(("s1", f"b{i}", "B", int(i < 4)))
        rows.append(("s2", f"c{i}", "A", int(i < 3)))
        rows.append(("s2", f"d{i}", "B", int(i < 1)))
    sdf = spark.createDataFrame(rows, ["seg", "unit", "variant", "converted"])
    got = sorted(
        tuple(r) for r in
        uplift_by_segment(sdf, "unit", "variant", "converted", "seg")
        .collect()
    )
    con.register(
        "ev", pd.DataFrame(rows, columns=["seg", "unit", "variant",
                                          "converted"])
    )
    assert got == con.execute(UPLIFT_SQL).fetchall()


SCHEMA_DRIFT_SQL = """
WITH po AS (
  SELECT 'id' AS col, round(sum(CASE WHEN id IS NULL THEN 1 ELSE 0 END)
         / CAST(count(*) AS DOUBLE), 6) AS nr,
         count(DISTINCT id) AS nd FROM told
  UNION ALL BY NAME
  SELECT 'name' AS col, round(sum(CASE WHEN name IS NULL THEN 1 ELSE 0 END)
         / CAST(count(*) AS DOUBLE), 6) AS nr,
         count(DISTINCT name) AS nd FROM told
  UNION ALL BY NAME
  SELECT 'legacy' AS col, round(sum(CASE WHEN legacy IS NULL THEN 1 ELSE 0 END)
         / CAST(count(*) AS DOUBLE), 6) AS nr,
         count(DISTINCT legacy) AS nd FROM told
), pn AS (
  SELECT 'id' AS col, round(sum(CASE WHEN id IS NULL THEN 1 ELSE 0 END)
         / CAST(count(*) AS DOUBLE), 6) AS nr,
         count(DISTINCT id) AS nd FROM tnew
  UNION ALL BY NAME
  SELECT 'name' AS col, round(sum(CASE WHEN name IS NULL THEN 1 ELSE 0 END)
         / CAST(count(*) AS DOUBLE), 6) AS nr,
         count(DISTINCT name) AS nd FROM tnew
  UNION ALL BY NAME
  SELECT 'extra' AS col, round(sum(CASE WHEN extra IS NULL THEN 1 ELSE 0 END)
         / CAST(count(*) AS DOUBLE), 6) AS nr,
         count(DISTINCT extra) AS nd FROM tnew
)
SELECT coalesce(po.col, pn.col) AS "column",
       po.nr IS NOT NULL AS in_old,
       pn.nr IS NOT NULL AS in_new,
       po.nr AS null_rate_old, pn.nr AS null_rate_new,
       round(pn.nr - po.nr, 6) AS null_rate_drift,
       po.nd AS n_distinct_old, pn.nd AS n_distinct_new
FROM po FULL OUTER JOIN pn ON po.col = pn.col
ORDER BY "column"
"""


def test_schema_drift_oracle_matches_spark(spark, con):
    from eggv_spark.operators.tableops import schema_drift_audit

    old_rows = [(1, "x", 1.0), (2, "y", 2.0), (3, None, 3.0), (4, "z", 4.0)]
    new_rows = [(1, None, "a"), (2, None, "b"), (3, None, "c"), (4, "z", "d")]
    old = spark.createDataFrame(old_rows, ["id", "name", "legacy"])
    new = spark.createDataFrame(new_rows, ["id", "name", "extra"])
    got = sorted(
        tuple(r) for r in schema_drift_audit(old, new).collect()
    )
    con.register("told", pd.DataFrame(old_rows,
                                      columns=["id", "name", "legacy"]))
    con.register("tnew", pd.DataFrame(new_rows,
                                      columns=["id", "name", "extra"]))
    assert got == con.execute(SCHEMA_DRIFT_SQL).fetchall()
