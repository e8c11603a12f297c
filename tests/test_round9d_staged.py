"""Property/replica tests for the round-9d staged wave: decision
stump, integer-exact HITS, MMR diversified retrieval, and RAKE
keywords.

Staging lessons this wave encodes:

- decision_stump_fit uses a DATA-INDEPENDENT threshold grid so the
  candidate table is a shared literal (no quantile-estimation step),
  and all split errors are exact integers — the argmin struct
  (n_errors, dim, threshold_index) is a total order;
- hits_scores iterates UNNORMALIZED in DECIMAL(38,0) (integer
  weights, exact order-independent rounds) and normalizes once at
  the end — the per-round float normalization is what usually makes
  distributed HITS nondeterministic;
- mmr_diversify rounds relevance/similarity to 6dp BEFORE any cut or
  argmax, and the greedy loop runs on the bounded candidate pool;
- rake_keywords segments phrases by separator encoding (stopword ->
  '|' -> split), no lookahead regex and no stateful fold.
"""

from __future__ import annotations

import math

import pytest


# --- decision_stump_fit ----------------------------------------------------


def test_stump_matches_exhaustive_python(spark):
    from eggv_spark.operators.ml import decision_stump_fit

    vecs = [
        (i, (i * 13) % 2, [((i * 7 + d * 3) % 11 - 5) / 10.0
                           for d in range(4)])
        for i in range(40)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "label", "embedding"])
    thresholds = (-0.3, -0.1, 0.0, 0.1, 0.3)
    row = decision_stump_fit(
        df, dim=4, thresholds=thresholds
    ).collect()[0]

    best = None
    for d in range(1, 5):
        for ti, t in enumerate(thresholds):
            lp = sum(1 for _, y, v in vecs if v[d - 1] <= t and y == 1)
            ln = sum(1 for _, y, v in vecs if v[d - 1] <= t and y == 0)
            pos = sum(y for _, y, _ in vecs)
            rp, rn = pos - lp, (40 - pos) - ln
            err_a, err_b = ln + rp, lp + rn
            err = min(err_a, err_b)
            pol = "left_pos" if err_a <= err_b else "right_pos"
            key = (err, d, ti)
            if best is None or key < best[0]:
                best = (key, t, pol)
    (err, d, _ti), t, pol = best
    assert (row["dim"], row["threshold"], row["polarity"]) == (d, t, pol)
    assert row["n_errors"] == err
    assert row["n"] == 40
    assert row["error_rate"] == round(err / 40, 6)


def test_stump_rejects_multiclass_labels(spark):
    from eggv_spark.operators.ml import decision_stump_fit

    df = spark.createDataFrame(
        [(i, i % 3, [0.1, 0.2]) for i in range(9)],
        ["vec_id", "label", "embedding"],
    )
    with pytest.raises(Exception, match="must be 0/1"):
        decision_stump_fit(df, dim=2).collect()


# --- hits_scores ------------------------------------------------------------


def test_hits_matches_integer_python_replica(spark):
    from eggv_spark.operators.graph import hits_scores

    edges = [
        (0, 1, 3), (0, 2, 1), (1, 2, 2), (2, 0, 1), (3, 2, 5),
        (1, 3, 1), (2, 3, 2),
    ]
    df = spark.createDataFrame(edges, ["src", "dst", "weight"])
    got = {
        r["node"]: (r["authority"], r["hub"])
        for r in hits_scores(df, n_rounds=2).collect()
    }
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    h = {v: 1 for v in nodes}
    a = {}
    for _ in range(2):
        a = {v: sum(w * h[s] for s, d, w in edges if d == v)
             for v in nodes}
        h = {v: sum(w * a[d] for s, d, w in edges if s == v)
             for v in nodes}
    amax, hmax = max(a.values()), max(h.values())
    for v in nodes:
        assert got[v][0] == round(a[v] / amax, 6), (v, got[v], a)
        assert got[v][1] == round(h[v] / hmax, 6), (v, got[v], h)


def test_hits_sink_has_zero_hub_score(spark):
    from eggv_spark.operators.graph import hits_scores

    # node 2 is a pure sink: no out-edges -> hub exactly 0
    df = spark.createDataFrame(
        [(0, 2, 1), (1, 2, 4), (0, 1, 2)], ["src", "dst", "weight"]
    )
    got = {r["node"]: r for r in hits_scores(df, n_rounds=2).collect()}
    assert got[2]["hub"] == 0.0
    assert got[2]["authority"] == 1.0  # the heaviest-pointed node


# --- mmr_diversify ----------------------------------------------------------


def test_mmr_prefers_diverse_over_redundant(spark):
    from eggv_spark.operators.similarity import mmr_diversify

    # query [1,0]; three near-copies of the best match (pairwise sim
    # ~0.999) plus one moderately-relevant diverse doc: plain top-3
    # would take all three copies; at lam=0.3 the redundancy penalty
    # (0.7 * ~0.999) sinks the copies and the diverse doc takes
    # rank 2 (hand-checked: score(copy) ~ -0.40, score(diverse)
    # ~ -0.32)
    rows = [
        (0, [1.0, 0.0]),        # query
        (1, [0.99, 0.14]),      # best match
        (2, [0.985, 0.17]),     # near-copy
        (3, [0.98, 0.19]),      # near-copy
        (4, [0.60, 0.75]),      # diverse
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = [
        (r["rank"], r["id"])
        for r in mmr_diversify(
            df, query_id=0, dim=2, n_candidates=4, k=3, lam=0.3
        ).orderBy("rank").collect()
    ]
    assert got[0] == (1, 1)
    assert got[1] == (2, 4), got
    assert len(got) == 3


def test_mmr_matches_greedy_python(spark):
    from eggv_spark.operators.similarity import mmr_diversify

    vecs = {
        i: [((i * 7 + d * 5) % 13 - 6) / 6.0 for d in range(4)]
        for i in range(12)
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], ["vec_id", "embedding"]
    )
    lam = 0.7

    def cos(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot += x * y
        na = nb = 0.0
        for x in a:
            na += x * x
        for y in b:
            nb += y * y
        return dot / (math.sqrt(na) * math.sqrt(nb))

    q = vecs[0]
    rel = {i: round(cos(vecs[i], q), 6) for i in vecs if i != 0}
    pool = sorted(rel, key=lambda i: (-rel[i], i))[:8]
    sims = {
        (a, b): round(cos(vecs[a], vecs[b]), 6)
        for a in pool for b in pool if a != b
    }
    sel = [min(pool, key=lambda i: (-rel[i], i))]
    exp = [(1, sel[0], rel[sel[0]], rel[sel[0]])]
    for step in range(2, 5):
        remaining = [c for c in pool if c not in sel]
        scored = {
            c: round(
                lam * rel[c]
                - (1 - lam) * max(sims[(c, s)] for s in sel), 6
            )
            for c in remaining
        }
        pick = min(remaining, key=lambda c: (-scored[c], c))
        exp.append((step, pick, rel[pick], scored[pick]))
        sel.append(pick)
    got = [
        (r["rank"], r["id"], r["relevance"], r["mmr_score"])
        for r in mmr_diversify(
            df, query_id=0, dim=4, n_candidates=8, k=4, lam=lam
        ).orderBy("rank").collect()
    ]
    assert got == exp


# --- rake_keywords ----------------------------------------------------------


def test_rake_matches_python_replica(spark):
    from eggv_spark.operators.text_analysis import (
        RAKE_STOPWORDS,
        rake_keywords,
    )

    docs = [
        (0, "deep learning of the neural network and deep learning"),
        (1, "neural network training on a large corpus"),
        (2, "the corpus of deep learning"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["phrase"]: (r["n_occurrences"], r["rake_score"])
        for r in rake_keywords(df, top_k=10).collect()
    }

    phrases: list[list[str]] = []
    for _i, text in docs:
        cur: list[str] = []
        for w in text.lower().split():
            if w in RAKE_STOPWORDS:
                if cur:
                    phrases.append(cur)
                cur = []
            else:
                cur.append(w)
        if cur:
            phrases.append(cur)
    deg: dict[str, int] = {}
    freq: dict[str, int] = {}
    for p in phrases:
        for w in p:
            deg[w] = deg.get(w, 0) + len(p)
            freq[w] = freq.get(w, 0) + 1
    score = {w: deg[w] / freq[w] for w in deg}
    exp: dict[str, tuple] = {}
    for p in phrases:
        key = " ".join(p)
        s = sum(score[w] for w in p)
        n, _ = exp.get(key, (0, 0.0))
        exp[key] = (n + 1, round(s, 4))
    for phrase, (n, s) in got.items():
        assert exp[" ".join(phrase.split())][0] == n, phrase
        assert exp[" ".join(phrase.split())][1] == pytest.approx(
            s, abs=2e-4
        ), phrase
    # RAKE's documented long-phrase bias: the 3-word run outscores
    # every shorter candidate, and multi-word phrases beat singles
    assert max(got, key=lambda p: got[p][1]) == "neural network training"
    assert got["deep learning"][1] > got["corpus"][1]


def test_rake_top_k_cut_is_deterministic(spark):
    from eggv_spark.operators.text_analysis import rake_keywords

    df = spark.createDataFrame(
        [(i, f"alpha{i % 4} beta{i % 4} and gamma{i % 4}")
         for i in range(16)],
        ["doc_id", "text"],
    )
    a = [tuple(r) for r in rake_keywords(df, top_k=5).collect()]
    b = [tuple(r) for r in rake_keywords(df, top_k=5).collect()]
    assert a == b and len(a) == 5
