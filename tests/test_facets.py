"""Field faceting over a query's full match set (r5) [public: Solr
facet.field]. Contract: counts computed over EVERY matching doc (not the
top-k page), null facet values dropped, tombstones masked, filters and
Boolean modifiers respected — all verified against brute-force pandas
counts over the corpus.
"""

import pandas as pd
import pytest

from parser_indexer_spark.analyze import tokenize_py


def _matches(corpus, terms, mode="OR"):
    out = []
    for i, t in enumerate(corpus["text"]):
        toks = set(tokenize_py(t))
        hit = bool(terms & toks) if mode == "OR" else terms <= toks
        if hit:
            out.append(i)
    return out


def _counts(corpus, rows, col):
    s = corpus.iloc[rows][col].dropna()
    return {k: int(v) for k, v in s.value_counts().items()}


def test_facets_count_full_match_set(engine, corpus):
    rows = _matches(corpus, {"spark", "join"})
    got = engine.search_facets("spark join", ["role", "tool"]).collect()
    for col in ("role", "tool"):
        g = {r.value: r.n for r in got if r.field == col}
        assert g == _counts(corpus, rows, col), col


def test_facets_and_mode(engine, corpus):
    rows = _matches(corpus, {"spark", "join"}, mode="AND")
    assert rows  # fixture must have conjunctive matches
    got = engine.search_facets("spark join", ["role"], mode="AND").collect()
    g = {r.value: r.n for r in got if r.field == "role"}
    assert g == _counts(corpus, rows, "role")


def test_facets_respect_doc_filter_and_must_not(engine, corpus):
    base = _matches(corpus, {"join"})
    excl = {i for i, t in enumerate(corpus["text"])
            if "spark" in tokenize_py(t)}
    rows = [i for i in base if i not in excl
            and corpus.iloc[i]["role"] == "user"]
    got = engine.search_facets("join", ["tool"], doc_filter="role = 'user'",
                               must_not=["spark"]).collect()
    g = {r.value: r.n for r in got if r.field == "tool"}
    assert g == _counts(corpus, rows, "tool")


def test_facets_empty_query_and_validation(engine):
    assert engine.search_facets("zzzabsentterm", ["role"]).count() == 0
    with pytest.raises(ValueError, match="non-empty"):
        engine.search_facets("spark", [])


def test_facet_range_counts_full_match_set(engine, corpus):
    """facet.range analogue: bucket floors over every match, out-of-range
    dropped — vs brute-force pandas bucketing."""
    rows = _matches(corpus, {"spark", "join"})
    got = {r.bucket_lo: r.n
           for r in engine.search_facet_range("spark join", "turn_idx",
                                              0, 40, 4).collect()}
    exp = {}
    for v in corpus.iloc[rows]["turn_idx"]:
        if 0 <= v < 40:
            exp[(int(v) // 4) * 4] = exp.get((int(v) // 4) * 4, 0) + 1
    assert got == exp
    assert got  # fixture must actually populate buckets


def test_facet_range_validation(engine):
    with pytest.raises(ValueError, match="gap > 0"):
        engine.search_facet_range("spark", "turn_idx", 0, 40, 0)
    with pytest.raises(ValueError, match="end > start"):
        engine.search_facet_range("spark", "turn_idx", 40, 40, 4)
    with pytest.raises(ValueError, match="integer"):
        engine.search_facet_range("spark", "turn_idx", 0.0, 40, 4)


def test_export_matches_full_set_with_columns(engine, oracle, corpus):
    """/export analogue: every match, exact score, doc-store column
    joined in — vs the exhaustive oracle + pandas lookup."""
    got = {(r.doc_id, round(r.score, 6), r.role)
           for r in engine.export_matches("spark join",
                                          columns=("role",)).collect()}
    exp = {(d, round(s, 6), corpus.iloc[d]["role"])
           for d, s in oracle.search("spark join", k=10 ** 9)}
    assert got == exp


def test_export_respects_modifiers(engine, corpus):
    got = {r.doc_id for r in engine.export_matches(
        "join", doc_filter="role = 'user'", must_not=["spark"]).collect()}
    base = set(_matches(corpus, {"join"}))
    excl = set(_matches(corpus, {"spark"}))
    exp = {i for i in base - excl if corpus.iloc[i]["role"] == "user"}
    assert got == exp


def test_facet_pivot_counts(engine, corpus):
    rows = _matches(corpus, {"spark", "join"})
    sub = corpus.iloc[rows][["role", "tool"]].dropna()
    exp = {(a, b): int(n) for (a, b), n in
           sub.groupby(["role", "tool"]).size().items()}
    got = {(r.value_a, r.value_b): r.n
           for r in engine.search_facet_pivot("spark join", "role",
                                              "tool").collect()}
    assert got == exp


def test_collapse_best_hit_per_group(engine, oracle, corpus):
    """CollapsingQParser analogue: one best (score desc, doc_id asc) hit
    per group value, then top-k over the representatives — vs the
    exhaustive oracle collapsed in pandas."""
    full = oracle.search("spark join", k=10 ** 9)  # (doc, score) ordered
    best = {}
    for d, s in full:
        g = corpus.iloc[d]["role"]
        if g not in best:
            best[g] = (d, s)
    exp = sorted(best.values(), key=lambda t: (-t[1], t[0]))[:10]
    got = [(r.doc_id, r.score, r.role)
           for r in engine.search_collapse("spark join", "role",
                                           k=10).collect()]
    assert [g[0] for g in got] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], rel=1e-9)
        assert g[2] == corpus.iloc[e[0]]["role"]
    # one row per distinct group value among matches, capped at k
    assert len(got) == min(10, len(best))


def test_facet_stats_matches_pandas(engine, corpus):
    rows = _matches(corpus, {"spark", "join"})
    vals = corpus.iloc[rows]["turn_idx"].dropna()
    r = engine.search_facet_stats("spark join", "turn_idx").collect()[0]
    assert r.n == len(vals)
    assert r.sum_v == int(vals.sum())
    assert r.min_v == int(vals.min())
    assert r.max_v == int(vals.max())
    assert r.avg_v == pytest.approx(float(vals.mean()), rel=1e-12)


def test_sort_by_field_over_full_match_set(engine, oracle, corpus):
    """Solr sort=field asc analogue: the k lowest-turn_idx matches of the
    FULL match set (not the k most relevant), doc_id tiebreak."""
    full = oracle.search("spark join", k=10 ** 9)
    exp = sorted(((corpus.iloc[d]["turn_idx"], d, s) for d, s in full),
                 key=lambda t: (t[0], t[1]))[:10]
    got = [(r.turn_idx, r.doc_id, r.score)
           for r in engine.search_sort_by("spark join", "turn_idx",
                                          k=10).collect()]
    assert [(g[0], g[1]) for g in got] == [(e[0], e[1]) for e in exp]
    for g, e in zip(got, exp):
        assert g[2] == pytest.approx(e[2], rel=1e-9)
    # descending flips the order key, same tiebreak
    got_d = [(r.turn_idx, r.doc_id)
             for r in engine.search_sort_by("spark join", "turn_idx",
                                            k=10, ascending=False).collect()]
    exp_d = sorted(((corpus.iloc[d]["turn_idx"], d) for d, s in full),
                   key=lambda t: (-t[0], t[1]))[:10]
    assert got_d == exp_d


def test_boosted_search_function_score(engine, oracle, corpus):
    """Solr boost=/bf= analogue: top-k by bm25 * f(doc) (or + f(doc)),
    over the FULL match set — vs the exhaustive oracle boosted in
    pandas. Includes the null-boost neutral-element contract."""
    full = oracle.search("spark join", k=10 ** 9)

    def page(keyed):
        return sorted(keyed, key=lambda t: (-t[1], t[0]))[:10]

    # multiplicative length prior
    exp = page([(d, s * (0.5 + corpus.iloc[d]["turn_idx"] / 40.0))
                for d, s in full])
    got = [(r.doc_id, r.score)
           for r in engine.search_boosted("spark join",
                                          "0.5 + turn_idx / 40.0",
                                          k=10).collect()]
    assert [g[0] for g in got] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], rel=1e-9)
    # additive (Solr bf)
    exp_a = page([(d, s + corpus.iloc[d]["turn_idx"] * 0.01)
                  for d, s in full])
    got_a = [(r.doc_id, r.score)
             for r in engine.search_boosted("spark join",
                                            "turn_idx * 0.01", k=10,
                                            additive=True).collect()]
    assert [g[0] for g in got_a] == [e[0] for e in exp_a]
    # null boost value -> neutral element (1.0 multiplicative)
    exp_n = page([(d, s * (1.0 if corpus.iloc[d]["role"] == "user"
                           else 2.0)) for d, s in full])
    got_n = [(r.doc_id, r.score) for r in engine.search_boosted(
        "spark join",
        "CASE WHEN role = 'user' THEN NULL ELSE 2.0 END",
        k=10).collect()]
    assert [g[0] for g in got_n] == [e[0] for e in exp_n]
    for g, e in zip(got_n, exp_n):
        assert g[1] == pytest.approx(e[1], rel=1e-9)


def test_unsorted_search_equals_sorted_set(engine, oracle):
    """export_matches returns exactly the full match set with exact
    scores (the facet path's correctness core): same (doc_id, score)
    multiset as the exhaustive oracle."""
    got = {(r.doc_id, round(r.score, 9))
           for r in engine.export_matches("spark join").collect()}
    exp = {(d, round(s, 9)) for d, s in oracle.search("spark join",
                                                      k=10 ** 9)}
    assert got == exp
