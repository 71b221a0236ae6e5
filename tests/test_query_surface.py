"""Round-5 query-surface additions: mixed MUST+SHOULD Boolean queries,
fuzzy expansion, phrase MUST_NOT, fielded must/must_not, and the
Lucene-classic query-string router [public: Lucene classic QueryParser /
BooleanQuery / FuzzyQuery; Solr lucene QParser]."""

import numpy as np
import pytest

from parser_indexer_spark.analyze import tokenize_py
from parser_indexer_spark.build import build_index
from parser_indexer_spark.config import EngineConfig
from parser_indexer_spark.querystring import parse_query
from parser_indexer_spark.search import Index

from conftest import EXHAUSTIVE, force_plan


def _contains(corpus, term, field="text"):
    return {i for i, t in enumerate(corpus[field])
            if t is not None and term in tokenize_py(t)}


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


# ------------------------------------------------------ mixed MUST+SHOULD --

def test_must_mixed_vs_oracle(engine, oracle):
    """'+spark join scan' == docs containing spark, scored over all three
    terms — rank- and score-identical to the brute-force oracle."""
    got = [(r.doc_id, r.score)
           for r in engine.search("join scan", k=25,
                                  must=["spark"]).collect()]
    exp = oracle.search("join scan", k=25, must=["spark"])
    assert [g[0] for g in got] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], rel=1e-9)


def test_must_candidates_are_exactly_must_docs(engine, oracle, corpus):
    has = _contains(corpus, "spark")
    got = {r.doc_id for r in engine.search("join scan", k=10 ** 6,
                                           must=["spark"]).collect()}
    assert got == has  # every spark doc scores (>=0 via the must term)


def test_must_all_terms_collapses_to_and(engine):
    a = [(r.doc_id, r.score) for r in
         engine.search("spark join", k=10, mode="AND").collect()]
    b = [(r.doc_id, r.score) for r in
         engine.search("spark join", k=10,
                       must=["spark", "join"]).collect()]
    assert a == b


def test_must_absent_term_matches_nothing(engine):
    assert engine.search("spark join", k=10,
                         must=["zzznosuchterm"]).count() == 0


def test_must_word_joins_scored_terms(engine, oracle):
    """A must word not present in the query string still scores."""
    got = [(r.doc_id, r.score)
           for r in engine.search("join", k=15, must=["spark"]).collect()]
    spark_docs = set(oracle.postings["spark"][0].tolist())
    exp = [(d, s) for d, s in oracle.search("join spark", k=10 ** 6)
           if d in spark_docs][:15]
    assert [g[0] for g in got] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], rel=1e-9)


def test_must_with_must_not(engine, oracle, corpus):
    ex = _contains(corpus, "window")
    base = oracle.search("join scan", k=10 ** 6, must=["spark"])
    exp = [(d, s) for d, s in base if d not in ex][:10]
    got = [(r.doc_id, r.score)
           for r in engine.search("join scan", k=10, must=["spark"],
                                  must_not=["window"]).collect()]
    assert [g[0] for g in got] == [e[0] for e in exp]


def test_must_pruned_and_seeded_equal_exhaustive(engine, monkeypatch):
    def run(**plan):
        with monkeypatch.context() as mp:
            force_plan(mp, **plan)
            return [(r.doc_id, round(r.score, 9)) for r in
                    engine.search("join scan", k=10,
                                  must=["spark"]).collect()]

    base = run(**EXHAUSTIVE)
    for plan in ({}, {"seed_scan": True}):
        assert run(**plan) == base, plan


def test_must_pruned_and_seeded_equal_exhaustive_fine_grid(fine_engine,
                                                          monkeypatch):
    test_must_pruned_and_seeded_equal_exhaustive(fine_engine, monkeypatch)


def test_must_with_filter_and_paging(engine, oracle, corpus):
    """required terms compose with doc_filter and the keyset cursor."""
    p1 = engine.search("join scan", k=5, must=["spark"]).collect()
    cur = (p1[-1]["score"], p1[-1]["doc_id"])
    p2 = [(r.doc_id, r.score)
          for r in engine.search("join scan", k=5, must=["spark"],
                                 after=cur).collect()]
    exp = oracle.search("join scan", k=10 ** 6, must=["spark"])
    assert [(d, pytest.approx(s, rel=1e-9)) for d, s in exp[5:10]] \
        == [(d, s) for d, s in p2]


# ------------------------------------------------------------------ fuzzy --

def test_expand_fuzzy_matches_brute_force(engine, oracle):
    vocab = sorted(oracle.df)
    for word, dist in [("spark", 1), ("spark", 2), ("joim", 1)]:
        exp = sorted((t for t in vocab if _lev(t, word) <= dist),
                     key=lambda t: (_lev(t, word), t))[:50]
        got = engine.expand_fuzzy(word, max_dist=dist)
        assert got == exp, (word, dist)


def test_expand_fuzzy_short_word_full_scan(engine, oracle):
    """len(word)-1-2d < 1: the bigram filter would be lossy, so the full
    dictionary is scanned — still exact vs brute force."""
    vocab = sorted(oracle.df)
    word = "ab"
    exp = sorted((t for t in vocab if _lev(t, word) <= 2),
                 key=lambda t: (_lev(t, word), t))[:50]
    assert engine.expand_fuzzy(word, max_dist=2) == exp


def test_expand_fuzzy_cap_keeps_closest(engine, oracle):
    """'w0000' has many distance-2 neighbours (the wNNNN vocab); the cap
    keeps the closest, (distance, term)-ordered."""
    vocab = sorted(oracle.df)
    exp = sorted((t for t in vocab if _lev(t, "w0000") <= 2),
                 key=lambda t: (_lev(t, "w0000"), t))
    assert len(exp) > 3
    got = engine.expand_fuzzy("w0000", max_dist=2, max_expansions=3)
    assert got == exp[:3]


@pytest.fixture
def dict_scan(engine, monkeypatch):
    """The engine expanding over the Spark dictionary scan, as a handle
    whose vocabulary is above DICT_PRELOAD_LIMIT does."""
    from parser_indexer_spark import search
    monkeypatch.setattr(search, "DICT_PRELOAD_LIMIT", 0)
    monkeypatch.setattr(engine, "_dict_preloaded", False)
    return engine


def test_expand_fuzzy_matches_brute_force_dict_scan(dict_scan, oracle):
    test_expand_fuzzy_matches_brute_force(dict_scan, oracle)


def test_expand_fuzzy_short_word_full_scan_dict_scan(dict_scan, oracle):
    test_expand_fuzzy_short_word_full_scan(dict_scan, oracle)


def test_expand_fuzzy_cap_keeps_closest_dict_scan(dict_scan, oracle):
    test_expand_fuzzy_cap_keeps_closest(dict_scan, oracle)


# ----------------------------------------------------------- phrase + NOT --

def test_phrase_must_not_masks_without_rescoring(engine, corpus):
    base = [(r.doc_id, r.score)
            for r in engine.phrase("spark join", k=10 ** 6).collect()]
    ex = _contains(corpus, "scan")
    exp = [(d, s) for d, s in base if d not in ex][:10]
    got = [(r.doc_id, r.score)
           for r in engine.phrase("spark join", k=10,
                                  must_not=["scan"]).collect()]
    assert got == exp
    # excluding a phrase term itself -> nothing survives
    assert engine.phrase("spark join", k=10,
                         must_not=["spark"]).count() == 0


def _phrase_must_not_lossless(engine, request, q, slop):
    a = [(r.doc_id, r.score) for r in engine.phrase(
        q, k=10, slop=slop, must_not=["scan"]).collect()]
    request.getfixturevalue("exhaustive")
    b = [(r.doc_id, r.score) for r in engine.phrase(
        q, k=10, slop=slop, must_not=["scan"]).collect()]
    assert a == b


def test_phrase_must_not_pruned_equals_exhaustive(engine, request):
    _phrase_must_not_lossless(engine, request, "spark join", 0)


@pytest.mark.parametrize("q,slop", [("spark join", 0),
                                    ("spark join filter", 3)])
def test_phrase_must_not_pruned_equals_exhaustive_fine_grid(
        fine_engine, request, q, slop):
    _phrase_must_not_lossless(fine_engine, request, q, slop)


# ------------------------------------------------------- fielded must/not --

@pytest.fixture(scope="module")
def fielded(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fielded_qs") / "idx")
    cfg = EngineConfig(n_buckets=8, build_partitions=8, chunk_bits=9,
                       fields=("role", "tool"))
    df = spark.createDataFrame(corpus.sample(frac=1.0, random_state=7))
    build_index(spark, df, out, cfg, segments=2)
    return Index(spark, out)


def test_search_fields_must_not(fielded, corpus):
    base = [(r.doc_id, r.score) for r in fielded.search_fields(
        {"text": "spark join"}, k=10 ** 6).collect()]
    ex = _contains(corpus, "user", field="role")
    exp = [(d, s) for d, s in base if d not in ex][:10]
    got = [(r.doc_id, r.score) for r in fielded.search_fields(
        {"text": "spark join"}, k=10,
        must_not={"role": "user"}).collect()]
    assert got == exp


def test_search_fields_must(fielded, corpus):
    base = [(r.doc_id, r.score) for r in fielded.search_fields(
        {"text": "spark join", "role": "user"}, k=10 ** 6).collect()]
    has = _contains(corpus, "user", field="role")
    exp = [(d, s) for d, s in base if d in has][:10]
    got = [(r.doc_id, r.score) for r in fielded.search_fields(
        {"text": "spark join"}, k=10, must={"role": "user"}).collect()]
    assert got == exp


def test_search_fields_must_absent_empty(fielded):
    assert fielded.search_fields({"text": "spark"}, k=5,
                                 must={"role": "zzznope"}).count() == 0


# ------------------------------------------------------------- the router --

def test_query_router_parity_terms(engine):
    a = [(r.doc_id, r.score)
         for r in engine.query("+spark join -scan", k=10).collect()]
    b = [(r.doc_id, r.score)
         for r in engine.search("join", k=10, must=["spark"],
                                must_not=["scan"]).collect()]
    assert a == b and a


def test_query_router_parity_phrase(engine):
    a = [(r.doc_id, r.score)
         for r in engine.query('"spark join"~1 -scan', k=10).collect()]
    b = [(r.doc_id, r.score)
         for r in engine.phrase("spark join", k=10, slop=1,
                                must_not=["scan"]).collect()]
    assert a == b


def test_query_router_parity_prefix_fuzzy(engine):
    a = [(r.doc_id, r.score)
         for r in engine.query("sc* joim~1", k=10).collect()]
    exp_terms = (set(engine.expand_prefix("sc"))
                 | set(engine.expand_fuzzy("joim", 1)))
    b = [(r.doc_id, r.score)
         for r in engine.search(" ".join(sorted(exp_terms)),
                                k=10).collect()]
    assert a == b and a


def test_query_router_parity_fielded(fielded):
    a = [(r.doc_id, r.score) for r in fielded.query(
        "spark join +role:user -tool:search", k=10).collect()]
    b = [(r.doc_id, r.score) for r in fielded.search_fields(
        {"text": "spark join"}, k=10, must={"role": "user"},
        must_not={"tool": "search"}).collect()]
    assert a == b


def test_query_router_fielded_boost(fielded):
    a = [(r.doc_id, r.score) for r in fielded.query(
        "spark role:user^2", k=10).collect()]
    b = [(r.doc_id, r.score) for r in fielded.search_fields(
        {"text": "spark", "role": "user"}, boosts={"role": 2.0},
        k=10).collect()]
    assert a == b


def test_query_router_pure_negative_empty(engine):
    assert engine.query("-spark", k=10).count() == 0
    assert engine.query("", k=10).count() == 0


def test_query_router_rejections(engine):
    with pytest.raises(ValueError, match="phrase clause"):
        engine.query('spark "sort merge"', k=5).collect()
    with pytest.raises(ValueError, match="prefix/wildcard/range/fuzzy"):
        engine.query("role:user spar*", k=5).collect()
    with pytest.raises(ValueError, match="parenthesised"):
        engine.query("(a b)", k=5)
    with pytest.raises(ValueError, match="operator"):
        engine.query("a AND b", k=5)


# ------------------------------------------------------------- the parser --

def test_parse_query_clauses():
    p = parse_query('+spark join -scan "sort merge"~2 spar* databse~1 '
                    'source:src7^2')
    kinds = [(c.occur, c.kind, c.text) for c in p.clauses]
    assert kinds == [("MUST", "term", "spark"),
                     ("SHOULD", "term", "join"),
                     ("MUST_NOT", "term", "scan"),
                     ("SHOULD", "phrase", "sort merge"),
                     ("SHOULD", "prefix", "spar"),
                     ("SHOULD", "fuzzy", "databse"),
                     ("SHOULD", "term", "src7")]
    assert p.clauses[3].slop == 2
    assert p.clauses[5].max_dist == 1
    assert p.clauses[6].field == "source" and p.clauses[6].boost == 2.0


def test_parse_query_fuzzy_default_distance():
    assert parse_query("word~").clauses[0].max_dist == 2
