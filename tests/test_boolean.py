"""MUST_NOT + prefix queries on the fulltext path (VERDICT r4 #6)
[public: Lucene BooleanQuery MUST_NOT; Lucene PrefixQuery scoring
rewrite; Solr -term / wildcard]."""

import numpy as np
import pytest

from parser_indexer_spark.analyze import tokenize_py


def _contains(corpus, term):
    return {i for i, t in enumerate(corpus["text"])
            if term in tokenize_py(t)}


def test_must_not_masks_without_rescoring(engine, oracle, corpus):
    """Exclusion == post-filter of the unfiltered ranking: survivors keep
    bit-identical scores and order (Lucene MUST_NOT never scores)."""
    has_scan = _contains(corpus, "scan")
    assert has_scan
    for q, mode in [("spark join", "OR"), ("spark join", "AND")]:
        base = [(r.doc_id, r.score)
                for r in engine.search(q, k=10 ** 6, mode=mode).collect()]
        got = [(r.doc_id, r.score)
               for r in engine.search(q, k=10, mode=mode,
                                      must_not=["scan"]).collect()]
        exp = [(d, s) for d, s in base if d not in has_scan][:10]
        assert got == exp, (q, mode)
        assert not ({d for d, _ in got} & has_scan)


def test_must_not_multiple_and_unknown_terms(engine, corpus):
    ex1 = _contains(corpus, "scan") | _contains(corpus, "filter")
    got = {r.doc_id for r in engine.search(
        "spark", k=10 ** 6, must_not=["scan", "filter",
                                      "zzznosuchterm"]).collect()}
    assert got and not (got & ex1)


def test_must_not_same_term_and_mode(engine):
    """AND-required term also excluded -> nothing can match."""
    assert engine.search("spark join", k=10, mode="AND",
                         must_not=["spark"]).count() == 0


def test_must_not_pruned_equals_exhaustive(engine, request):
    a = [(r.doc_id, r.score) for r in engine.search(
        "spark join", k=10, must_not=["scan"]).collect()]
    request.getfixturevalue("exhaustive")
    b = [(r.doc_id, r.score) for r in engine.search(
        "spark join", k=10, must_not=["scan"]).collect()]
    assert a == b


def test_prefix_expands_to_scored_or(engine, oracle, corpus):
    """'sc*' == OR over every dictionary term with the prefix, ordinary
    BM25 scores (the oracle runs the expanded term list)."""
    exp_terms = engine.expand_prefix("sc")
    assert exp_terms and all(t.startswith("sc") for t in exp_terms)
    got = [(r.doc_id, r.score)
           for r in engine.search("sc*", k=10).collect()]
    exp = oracle.search(" ".join(exp_terms), k=10)
    assert [g[0] for g in got] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], rel=1e-9)


def test_prefix_mixed_with_plain_terms_and_must_not(engine, oracle, corpus):
    exp_terms = engine.expand_prefix("sc")
    base = oracle.search("join " + " ".join(exp_terms), k=10 ** 9)
    has_w = _contains(corpus, "window")
    exp = [(d, s) for d, s in base if d not in has_w][:10]
    got = [(r.doc_id, r.score)
           for r in engine.search("join sc*", k=10,
                                  must_not=["window"]).collect()]
    assert [g[0] for g in got] == [e[0] for e in exp]


def test_prefix_bounds_and_and_mode(engine):
    with pytest.raises(ValueError, match="expands to more"):
        engine.search("s*", k=10, max_expansions=2).collect()
    with pytest.raises(ValueError, match="OR-only"):
        engine.search("spark sc*", k=10, mode="AND").collect()
    # unknown prefix -> empty, not an error
    assert engine.search("zzznope*", k=10).count() == 0
