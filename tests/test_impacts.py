"""Impact sidecar (head-term early exit + theta seeding) — VERDICT r3 #1.

Public basis: Lucene 8 per-block impacts / Anh & Moffat 2006 impact
ordering; MaxScore essential lists Turtle & Flood 1995. Contract under
test: the sidecar fast path and the MaxScore block skipping NEVER change a
result — only how much gets decoded.
"""

import numpy as np
import pytest

from parser_indexer_spark.build import build_index
from parser_indexer_spark.config import EngineConfig
from parser_indexer_spark.manifest import CATALOG, IndexPaths
from parser_indexer_spark.oracle import OracleIndex
from parser_indexer_spark.search import Index

IMP_TURNS = 4000
IMP_CFG = EngineConfig(n_buckets=8, build_partitions=8,
                       salt_df_threshold=1000, n_salts=4, chunk_bits=9,
                       impact_df_threshold=50, impact_top=32)


@pytest.fixture(scope="module")
def imp_corpus():
    from parser_indexer_spark.transcripts import synthesize_pandas
    pdf = synthesize_pandas(IMP_TURNS)
    return pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


@pytest.fixture(scope="module")
def imp_index(spark, imp_corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("impidx") / "imp")
    df = spark.createDataFrame(imp_corpus.sample(frac=1.0, random_state=3))
    build_index(spark, df, out, IMP_CFG, segments=1, input_desc="imp")
    return out


@pytest.fixture(scope="module")
def imp_engine(spark, imp_index):
    return Index(spark, imp_index)


@pytest.fixture(scope="module")
def imp_oracle(imp_corpus):
    return OracleIndex(range(len(imp_corpus)), imp_corpus["text"].tolist())


def head_term(engine):
    """A term guaranteed sidecar-covered (df above the threshold)."""
    t = "spark"
    assert engine.term_stats([t])[t] > IMP_CFG.impact_df_threshold
    return t


def test_sidecar_written_with_bounds(spark, imp_engine, imp_index):
    man = imp_engine.manifest
    n_imp = man["segments"][0]["n_impact_terms"]
    assert n_imp > 0
    rows = imp_engine._impacts_df.toPandas()
    bounds = rows[rows["doc_id"] < 0]
    # every impact term has bound rows (incl. the tf=0 coverage marker)
    assert bounds["term"].nunique() == n_imp
    assert (bounds.groupby(["term", "seg"])["tf"].min() == 0).all()
    # every sidecar is capped at impact_top candidates per (term, seg)
    per = rows[rows["doc_id"] >= 0].groupby(["term", "seg"]).size()
    assert int(per.max()) <= IMP_CFG.impact_top
    # skyline rows carry one min-dl per distinct excluded tf
    t = per.idxmax()[0]
    bt = bounds[bounds["term"] == t]
    assert bt["tf"].is_unique
    assert (bt["dl"] >= 1).all()


def test_fast_path_taken_and_rank_identical(imp_engine, imp_oracle,
                                            monkeypatch):
    t = head_term(imp_engine)
    # the single-head-term query must be answered WITHOUT the distributed
    # scan: poison _search_terms and expect no call
    called = {}
    orig = imp_engine._search_terms

    def spy(*a, **kw):
        called["yes"] = True
        return orig(*a, **kw)

    monkeypatch.setattr(imp_engine, "_search_terms", spy)
    got = [(r.doc_id, r.score) for r in imp_engine.search(t, k=10).collect()]
    assert "yes" not in called, "sidecar fast path was not taken"
    exp = imp_oracle.search(t, k=10)
    assert [g[0] for g in got] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], rel=1e-9)


def test_fast_path_matches_full_scan_many_terms(imp_engine, request):
    rows = imp_engine._impacts_df.toPandas()
    terms = rows[rows["doc_id"] >= 0]["term"].drop_duplicates().tolist()[:8]

    def top5():
        return [[(r.doc_id, r.score)
                 for r in imp_engine.search(t, k=5).collect()]
                for t in terms]

    fast = top5()
    request.getfixturevalue("exhaustive")
    assert fast == top5()


def test_fallback_when_k_exceeds_sidecar(imp_engine, imp_oracle):
    t = head_term(imp_engine)
    k = IMP_CFG.impact_top + 10      # cannot be answered from the sidecar
    got = [r.doc_id for r in imp_engine.search(t, k=k).collect()]
    exp = [d for d, _ in imp_oracle.search(t, k=k)]
    assert got == exp


def test_fallback_under_doc_filter(imp_engine, imp_corpus, imp_oracle):
    t = head_term(imp_engine)
    got = [r.doc_id for r in
           imp_engine.search(t, k=10, doc_filter="role = 'user'").collect()]
    allowed = set(imp_corpus.index[imp_corpus["role"] == "user"])
    exp = [d for d, _ in imp_oracle.search(t, k=10 ** 9) if d in allowed][:10]
    assert got == exp


def test_no_separation_falls_back(spark, tmp_path):
    """Uniform corpus: every posting has identical (tf, dl), so the k-th
    sidecar score can never STRICTLY beat the rest bound — the fast path
    must return None and the full scan must still answer correctly."""
    import pandas as pd
    n = 300
    pdf = pd.DataFrame({
        "conv_id": [f"c{i:04d}" for i in range(n)],
        "turn_idx": [0] * n,
        "role": ["user"] * n,
        "text": ["alpha beta gamma"] * n,
        "tool": [""] * n,
        "ts": pd.Timestamp("2026-01-01"),
    })
    out = str(tmp_path / "uniform")
    cfg = EngineConfig(n_buckets=4, build_partitions=4, chunk_bits=6,
                       impact_df_threshold=20, impact_top=16)
    build_index(spark, spark.createDataFrame(pdf), out, cfg, segments=1)
    ix = Index(spark, out)
    dfs = ix.term_stats(["alpha"])
    assert dfs["alpha"] == n
    from parser_indexer_spark.search import bm25_idf
    idf_a = bm25_idf(n, n)
    assert ix._impact_topk(["alpha"], {"alpha": idf_a}, 10, "OR") is None
    got = [r.doc_id for r in ix.search("alpha", k=10).collect()]
    assert got == list(range(10))    # tie-break by doc_id ascending


def test_multi_segment_coverage_gap_falls_back(spark, imp_corpus, tmp_path):
    """Append a batch too small to re-cross the impact threshold: the term
    now has UNCOVERED postings in the new segment, so the fast path must
    detect the gap via the per-segment dicts and fall back — and the
    fallback must see the appended docs."""
    from parser_indexer_spark.incremental import append_segment
    out = str(tmp_path / "cov")
    head = imp_corpus.iloc[:2000]
    build_index(spark, spark.createDataFrame(head), out, IMP_CFG, segments=1)
    tail = imp_corpus.iloc[2000:2050].copy()
    tail["text"] = "spark " + tail["text"]
    append_segment(spark, out, spark.createDataFrame(tail), IMP_CFG)
    ix = Index(spark, out)
    assert len(ix.manifest["segments"]) == 2
    # term present in seg 1 but below threshold there
    segs = ix._segs_containing("spark")
    assert 1 in segs
    assert ix._impact_topk(["spark"], {"spark": 1.0}, 10, "OR") is None
    got = [r.doc_id for r in ix.search("spark", k=2100).collect()]
    # every appended doc contains 'spark' and must be found
    assert set(range(2000, 2050)).issubset(set(got))


def test_theta0_seed_lossless(imp_engine, request):
    """Multi-term queries: the sidecar theta0 seed must not change any
    result vs the unpruned exhaustive scan."""
    queries = [("spark join", "OR"), ("spark join", "AND"),
               ("hash agg scan", "OR"), ("window sort spark", "AND")]
    for q, mode in queries:
        terms = sorted(set(q.split()))
        dfs = imp_engine.term_stats(terms)
        live = [t for t in terms if dfs[t] > 0]
        if live:
            from parser_indexer_spark.search import bm25_idf
            idf = {t: bm25_idf(imp_engine.stats["n_docs"], dfs[t])
                   for t in live}
            th = imp_engine._impact_theta0(live, idf,
                                           imp_engine.stats["avg_dl"],
                                           10, mode)
            assert th >= 0.0

    def top10():
        return [[(r.doc_id, r.score) for r in
                 imp_engine.search(q, k=10, mode=mode).collect()]
                for q, mode in queries]

    seeded = top10()
    request.getfixturevalue("exhaustive")
    assert seeded == top10()


def test_theta0_is_positive_for_head_pair(imp_engine):
    """The seed actually fires for a two-head-term query (both terms have
    sidecars), giving the scorer a hot theta before any chunk is read."""
    from parser_indexer_spark.search import bm25_idf
    terms = sorted(["spark", "join"])
    dfs = imp_engine.term_stats(terms)
    idf = {t: bm25_idf(imp_engine.stats["n_docs"], dfs[t]) for t in terms}
    th_or = imp_engine._impact_theta0(terms, idf,
                                      imp_engine.stats["avg_dl"], 10, "OR")
    th_and = imp_engine._impact_theta0(terms, idf,
                                       imp_engine.stats["avg_dl"], 10, "AND")
    assert th_or > 0.0
    assert th_and >= 0.0


def test_compaction_rewrites_sidecars(spark, imp_corpus, tmp_path):
    """Tiered compaction of two sidecar-bearing segments produces a new
    segment whose sidecar covers the union (fast path stays available)."""
    from parser_indexer_spark.merge import compact_segments
    out = str(tmp_path / "cmp")
    build_index(spark, spark.createDataFrame(imp_corpus), out, IMP_CFG,
                segments=2)
    man = compact_segments(spark, out, [0, 1])
    assert len(man["segments"]) == 1
    new_seg = man["segments"][0]
    assert new_seg["n_impact_terms"] > 0
    ix = Index(spark, out)
    t = "spark"
    assert ix._impact_topk([t], {t: 1.0}, 5, "OR") is not None


# ------------------------------------------------ multi-term early exit ---

@pytest.fixture(scope="module")
def skew_index(spark, tmp_path_factory):
    """Corpus engineered so 2-term head queries separate: 30 joint docs
    carry both terms at high tf / short dl; 300 single-term docs per term
    carry tf=1 / long dl. With impact_top=64 both sidecars cover every
    joint doc and the excluded-posting bounds sit far below the joint
    scores."""
    import pandas as pd
    rows = []
    for i in range(30):
        rows.append(("alpha beta " * 3).strip())
    for i in range(300):
        rows.append("alpha " + " ".join(f"f{j}x" for j in range(11)))
    for i in range(300):
        rows.append("beta " + " ".join(f"g{j}x" for j in range(11)))
    for i in range(3):                      # genuine tail term (df=3)
        rows.append("alpha zcanary filler filler")
    pdf = pd.DataFrame({
        "conv_id": [f"c{i:05d}" for i in range(len(rows))],
        "turn_idx": [0] * len(rows),
        "role": ["user"] * len(rows),
        "text": rows,
        "tool": [""] * len(rows),
        "ts": pd.Timestamp("2026-01-01"),
    })
    cfg = EngineConfig(n_buckets=4, build_partitions=4, chunk_bits=7,
                       impact_df_threshold=20, impact_top=64)
    out = str(tmp_path_factory.mktemp("skew") / "skew")
    build_index(spark, spark.createDataFrame(pdf), out, cfg, segments=1)
    return out, pdf, cfg


def test_multi_term_fast_path_taken_and_identical(spark, skew_index,
                                                  monkeypatch):
    out, pdf, cfg = skew_index
    ix = Index(spark, out)
    orc = OracleIndex(range(len(pdf)), pdf["text"].tolist())
    called = {}
    orig = ix._search_terms

    def spy(*a, **kw):
        called["yes"] = True
        return orig(*a, **kw)

    monkeypatch.setattr(ix, "_search_terms", spy)
    for mode in ("OR", "AND"):
        got = [(r.doc_id, r.score) for r in
               ix.search("alpha beta", k=10, mode=mode).collect()]
        assert "yes" not in called, f"multi fast path not taken ({mode})"
        exp = orc.search("alpha beta", k=10, mode=mode)
        assert [g[0] for g in got] == [e[0] for e in exp], mode
        for g, e in zip(got, exp):
            assert g[1] == pytest.approx(e[1], rel=1e-9)


def test_multi_term_fast_path_matches_slow_scan(spark, skew_index,
                                                request):
    """Bit-for-bit score parity with the unpruned exhaustive scan (same
    frozen accumulation order)."""
    from parser_indexer_spark.search import bm25_idf
    out, pdf, cfg = skew_index
    ix = Index(spark, out)
    terms = ["alpha", "beta"]
    dfs = ix.term_stats(terms)
    idf = {t: bm25_idf(ix.stats["n_docs"], dfs[t]) for t in terms}
    fast = {}
    for mode in ("OR", "AND"):
        got = ix._impact_topk(terms, idf, 10, mode)
        assert got is not None, mode
        fast[mode] = [(r.doc_id, r.score) for r in got.collect()]
    request.getfixturevalue("exhaustive")
    for mode in ("OR", "AND"):
        assert fast[mode] == [(r.doc_id, r.score) for r in ix.search(
            "alpha beta", k=10, mode=mode).collect()], mode


def test_multi_term_no_separation_falls_back(spark, tmp_path):
    """Flat corpus: every doc carries every term identically, partial-
    coverage bounds equal the full-coverage sums — multi path must return
    None and the full scan must answer with doc_id tie-break."""
    import pandas as pd
    from parser_indexer_spark.search import bm25_idf
    n = 300
    pdf = pd.DataFrame({
        "conv_id": [f"c{i:04d}" for i in range(n)],
        "turn_idx": [0] * n,
        "role": ["user"] * n,
        "text": ["alpha beta gamma"] * n,
        "tool": [""] * n,
        "ts": pd.Timestamp("2026-01-01"),
    })
    out = str(tmp_path / "flat2")
    cfg = EngineConfig(n_buckets=4, build_partitions=4, chunk_bits=6,
                       impact_df_threshold=20, impact_top=16)
    build_index(spark, spark.createDataFrame(pdf), out, cfg, segments=1)
    ix = Index(spark, out)
    terms = ["alpha", "beta"]
    dfs = ix.term_stats(terms)
    idf = {t: bm25_idf(n, dfs[t]) for t in terms}
    assert ix._impact_topk(terms, idf, 10, "OR") is None
    got = [r.doc_id for r in
           ix.search("alpha beta", k=10, mode="AND").collect()]
    assert got == list(range(10))


def test_multi_term_complete_sidecars_exact(spark, tmp_path, request):
    """impact_top >= df for every term: the sidecars hold ALL postings
    (tf=0 markers only -> zero bounds), so even a flat corpus answers
    driver-side — including an AND result smaller than k."""
    import pandas as pd
    n = 60
    texts = (["alpha beta"] * 25 + ["alpha only0"] * 20
             + ["beta only1"] * 15)
    pdf = pd.DataFrame({
        "conv_id": [f"c{i:04d}" for i in range(n)],
        "turn_idx": [0] * n,
        "role": ["user"] * n,
        "text": texts,
        "tool": [""] * n,
        "ts": pd.Timestamp("2026-01-01"),
    })
    out = str(tmp_path / "complete")
    cfg = EngineConfig(n_buckets=4, build_partitions=4, chunk_bits=6,
                       impact_df_threshold=10, impact_top=64)
    build_index(spark, spark.createDataFrame(pdf), out, cfg, segments=1)
    ix = Index(spark, out)
    from parser_indexer_spark.search import bm25_idf
    terms = ["alpha", "beta"]
    dfs = ix.term_stats(terms)
    idf = {t: bm25_idf(n, dfs[t]) for t in terms}
    fast = {}
    for mode, n_match in (("OR", 60), ("AND", 25)):
        got = ix._impact_topk(terms, idf, 50, mode)
        assert got is not None, mode
        fast[mode] = [(r.doc_id, r.score) for r in got.collect()]
        assert len(fast[mode]) == min(50, n_match), mode
    request.getfixturevalue("exhaustive")
    for mode in ("OR", "AND"):
        assert fast[mode] == [(r.doc_id, r.score) for r in ix.search(
            "alpha beta", k=50, mode=mode).collect()], mode


def test_multi_term_dispatch_guards(spark, skew_index, monkeypatch):
    """Mixed head/tail terms, doc filters, and k > impact_top all bypass
    the multi fast path (full scan used)."""
    out, pdf, cfg = skew_index
    ix = Index(spark, out)
    called = {}
    orig = ix._search_terms

    def spy(*a, **kw):
        called["n"] = called.get("n", 0) + 1
        return orig(*a, **kw)

    monkeypatch.setattr(ix, "_search_terms", spy)
    # zcanary is a genuine tail term (df=3 < threshold): the dispatch
    # must not even consult the sidecars for a mixed head/tail query
    assert ix.term_stats(["zcanary"])["zcanary"] == 3
    ix.search("alpha zcanary", k=10, mode="OR").collect()
    assert called.get("n") == 1
    ix.search("alpha beta", k=10, mode="OR",
              doc_filter="role = 'user'").collect()
    assert called.get("n") == 2
    ix.search("alpha beta", k=cfg.impact_top + 1, mode="OR").collect()
    assert called.get("n") == 3


def test_driver_answers_keep_rank_order(imp_engine, monkeypatch):
    """Driver-side answers — the impact fast path's and the small-scan
    scorer's local relations — come back in (score desc, doc_id asc)
    order from collect(), toPandas(), limit() and fetch(), with no Spark
    sort in their plans."""
    t = head_term(imp_engine)
    called = []
    orig = imp_engine._search_terms

    def spy(*a, **kw):
        called.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(imp_engine, "_search_terms", spy)
    sidecar = imp_engine.search(t, k=10)
    assert not called, "sidecar fast path was not taken"
    scanned = imp_engine.search(t, k=IMP_CFG.impact_top + 8)
    assert called, "k > impact_top must take the scan"
    for df in (sidecar, scanned):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "Sort" not in plan
        rows = [(r.doc_id, r.score) for r in df.collect()]
        assert len(rows) > 3
        assert rows == sorted(rows, key=lambda x: (-x[1], x[0]))
        pdf = df.toPandas()
        assert list(zip(pdf["doc_id"], pdf["score"])) == rows
        assert [(r.doc_id, r.score) for r in df.limit(3).collect()] \
            == rows[:3]
        assert [(r.doc_id, r.score) for r in
                imp_engine.fetch(df).collect()] == rows


def test_complete_sidecar_answers_with_tombstones(spark, tmp_path,
                                                  monkeypatch, request):
    """A one-term top-k on a COMPLETE sidecar (it holds every posting of
    the term) is answered from the sidecar even after one of the term's
    docs is tombstoned and fewer live docs than k remain: the rows equal,
    bit for bit, the distributed scorer's, and the dead doc never
    returns."""
    import pandas as pd
    texts = ["alpha beta"] * 25 + ["alpha only0"] * 20 + ["beta only1"] * 15
    pdf = pd.DataFrame({
        "conv_id": [f"c{i:04d}" for i in range(len(texts))],
        "turn_idx": [0] * len(texts),
        "role": ["user"] * len(texts),
        "text": texts,
        "tool": [""] * len(texts),
        "ts": pd.Timestamp("2026-01-01"),
    })
    out = str(tmp_path / "complete_dead")
    cfg = EngineConfig(n_buckets=4, build_partitions=4, chunk_bits=6,
                       impact_df_threshold=10, impact_top=64)
    build_index(spark, spark.createDataFrame(pdf), out, cfg, segments=1)
    ix = Index(spark, out)
    dead = ix.search("alpha", k=1).collect()[0].doc_id
    ix.delete_docs([dead])
    from parser_indexer_spark.search import bm25_idf
    n_alpha = ix.term_stats(["alpha"])["alpha"]
    assert n_alpha == 45
    idf = {"alpha": bm25_idf(ix.stats["n_docs"], n_alpha)}
    k = 50                                  # > the 44 live alpha docs
    fast = ix._impact_topk(["alpha"], idf, k, "OR")
    assert fast is not None
    rows = [(r.doc_id, r.score) for r in fast.collect()]
    called = []
    orig = ix._search_terms
    monkeypatch.setattr(ix, "_search_terms",
                        lambda *a, **kw: called.append(1) or orig(*a, **kw))
    assert [(r.doc_id, r.score)
            for r in ix.search("alpha", k=k).collect()] == rows
    assert not called, "the sidecar did not answer"
    exchange = request.getfixturevalue("exchange_path")
    scanned = [(r.doc_id, r.score)
               for r in ix.search("alpha", k=k).collect()]
    assert called and exchange
    assert rows == scanned and len(rows) == n_alpha - 1
    assert dead not in {d for d, _ in rows}
