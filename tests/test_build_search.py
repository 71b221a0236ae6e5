"""M3-M6 tests — SURVEY.md §5.3-5.6: text-equality invariant, index
structure, BM25 oracle parity, BMW ≡ exhaustive, filters, salting."""

import functools
import glob

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from parser_indexer_spark import codec
from parser_indexer_spark.build import build_index, read_docs, read_postings, term_bucket
from parser_indexer_spark.config import EngineConfig
from parser_indexer_spark.oracle import OracleIndex
from parser_indexer_spark.search import Index
from parser_indexer_spark.transcripts import synthesize_pandas

from conftest import T_TINY_CFG as CFG  # shared t_tiny index params
from conftest import force_plan


# ------------------------------------------------- §5.3 invariant ----------

def test_per_turn_text_equality(spark, corpus, index_dir):
    """Doc store ordered by (conv_id, turn_idx) is row-identical (text
    byte-equal) to the source — BASELINE.json:15."""
    docs = (read_docs(spark, index_dir)
            .orderBy("conv_id", "turn_idx")
            .select("conv_id", "turn_idx", "text").toPandas())
    src = corpus[["conv_id", "turn_idx", "text"]].reset_index(drop=True)
    pd.testing.assert_frame_equal(docs, src)


def test_doc_ids_match_order(spark, index_dir):
    docs = read_docs(spark, index_dir).select("doc_id", "conv_id", "turn_idx") \
        .orderBy("doc_id").toPandas()
    assert docs["doc_id"].tolist() == list(range(len(docs)))
    keys = list(zip(docs["conv_id"], docs["turn_idx"]))
    assert keys == sorted(keys)


# ------------------------------------------------- §5.4 structure ----------

def _all_blocks(index_dir):
    import re
    import pyarrow.parquet as pq
    files = glob.glob(f"{index_dir}/postings/seg=*/bucket=*/*.parquet")
    parts = []
    for f in files:
        b = int(re.search(r"bucket=(\d+)", f).group(1))
        parts.append(pq.read_table(f).to_pandas().assign(bucket=b))
    return pd.concat(parts, ignore_index=True)


def test_postings_structure(index_dir, oracle):
    t = _all_blocks(index_dir)
    # chunk alignment + block size cap
    assert (t["num_docs"] <= CFG.block_size).all()
    f = t["first_doc_id"].to_numpy() >> CFG.chunk_bits
    l = t["last_doc_id"].to_numpy() >> CFG.chunk_bits
    assert (f == t["chunk"].to_numpy()).all() and (l == t["chunk"].to_numpy()).all()
    # bucket correctness
    assert all(term_bucket(r.term, CFG.n_buckets) == r.bucket
               for r in t.sample(min(500, len(t)), random_state=1).itertuples())
    # per-term: docs unique, ascending in-block, metadata true
    for term, g in t.groupby("term"):
        docs, tfs = [], []
        for r in g.itertuples():
            d = codec.delta_decode(codec.decode(r.docs_enc, r.num_docs), r.first_doc_id)
            tf = codec.decode(r.tfs_enc, r.num_docs)
            dl = codec.decode(r.dls_enc, r.num_docs)
            assert d[0] == r.first_doc_id and d[-1] == r.last_doc_id
            assert (np.diff(d) > 0).all()
            assert tf.max() == r.max_tf and dl.min() == r.min_dl
            assert tf.sum() == r.sum_tf
            docs.append(d); tfs.append(tf)
        alld = np.concatenate(docs)
        assert len(np.unique(alld)) == len(alld), f"dup docs for {term}"
        # df/cf match the single-node oracle's recount
        assert len(alld) == oracle.df[term]
        assert int(np.concatenate(tfs).sum()) == int(oracle.cf[term])


def test_dict_and_stats(spark, index_dir, oracle, engine):
    st = engine.stats
    assert st["n_docs"] == oracle.n_docs
    assert st["sum_dl"] == oracle.sum_dl
    assert abs(st["avg_dl"] - oracle.avg_dl) < 1e-12
    d = spark.read.parquet(f"{index_dir}/dict").toPandas()
    assert len(d) == len(oracle.df)
    got = dict(zip(d["term"], d["df"]))
    assert got == oracle.df


def test_stats_come_from_the_snapshot(spark, index_dir):
    """The corpus stats live in the committed manifest only: no separate
    stats file a reader could see out of step with the snapshot."""
    import os
    from parser_indexer_spark.manifest import load_manifest
    assert not os.path.exists(os.path.join(index_dir, "stats.json"))
    assert Index(spark, index_dir).stats == load_manifest(index_dir)["stats"]


def test_salting_was_exercised(engine):
    assert any(s["n_hot_terms_salted"] > 0 for s in engine.manifest["segments"]), \
        "Zipf corpus must trigger head-term salting (C11)"


# ------------------------------------------------- §5.5 BM25 parity --------

QUERIES = [
    ("spark", "OR"), ("w1999", "OR"), ("zzzunseen", "OR"),
    ("spark join", "OR"), ("sort merge", "OR"),
    ("spark join", "AND"), ("hash agg", "AND"),
    ("spark w0042 filter", "OR"), ("window partition order", "AND"),
    ("SPARK, Join!", "OR"), ("join join join", "OR"), ("w0000 w0001", "OR"),
    ("spark zzzunseen", "AND"),  # AND + absent term -> empty (ADVICE r1)
]


def test_and_absent_term_empty(engine, oracle):
    """Required-term semantics: AND containing an unknown term matches
    nothing — it must NOT silently degrade to the known-terms query."""
    assert engine.search("spark zzzunseen", k=10, mode="AND").count() == 0
    assert oracle.search("spark zzzunseen", k=10, mode="AND") == []
    # sanity: the same query in OR mode does match
    assert engine.search("spark zzzunseen", k=10, mode="OR").count() > 0


@pytest.mark.parametrize("q,mode", QUERIES)
def test_bm25_rank_identical(engine, oracle, q, mode):
    got = [(r.doc_id, r.score) for r in engine.search(q, k=10, mode=mode).collect()]
    exp = oracle.search(q, k=10, mode=mode)
    assert [g[0] for g in got] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], rel=1e-6)


def test_k_exceeds_matches(engine, oracle):
    got = [(r.doc_id, r.score) for r in engine.search("w1999", k=1000).collect()]
    exp = oracle.search("w1999", k=1000)
    assert [g[0] for g in got] == [e[0] for e in exp]


# ------------------------------------------------- §5.6 BMW ≡ exhaustive ---

@pytest.mark.parametrize("q,mode", QUERIES[:8])
def test_bmw_equals_exhaustive(engine, request, q, mode):
    a = [(r.doc_id, r.score) for r in engine.search(q, k=10, mode=mode).collect()]
    request.getfixturevalue("exhaustive")
    b = [(r.doc_id, r.score) for r in engine.search(q, k=10, mode=mode).collect()]
    assert a == b


# ------------------------------------------------- D9 filters --------------

def test_filter_role(spark, engine, oracle, corpus):
    got = [(r.doc_id, r.score) for r in
           engine.search("spark join", k=10, doc_filter="role = 'assistant'").collect()]
    allowed = set(corpus.index[corpus["role"] == "assistant"])
    exp = [(d, s) for d, s in oracle.search("spark join", k=10**9) if d in allowed][:10]
    assert [g[0] for g in got] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], rel=1e-6)


def test_filter_broadcast_keeps_truncation(spark, engine, corpus, request):
    """Selective filters ride INTO the scorer (broadcast sorted id set), so
    the plan has no post-scoring semi-join and pruning stays on; results
    equal the pruning-off run (WAND upper bounds remain valid under the
    filter)."""
    df = engine.search("spark join", k=10, doc_filter="role = 'assistant'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" not in plan  # broadcast path, not the fallback join
    a = [(r.doc_id, r.score) for r in df.collect()]
    request.getfixturevalue("exhaustive")
    b = [(r.doc_id, r.score) for r in
         engine.search("spark join", k=10,
                       doc_filter="role = 'assistant'").collect()]
    assert a == b and len(a) == 10


def test_filter_fallback_path_identical(monkeypatch, engine):
    """Huge filter sides fall back to the semi-join path; both paths must
    return identical results."""
    import parser_indexer_spark.search as searchmod
    want = [(r.doc_id, r.score) for r in
            engine.search("spark join", k=10,
                          doc_filter="role = 'assistant'").collect()]
    engine.close()  # drop the cached broadcast so the new limit applies
    monkeypatch.setattr(searchmod, "FILTER_BROADCAST_LIMIT", 1)
    df = engine.search("spark join", k=10, doc_filter="role = 'assistant'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan  # really took the fallback
    got = [(r.doc_id, r.score) for r in df.collect()]
    engine.close()  # drop the cached "too big" verdict taken under limit=1
    assert got == want


def test_filter_empty_allowed_set(engine):
    assert engine.search("spark join", k=10,
                         doc_filter="role = 'nosuchrole'").count() == 0


def test_scorer_streams_chunk_runs_with_carry():
    """Unit-level: the streaming scorer loop consumes chunk runs off the
    batch iterator with a carry; for the BM25 term scorer AND the phrase
    scorer, ragged batches that split chunks mid-run yield bit-identical
    results to a single batch, pruned == exhaustive, and the broadcast
    allowed-set filter applies pre-heap."""
    import types
    from parser_indexer_spark.build import _encode_rows
    from parser_indexer_spark.codec import varint_slices
    from parser_indexer_spark.search import _make_phrase_scorer, \
        _make_scorer, bm25_idf

    cfg = EngineConfig(block_size=16, chunk_bits=5, n_buckets=4)
    dl = 10 + np.arange(300, dtype=np.int64) % 7

    def rows(term, d, tf, first_pos):
        """Positional block rows: tf[i] positions first_pos, +2, +4, ..."""
        gaps = np.concatenate([[first_pos] + [2] * (int(t) - 1) for t in tf])
        pg = np.empty(d.size, dtype=object)
        pg[:] = varint_slices(gaps.astype(np.uint64),
                              np.concatenate(([0], np.cumsum(tf)[:-1])))
        return _encode_rows(np.array([term] * d.size, object), d, tf,
                            dl[d], cfg, pg=pg)

    # "a" at positions 0, 2, 4 (tf 1-3) of every doc; "b" at 1, 3 of even
    # docs: the phrase "a b" matches every even doc, phrase_tf = min(tf_a, 2)
    da = np.arange(300, dtype=np.int64)
    db = np.arange(0, 300, 2, dtype=np.int64)
    blocks = (pd.concat([rows("a", da, 1 + (da % 3), 0),
                         rows("b", db, np.full(150, 2, np.int64), 1)],
                        ignore_index=True)
              .sort_values(["chunk", "term"], kind="stable")
              .reset_index(drop=True))
    idf = {"a": bm25_idf(300, 300), "b": bm25_idf(300, 150)}
    scorers = {
        "term": (functools.partial(_make_scorer, terms=["a", "b"], idf=idf,
                                   mode="OR"), da),
        "phrase": (functools.partial(_make_phrase_scorer,
                                     phrase_terms=["a", "b"],
                                     idf_sum=idf["a"] + idf["b"], slop=0),
                   db),
    }
    for kind, (make, matching) in scorers.items():
        def run(batches, prune=True, truncate=True, allowed=None):
            bc = (types.SimpleNamespace(value=allowed)
                  if allowed is not None else None)
            sc = make(k1=1.2, b=0.75, avg_dl=10.0, k=10, prune=prune,
                      truncate=truncate, chunk_bits=5, allowed_bc=bc)
            out = pd.concat(list(sc(iter(batches))), ignore_index=True)
            return sorted(zip(out["doc_id"], out["score"]),
                          key=lambda x: (-x[1], x[0]))[:10 if truncate else None]

        exhaustive = run([blocks], prune=False, truncate=False)
        assert sorted(d for d, _ in exhaustive) == matching.tolist(), kind
        whole = run([blocks])
        assert whole == exhaustive[:10], kind
        cuts = [0, 3, 4, 9, 15, 16, 21, len(blocks)]  # ragged, splits chunks
        split = [blocks.iloc[a:b] for a, b in zip(cuts, cuts[1:])]
        assert run(split) == whole, kind
        assert run(split, prune=False) == whole, kind  # BMW lossless
        # allowed-set filter pre-heap == post-hoc filter of exhaustive scores
        allowed = np.arange(0, 300, 3, dtype=np.int64)
        expect = [x for x in exhaustive if x[0] % 3 == 0][:10]
        assert run(split, allowed=allowed) == expect, kind


@pytest.mark.parametrize("q,mode", QUERIES[:8])
def test_theta_seeding_lossless(engine, monkeypatch, q, mode):
    """Cross-executor WAND θ seeding (D8 v2): forcing the driver-side seed
    must return exactly the unseeded results — θ0 is an achieved k-th score,
    so pruning against it is lossless."""
    def run(**plan):
        with monkeypatch.context() as mp:
            force_plan(mp, **plan)
            return [(r.doc_id, r.score) for r in
                    engine.search(q, k=10, mode=mode).collect()]

    assert run(seed_scan=True) == run(seed_sidecar=False, seed_scan=False)


def test_search_after_deep_paging(engine, request):
    """D11 cursorMark analogue on the BM25 path: page1 + page2-via-cursor
    == one k=20 search; the cursor round-trips exactly (deterministic
    float64 scores), and pruning stays lossless under the cursor."""
    full = [(r.doc_id, r.score) for r in engine.search("spark join", k=20).collect()]
    p1 = full[:10]
    cursor = (p1[-1][1], p1[-1][0])  # (score, doc_id) of page 1's last hit
    p2 = [(r.doc_id, r.score) for r in
          engine.search("spark join", k=10, after=cursor).collect()]
    assert p1 + p2 == full
    # paging composes with filters
    f1 = [(r.doc_id, r.score) for r in
          engine.search("spark join", k=20, doc_filter="role = 'user'").collect()]
    fc = (f1[9][1], f1[9][0])
    f2 = [(r.doc_id, r.score) for r in
          engine.search("spark join", k=10, doc_filter="role = 'user'",
                        after=fc).collect()]
    assert f1[:10] + f2 == f1
    request.getfixturevalue("exhaustive")
    p2_noprune = [(r.doc_id, r.score) for r in
                  engine.search("spark join", k=10, after=cursor).collect()]
    assert p2 == p2_noprune


def test_stopword_index_end_to_end(spark, corpus, tmp_path):
    """Opt-in stopword analyzer: build with a stop list, manifest records
    the bumped analyzer_version + the list, queries match an OracleIndex
    using the same list, stopword-only queries match nothing, and the
    stored text stays byte-identical (B1 invariant is analyzer-independent)."""
    from dataclasses import replace
    from conftest import T_TINY_CFG
    stop = ("spark", "the")
    cfg = replace(T_TINY_CFG, stopwords=stop, analyzer_version="")
    assert cfg.analyzer_version.endswith("+stop2")
    out = str(tmp_path / "stopidx")
    build_index(spark, spark.createDataFrame(corpus), out, cfg, segments=1)
    ix = Index(spark, out)
    assert tuple(ix.cfg.stopwords) == ("spark", "the")
    assert ix.manifest["config"]["analyzer_version"].endswith("+stop2")
    orc = OracleIndex(range(len(corpus)), corpus["text"].tolist(),
                      stopwords=stop)
    for q, mode in [("spark join", "OR"), ("join filter", "OR"),
                    ("hash agg", "AND")]:
        got = [(r.doc_id, r.score) for r in ix.search(q, k=10, mode=mode).collect()]
        exp = orc.search(q, k=10, mode=mode)
        assert [g[0] for g in got] == [e[0] for e in exp]
        for g, e in zip(got, exp):
            assert g[1] == pytest.approx(e[1], rel=1e-6)
    assert ix.search("spark", k=10).count() == 0  # stopword matches nothing
    docs = (read_docs(spark, out).orderBy("conv_id", "turn_idx")
            .select("conv_id", "turn_idx", "text").toPandas())
    pd.testing.assert_frame_equal(
        docs, corpus[["conv_id", "turn_idx", "text"]].reset_index(drop=True))


def test_fetch_stored_fields(engine, corpus):
    top = engine.search("spark join", k=5)
    rows = engine.fetch(top).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.text == corpus.loc[r.doc_id, "text"]


def test_highlight(engine):
    rows = engine.highlight("spark join", k=5).collect()
    assert len(rows) == 5
    assert all("<mark>" in r.snippet for r in rows)
    assert any("<mark>spark</mark>" in r.snippet or "<mark>join</mark>" in r.snippet
               for r in rows)
