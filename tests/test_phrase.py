"""Phrase / proximity queries over positional postings (D-phrase).

Engine semantics under test (search.py Index.phrase): chained-gap matches
(every adjacent gap in [1, slop+1]), phrase scored as one pseudo-term
idf_sum * tf_norm(phrase_tf, dl). Oracle = OracleIndex.phrase (brute-force
per-doc scan over the raw token lists).
"""

import numpy as np
import pandas as pd
import pytest

from parser_indexer_spark.config import EngineConfig

from conftest import EXHAUSTIVE, force_plan

PHRASES = [
    ("spark join", 0),
    ("join spark", 0),
    ("spark join", 2),
    ("spark join filter", 3),
    ("hash agg", 1),
]


def _rows(df):
    return [(r.doc_id, r.score) for r in df.collect()]


@pytest.mark.parametrize("q,slop", PHRASES)
def test_phrase_matches_oracle(engine, oracle, q, slop):
    got = _rows(engine.phrase(q, k=10, slop=slop))
    exp = oracle.phrase(q, k=10, slop=slop)
    assert [g[0] for g in got] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], rel=1e-9)


def _bmw_lossless(engine, monkeypatch, q, slop):
    a = _rows(engine.phrase(q, k=10, slop=slop))
    for plan in (EXHAUSTIVE, dict(driver=False, tasks=2),
                 dict(driver=False, tasks=16)):
        with monkeypatch.context() as mp:
            force_plan(mp, **plan)
            assert a == _rows(engine.phrase(q, k=10, slop=slop)), plan


def _seed_lossless(engine, monkeypatch, q, slop):
    def run(**plan):
        with monkeypatch.context() as mp:
            force_plan(mp, **plan)
            return _rows(engine.phrase(q, k=10, slop=slop))

    seeded = run(seed_scan=True)
    assert seeded == run(seed_scan=False)
    assert seeded == run(**EXHAUSTIVE)


def test_phrase_bmw_lossless_and_parallelism_invariant(engine, monkeypatch):
    _bmw_lossless(engine, monkeypatch, "spark join", 0)


def test_phrase_theta_seed_lossless(engine, monkeypatch):
    """Seeded phrase == unseeded == exhaustive (the seed is an achieved
    k-th score of one chunk, so pruning against it is lossless)."""
    for q, slop in [("spark join", 0), ("filter window", 2)]:
        _seed_lossless(engine, monkeypatch, q, slop)
    # the seed itself is positive when every term co-occurs in some chunk
    from parser_indexer_spark.search import bm25_idf
    uniq = sorted({"spark", "join"})
    dfs = engine.term_stats(uniq)
    idf_sum = sum(bm25_idf(engine.stats["n_docs"], dfs[t]) for t in uniq)
    blocks = (engine._postings_df
              .where(engine._postings_df.term.isin(uniq))
              .select("term", "chunk", "first_doc_id", "num_docs",
                      "max_tf", "min_dl", "docs_enc", "tfs_enc",
                      "dls_enc", "pos_enc"))
    th = engine._seed_theta_phrase(blocks, uniq, ["spark", "join"],
                                   idf_sum, engine.stats["avg_dl"], 5, 0)
    assert th > 0.0


# On the fine chunk grid the three-term phrase's block-max bound is tight
# enough that a lossy skip (e.g. against 1.25θ) changes its top-k.
FINE_PHRASES = [("spark join", 0), ("filter window", 2),
                ("spark join filter", 3)]


@pytest.mark.parametrize("q,slop", FINE_PHRASES)
def test_phrase_bmw_lossless_fine_grid(fine_engine, monkeypatch, q, slop):
    _bmw_lossless(fine_engine, monkeypatch, q, slop)


@pytest.mark.parametrize("q,slop", FINE_PHRASES)
def test_phrase_theta_seed_lossless_fine_grid(fine_engine, monkeypatch, q,
                                              slop):
    _seed_lossless(fine_engine, monkeypatch, q, slop)


def test_phrase_absent_term_empty(engine):
    assert engine.phrase("spark zzzunseen", k=10).count() == 0


def test_phrase_single_term_equals_search(engine):
    assert _rows(engine.phrase("spark", k=10)) == \
        _rows(engine.search("spark", k=10))


def test_single_token_phrase_is_literal(spark, tmp_path):
    """A one-token phrase is the plain term query of its ANALYZED token: a
    trailing '*' is punctuation to the analyzer, never a prefix expansion
    (which would match "running"/"runner", docs with no token "run")."""
    from parser_indexer_spark.build import build_index
    from parser_indexer_spark.search import Index

    texts = ["run fast", "running late", "runner up", "run run home",
             "walk home"]
    pdf = pd.DataFrame({
        "conv_id": [f"c{i}" for i in range(len(texts))],
        "turn_idx": [0] * len(texts), "role": ["user"] * len(texts),
        "text": texts, "tool": [None] * len(texts),
        "ts": pd.to_datetime(["2024-01-01"] * len(texts)),
    })
    out = str(tmp_path / "prefixes")
    build_index(spark, spark.createDataFrame(pdf), out,
                EngineConfig(n_buckets=4, build_partitions=2, chunk_bits=8))
    ix = Index(spark, out)
    want = _rows(ix.search("run", k=10))
    assert sorted(d for d, _ in want) == [0, 3]
    assert _rows(ix.phrase("run*", k=10)) == want
    assert _rows(ix.phrase("run", k=10)) == want
    # the multi-token path already read "run*" literally
    assert [d for d, _ in _rows(ix.phrase("run* home", k=10))] == [3]


def test_phrase_with_doc_filter(engine, oracle, corpus):
    allowed = set(corpus.index[corpus["role"] == "assistant"])
    got = _rows(engine.phrase("spark join", k=10,
                              doc_filter="role = 'assistant'"))
    exp = [(d, s) for d, s in oracle.phrase("spark join", k=10 ** 9)
           if d in allowed][:10]
    assert [g[0] for g in got] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], rel=1e-9)


def test_phrase_deep_paging(engine):
    full = _rows(engine.phrase("spark join", k=20))
    p1 = full[:10]
    cursor = (p1[-1][1], p1[-1][0])
    p2 = _rows(engine.phrase("spark join", k=10, after=cursor))
    assert p1 + p2 == full


def test_positions_roundtrip_unit():
    """_encode_rows pos payload -> _decode_positions (the batched decoder
    the phrase scorer runs) round-trips absolute positions for
    multi-block, multi-doc runs under both codecs."""
    from parser_indexer_spark.build import _encode_rows
    from parser_indexer_spark.search import _decode_positions
    from parser_indexer_spark.codec import decode, delta_decode

    rng = np.random.default_rng(7)
    n = 400
    d = np.arange(n, dtype=np.int64) * 3          # spans chunks (bits=8)
    tf = rng.integers(1, 6, size=n).astype(np.int64)
    dl = np.full(n, 50, dtype=np.int64)
    # absolute positions per posting: sorted unique draws
    pos_abs = [np.sort(rng.choice(2000, size=int(t), replace=False))
               for t in tf]
    gaps = np.concatenate([np.diff(p, prepend=0) + (p[:1] * 0)
                           for p in pos_abs])
    # first gap must be the absolute first position
    gaps = np.concatenate(
        [np.concatenate(([p[0]], np.diff(p))) for p in pos_abs])
    from parser_indexer_spark.codec import varint_slices
    starts = np.concatenate(([0], np.cumsum(tf)[:-1]))
    pg_slices = np.empty(n, dtype=object)
    pg_slices[:] = varint_slices(gaps.astype(np.uint64), starts)
    for codec in ("for", "varint"):
        cfg = EngineConfig(block_size=16, chunk_bits=8, n_buckets=4,
                           codec=codec)
        rows = _encode_rows(np.array(["t"] * n, object), d, tf, dl, cfg,
                            pg=pg_slices)
        assert len(rows) > 1
        got_docs, got_tf = [], []
        for r in rows.itertuples():
            nb = int(r.num_docs)
            bd = delta_decode(decode(r.docs_enc, nb), int(r.first_doc_id))
            btf = decode(r.tfs_enc, nb).astype(np.int64)
            got_docs.append(np.repeat(bd, btf))
            got_tf.append(btf)
        # one call across every block, as the scorer decodes a term's
        # blocks of a chunk
        got_pos = _decode_positions(rows["pos_enc"].to_numpy(),
                                    np.concatenate(got_tf),
                                    rows["num_docs"].to_numpy(np.int64))
        exp_docs = np.repeat(d, tf)
        exp_pos = np.concatenate(pos_abs)
        assert (np.concatenate(got_docs) == exp_docs).all()
        assert (got_pos == exp_pos).all()


def test_highlight_phrase_golden(spark):
    """Full phrase span marked, context window respected."""
    import shutil
    from parser_indexer_spark.build import build_index
    from parser_indexer_spark.search import Index

    out = "/tmp/phrase_hl_idx"
    shutil.rmtree(out, ignore_errors=True)
    pdf = pd.DataFrame({
        "conv_id": ["c0", "c0", "c1"],
        "turn_idx": [0, 1, 0],
        "role": ["user", "assistant", "user"],
        "text": ["alpha beta spark join gamma delta epsilon zeta eta",
                 "spark but no phrase join here at all today",
                 "nothing relevant"],
        "tool": [None, None, None],
        "ts": pd.to_datetime(["2024-01-01"] * 3),
    })
    cfg = EngineConfig(n_buckets=4, build_partitions=2, chunk_bits=8)
    build_index(spark, spark.createDataFrame(pdf), out, cfg)
    ix = Index(spark, out)
    rows = ix.highlight_phrase("spark join", k=5, window=2).collect()
    assert len(rows) == 1
    assert rows[0]["snippet"] == \
        "alpha beta <mark>spark</mark> <mark>join</mark> gamma delta ..."


def test_phrase_positions_survive_merge(spark, engine, index_dir, tmp_path):
    """C10 x D-phrase: compaction re-slices position payloads without
    reconstructing absolute positions; phrase results are identical."""
    from parser_indexer_spark.merge import merge_index
    from parser_indexer_spark.search import Index

    dst = str(tmp_path / "merged")
    merge_index(spark, index_dir, dst)
    merged = Index(spark, dst)
    for q, slop in PHRASES[:3]:
        assert _rows(engine.phrase(q, k=10, slop=slop)) == \
            _rows(merged.phrase(q, k=10, slop=slop))


def test_positions_off_index_rejects_phrase(spark, tmp_path):
    from parser_indexer_spark.build import build_index
    from parser_indexer_spark.search import Index

    pdf = pd.DataFrame({
        "conv_id": ["c0"], "turn_idx": [0], "role": ["user"],
        "text": ["spark join"], "tool": [None],
        "ts": pd.to_datetime(["2024-01-01"]),
    })
    out = str(tmp_path / "nopos")
    cfg = EngineConfig(n_buckets=4, build_partitions=2, positions=False)
    build_index(spark, spark.createDataFrame(pdf), out, cfg)
    ix = Index(spark, out)
    # BM25 path unaffected
    assert ix.search("spark join", k=5).count() == 1
    with pytest.raises(ValueError, match="positions"):
        ix.phrase("spark join")
