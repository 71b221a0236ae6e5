"""Multi-field search with boosts (Solr qf analogue): fielded terms
"<field>:<term>" with per-field dl/avgdl; boost folds into idf weight.
Oracle = brute-force python BM25F over the same corpus (null fields -> no
posting, same as the engine's empty token list)."""

import math

import numpy as np
import pytest

from parser_indexer_spark.analyze import tokenize_py
from parser_indexer_spark.build import build_index
from parser_indexer_spark.config import EngineConfig
from parser_indexer_spark.search import Index

from conftest import EXHAUSTIVE, force_plan


@pytest.fixture(scope="module")
def fielded(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fielded") / "idx")
    cfg = EngineConfig(n_buckets=8, build_partitions=8, chunk_bits=9,
                       fields=("role", "tool"))
    df = spark.createDataFrame(corpus.sample(frac=1.0, random_state=7))
    build_index(spark, df, out, cfg, segments=2)
    return Index(spark, out)


def _oracle_bm25f(corpus, field_queries, boosts, k=10, mode="OR",
                  k1=1.2, b=0.75):
    n = len(corpus)
    toks = {
        "text": [tokenize_py(t) for t in corpus["text"]],
        "role": [tokenize_py(t) for t in corpus["role"]],
        "tool": [tokenize_py(t if t is not None else None)
                 for t in corpus["tool"]],
    }
    # per-field docCount [public: Lucene per-field BM25]: avgdl and idf
    # use the count of docs that HAVE the field (VERDICT r4 #7)
    n_f = {f: sum(1 for x in tk if x) for f, tk in toks.items()}
    n_f["text"] = n                       # the main field keeps corpus stats
    avg = {f: sum(len(x) for x in tk) / max(1, n_f[f])
           for f, tk in toks.items()}
    scores, matched, required = {}, {}, []
    for f, q in field_queries.items():
        for t in sorted(set(tokenize_py(q))):
            df_t = sum(1 for tk in toks[f] if t in tk)
            required.append((f, t, df_t))
            if df_t == 0:
                continue
            nn = n_f[f]
            idf = math.log(1 + (nn - df_t + 0.5) / (df_t + 0.5))
            w = boosts.get(f, 1.0) * idf
            for d, tk in enumerate(toks[f]):
                tf = tk.count(t)
                if tf:
                    dl = len(tk)
                    scores[d] = scores.get(d, 0.0) + w * tf / (
                        tf + k1 * (1 - b + b * dl / avg[f]))
                    matched.setdefault(d, set()).add((f, t))
    if mode == "AND":
        if any(df_t == 0 for _, _, df_t in required):
            return []
        need = {(f, t) for f, t, _ in required}
        scores = {d: s for d, s in scores.items() if matched[d] == need}
    out = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]
    return [(d, s) for d, s in out]


QUERIES = [
    ({"text": "spark join", "role": "assistant"}, {"role": 2.0}, "OR"),
    ({"text": "spark join", "tool": "python"}, {"tool": 3.0}, "OR"),
    ({"text": "spark", "role": "tool", "tool": "bash"}, {}, "AND"),
    ({"role": "user"}, {"role": 1.0}, "OR"),
]


@pytest.mark.parametrize("fq,boosts,mode", QUERIES)
def test_search_fields_matches_oracle(fielded, corpus, fq, boosts, mode):
    got = [(r.doc_id, r.score) for r in
           fielded.search_fields(fq, boosts=boosts, k=10, mode=mode).collect()]
    exp = _oracle_bm25f(corpus, fq, boosts, k=10, mode=mode)
    assert [g[0] for g in got] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], rel=1e-9)


def test_field_stats_per_field_avgdl(fielded, corpus):
    st = fielded.stats
    assert st["fields"]["role"]["avg_dl"] == pytest.approx(1.0)
    tool_tokens = sum(len(tokenize_py(t)) for t in corpus["tool"]
                      if t is not None)
    assert st["fields"]["tool"]["sum_dl"] == tool_tokens
    # text stats exclude fielded terms: avg_dl is the TEXT average
    text_tokens = sum(len(tokenize_py(t)) for t in corpus["text"])
    assert st["sum_dl"] == text_tokens


def test_boost_reorders(fielded):
    """A large tool boost must push tool-matching docs above text-only
    matches; with boost ~0 the fielded leg vanishes from the scores."""
    hi = [(r.doc_id, round(r.score, 9)) for r in fielded.search_fields(
        {"text": "spark", "tool": "python"}, boosts={"tool": 100.0},
        k=5).collect()]
    lo = [(r.doc_id, round(r.score, 9)) for r in fielded.search_fields(
        {"text": "spark", "tool": "python"}, boosts={"tool": 1e-12},
        k=5).collect()]
    assert hi != lo
    base = [(r.doc_id,) for r in fielded.search("spark", k=5).collect()]
    assert [(d,) for d, _ in lo] == base  # ~zero boost ≈ text-only ranking


def test_unknown_field_rejected(fielded):
    with pytest.raises(ValueError, match="not indexed"):
        fielded.search_fields({"text": "spark", "nosuch": "x"})


def test_pruning_lossless_and_parallelism_invariant(fielded, monkeypatch):
    fq = {"text": "spark join", "role": "assistant"}

    def run(**plan):
        with monkeypatch.context() as mp:
            force_plan(mp, **plan)
            return [(r.doc_id, r.score) for r in fielded.search_fields(
                fq, boosts={"role": 2.0}, k=10).collect()]

    a = run()
    assert a == run(**EXHAUSTIVE) == run(driver=False, tasks=2)


def test_plain_search_unaffected_by_fields(fielded, engine):
    """Fielded terms never leak into text queries: the default index and
    the fielded index give identical text-only results."""
    a = [(r.doc_id, round(r.score, 9)) for r in
         fielded.search("spark join", k=10).collect()]
    b = [(r.doc_id, round(r.score, 9)) for r in
         engine.search("spark join", k=10).collect()]
    assert a == b


# ------------------------------------------- fielded phrase (r4, D15xD16) ---

def test_fielded_phrase_matches_oracle(spark, tmp_path):
    """field:"exact phrase" — the positional chain runs over the fielded
    postings with the FIELD's dl/avgdl. Oracle: brute-force chained-gap
    phrase match over the field tokens."""
    import pandas as pd
    rng = np.random.default_rng(11)
    words = ["alpha", "beta", "gamma", "delta", "eps"]
    rows = []
    for i in range(400):
        t = " ".join(rng.choice(words, size=int(rng.integers(3, 8))))
        title = " ".join(rng.choice(words, size=int(rng.integers(2, 5))))
        rows.append((f"c{i:03d}", 0, "user", t, title,
                     pd.Timestamp("2026-01-01")))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                      "text", "title", "ts"])
    cfg = EngineConfig(n_buckets=4, build_partitions=4, chunk_bits=7,
                      fields=("title",))
    out = str(tmp_path / "fp")
    build_index(spark, spark.createDataFrame(pdf), out, cfg, segments=1)
    ix = Index(spark, out)

    toks = [tokenize_py(t) for t in pdf["title"]]
    n = len(pdf)
    avg = sum(len(x) for x in toks) / n
    for qa, qb in [("alpha", "beta"), ("gamma", "delta")]:
        for slop in (0, 1):
            dfa = sum(1 for tk in toks if qa in tk)
            dfb = sum(1 for tk in toks if qb in tk)
            idf_sum = (math.log(1 + (n - dfa + 0.5) / (dfa + 0.5))
                       + math.log(1 + (n - dfb + 0.5) / (dfb + 0.5)))
            exp = []
            for d, tk in enumerate(toks):
                ptf = sum(1 for i, w in enumerate(tk) if w == qa and any(
                    0 < j - i <= slop + 1 and tk[j] == qb
                    for j in range(i + 1, len(tk))))
                if ptf:
                    dl = len(tk)
                    s = idf_sum * ptf / (ptf + 1.2 * (1 - 0.75
                                                      + 0.75 * dl / avg))
                    exp.append((d, s))
            exp.sort(key=lambda x: (-x[1], x[0]))
            got = [(r.doc_id, r.score) for r in
                   ix.phrase(f"{qa} {qb}", k=10, slop=slop,
                             field="title").collect()]
            assert [g[0] for g in got] == [e[0] for e in exp[:10]], \
                (qa, qb, slop)
            for g, e in zip(got, exp):
                assert g[1] == pytest.approx(e[1], rel=1e-9)
    # single fielded token degenerates to fielded single-term BM25
    assert ix.phrase("alpha", field="title", k=5).count() > 0
    with pytest.raises(ValueError):
        ix.phrase("alpha beta", field="nosuch")


def test_sparse_field_ranks_like_dense_subset_index(spark, tmp_path):
    """VERDICT r4 #7 'done' criterion: a field present on only half the
    docs must rank (and score) those docs exactly as a dense index built
    on just the subset — per-field docCount drives both avgdl and idf."""
    import pandas as pd

    from parser_indexer_spark.transcripts import synthesize_pandas
    pdf = synthesize_pandas(800).sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    rng = np.random.default_rng(11)
    # sparse 'note' field: present on ~50% of docs, 1-3 tokens
    words = np.array(["alpha", "beta", "gamma", "delta"])
    has = rng.random(len(pdf)) < 0.5
    notes = np.where(
        has,
        [" ".join(rng.choice(words, size=int(rng.integers(1, 4))))
         for _ in range(len(pdf))],
        None)
    pdf["note"] = notes

    cfg = EngineConfig(n_buckets=4, build_partitions=4, chunk_bits=9,
                       fields=("note",))
    sparse_root = str(tmp_path / "sparse")
    build_index(spark, spark.createDataFrame(pdf), sparse_root, cfg,
                segments=2)
    ix_sparse = Index(spark, sparse_root)
    assert ix_sparse.stats["fields"]["note"]["n_docs"] == int(has.sum())

    # dense index over ONLY the subset, with note as the main text
    sub = pdf[has].copy().reset_index(drop=True)
    sub["text"] = sub["note"]
    dense_root = str(tmp_path / "dense")
    build_index(spark, spark.createDataFrame(sub.drop(columns=["note"])),
                dense_root,
                EngineConfig(n_buckets=4, build_partitions=4, chunk_bits=9),
                segments=1)
    ix_dense = Index(spark, dense_root)

    # map sparse doc_ids -> dense subset positions
    sparse_ids = np.flatnonzero(has)
    for q in ["alpha", "alpha beta", "gamma delta alpha"]:
        got = [(r.doc_id, r.score) for r in
               ix_sparse.search_fields({"note": q}, k=20).collect()]
        exp = [(int(sparse_ids[r.doc_id]), r.score) for r in
               ix_dense.search(q, k=20).collect()]
        assert got == exp, q


def test_unfielded_expansions_skip_fielded_terms(fielded, engine):
    """Prefix, wildcard, range, regexp and fuzzy expansions of an
    unfielded clause range over TEXT terms only: "<field>:<term>"
    dictionary entries (role:user, tool:...) neither join the expansion
    nor count against max_expansions, so expansion queries on a fielded
    index equal those on the same corpus indexed without fields."""
    text = fielded.expand_prefix("ro")
    assert text and not any(":" in t for t in text)
    assert fielded.expand_prefix("ro", max_expansions=len(text)) == text
    assert engine.expand_prefix("ro") == text
    for got in (fielded.expand_wildcard("ro*"),
                fielded.expand_range("ro", "rz"),
                fielded.expand_regexp("ro.*"),
                fielded.expand_fuzzy("role", 1)):
        assert not any(":" in t for t in got), got
    for run in (lambda ix: ix.query("ro*", k=2000),
                lambda ix: ix.search("ro*", k=2000),
                lambda ix: ix.query("/ro.*/", k=2000)):
        a = [(r.doc_id, round(r.score, 9)) for r in run(fielded).collect()]
        b = [(r.doc_id, round(r.score, 9)) for r in run(engine).collect()]
        assert a == b and 0 < len(a) < 2000
