"""Deletes / tombstones (VERDICT r4 "What's missing" #1) [public: Lucene
liveDocs + IndexWriter.deleteDocuments; Solr deleteById/deleteByQuery].

Contract under test:
* a tombstoned doc stops matching EVERY query path (term OR/AND, phrase,
  impact fast path) immediately, while surviving docs keep their
  build-time scores (df/avgdl stay until a purge — Lucene semantics), so
  pre-purge results == the full-corpus oracle ranking with deleted ids
  filtered out;
* merge_index purges tombstones physically: postings, doc-store rows,
  stats, and the tombstone set — results == an oracle over the surviving
  docs only (rebuilt-equivalent scores);
* compact_segments purges only the merged segments' tombstones and
  carries the rest into a new generation;
* appends carry the live tombstone set across the manifest recommit.
"""

import numpy as np
import pytest

from parser_indexer_spark.build import build_index, read_docs
from parser_indexer_spark.config import EngineConfig
from parser_indexer_spark.incremental import append_segment
from parser_indexer_spark.manifest import CATALOG
from parser_indexer_spark.merge import compact_segments, merge_index
from parser_indexer_spark.oracle import OracleIndex
from parser_indexer_spark.search import Index
from parser_indexer_spark.transcripts import synthesize_pandas

CFG = EngineConfig(n_buckets=4, build_partitions=4, salt_df_threshold=300,
                   n_salts=3, chunk_bits=8)

QUERIES = [("spark join", "OR"), ("spark join", "AND"),
           ("hash agg scan", "OR"), ("window sort", "AND")]


def _filtered(expected, deleted, k):
    return [(d, s) for d, s in expected if d not in deleted][:k]


@pytest.fixture(scope="module")
def del_setup(spark, tmp_path_factory):
    pdf = synthesize_pandas(1500).sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    root = str(tmp_path_factory.mktemp("dels") / "idx")
    build_index(spark, spark.createDataFrame(pdf), root, CFG, segments=3)
    orc = OracleIndex(range(len(pdf)), pdf["text"].tolist())
    ix = Index(spark, root)
    # delete the current top-3 of the headline query plus a spread of ids
    top = [r.doc_id for r in ix.search("spark join", k=3).collect()]
    deleted = sorted(set(top) | {7, 123, 456, 789, 1400})
    ix.delete_docs(deleted)
    return root, pdf, orc, set(deleted)


def test_deleted_docs_stop_matching_exact_scores(spark, del_setup):
    root, pdf, orc, deleted = del_setup
    ix = Index(spark, root)          # fresh handle reads the tombstones
    for q, mode in QUERIES:
        got = [(r.doc_id, r.score)
               for r in ix.search(q, k=10, mode=mode).collect()]
        exp = _filtered(orc.search(q, k=10 ** 9, mode=mode), deleted, 10)
        assert [g[0] for g in got] == [e[0] for e in exp], (q, mode)
        for g, e in zip(got, exp):
            assert g[1] == pytest.approx(e[1], rel=1e-9), (q, mode)
    # phrase path honors tombstones too
    got = [(r.doc_id, r.score) for r in ix.phrase("spark join", k=10).collect()]
    exp = _filtered(orc.phrase("spark join", k=10 ** 9), deleted, 10)
    assert [g[0] for g in got] == [e[0] for e in exp]


def test_delete_by_query(spark, tmp_path):
    pdf = synthesize_pandas(600).sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    root = str(tmp_path / "dbq")
    build_index(spark, spark.createDataFrame(pdf), root, CFG, segments=1)
    ix = Index(spark, root)
    man = ix.delete_by_query("role = 'tool'")
    n_tool = int((pdf["role"] == "tool").sum())
    assert man["deletes"]["n"] == n_tool
    got = {r.doc_id for r in ix.search("spark", k=10 ** 6).collect()}
    tool_ids = set(pdf.index[pdf["role"] == "tool"])
    assert not (got & tool_ids)


def test_merge_purges_tombstones_physically(spark, del_setup, tmp_path):
    root, pdf, orc, deleted = del_setup
    dst = str(tmp_path / "merged")
    m = merge_index(spark, root, dst)
    assert "deletes" not in m
    assert m["stats"]["n_docs"] == len(pdf) - len(deleted)
    # doc store rows physically gone
    docs = read_docs(spark, dst)
    assert docs.count() == len(pdf) - len(deleted)
    assert docs.where(docs.doc_id.isin(list(deleted))).count() == 0
    # rebuilt-equivalent scores: oracle over the SURVIVING docs only
    surv = [i for i in range(len(pdf)) if i not in deleted]
    orc2 = OracleIndex(surv, pdf["text"].iloc[surv].tolist())
    ix = Index(spark, dst)
    assert ix._tombstones is None
    for q, mode in QUERIES:
        got = [(r.doc_id, r.score)
               for r in ix.search(q, k=10, mode=mode).collect()]
        exp = orc2.search(q, k=10, mode=mode)
        assert [g[0] for g in got] == [e[0] for e in exp], (q, mode)
        for g, e in zip(got, exp):
            assert g[1] == pytest.approx(e[1], rel=1e-9), (q, mode)


def test_compact_purges_only_merged_segments(spark, del_setup, tmp_path):
    import shutil
    root0, pdf, orc, deleted = del_setup
    root = str(tmp_path / "cp")
    shutil.copytree(root0, root)
    ix = Index(spark, root)
    man = ix.manifest
    ranges = {s["seg"]: (s["doc_lo"], s["doc_hi"]) for s in man["segments"]}
    merged = sorted(ranges)[:2]
    in_rng = {d for d in deleted
              if any(ranges[s][0] <= d <= ranges[s][1] for s in merged)}
    out_rng = deleted - in_rng
    assert in_rng and out_rng, "fixture must split tombstones across segs"
    m2 = compact_segments(spark, root, merged)
    if out_rng:
        assert m2["deletes"]["n"] == len(out_rng)
        from parser_indexer_spark.deletes import read_tombstones
        left = read_tombstones(root, m2["deletes"]["gen"])
        assert set(left.tolist()) == out_rng
    # purged ids left the doc store; retained tombstones still mask
    docs = read_docs(spark, root)
    assert docs.where(docs.doc_id.isin(list(in_rng))).count() == 0
    ix2 = Index(spark, root)
    for q, mode in QUERIES[:2]:
        got = [r.doc_id for r in ix2.search(q, k=10, mode=mode).collect()]
        exp = [e[0] for e in
               _filtered(orc.search(q, k=10 ** 9, mode=mode), deleted, 10)]
        assert got == exp, (q, mode)


def test_append_carries_tombstones(spark, del_setup, tmp_path):
    import shutil
    root0, pdf, orc, deleted = del_setup
    root = str(tmp_path / "ap")
    shutil.copytree(root0, root)
    extra = synthesize_pandas(150, conv_offset=50_000)
    man = append_segment(spark, root, spark.createDataFrame(extra), CFG)
    assert man["deletes"]["n"] == len(deleted)
    ix = Index(spark, root)
    got = {r.doc_id for r in ix.search("spark", k=10 ** 6).collect()}
    assert not (got & deleted)


def test_delete_masks_impact_fast_path(spark, tmp_path):
    """Deleting a doc that sits in the sidecar must drop it from the
    head-term fast path (single and multi) without losing losslessness."""
    pdf = synthesize_pandas(3000).sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    cfg = EngineConfig(n_buckets=4, build_partitions=4, chunk_bits=9,
                       impact_df_threshold=50, impact_top=32)
    root = str(tmp_path / "impdel")
    build_index(spark, spark.createDataFrame(pdf), root, cfg, segments=1)
    ix = Index(spark, root)
    orc = OracleIndex(range(len(pdf)), pdf["text"].tolist())
    top = [r.doc_id for r in ix.search("spark", k=3).collect()]
    ix.delete_docs(top[:2])
    got = [(r.doc_id, r.score) for r in ix.search("spark", k=10).collect()]
    exp = _filtered(orc.search("spark", k=10 ** 9), set(top[:2]), 10)
    assert [g[0] for g in got] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], rel=1e-9)


def test_delete_bound_enforced(spark, tmp_path):
    import parser_indexer_spark.search as S
    pdf = synthesize_pandas(200)
    root = str(tmp_path / "bound")
    build_index(spark, spark.createDataFrame(pdf), root, CFG, segments=1)
    ix = Index(spark, root)
    old = S.FILTER_BROADCAST_LIMIT
    S.FILTER_BROADCAST_LIMIT = 5
    try:
        with pytest.raises(ValueError, match="compact"):
            ix.delete_docs(range(10))
    finally:
        S.FILTER_BROADCAST_LIMIT = old


def test_delete_masks_fielded_search(spark, corpus, tmp_path):
    """search_fields shares the masked scorer: tombstoned docs drop out of
    fielded results and survivors keep their scores (same handle, before
    vs after, deleted ids removed)."""
    cfg = EngineConfig(n_buckets=8, build_partitions=8, chunk_bits=9,
                       fields=("role", "tool"))
    root = str(tmp_path / "fdel")
    build_index(spark, spark.createDataFrame(corpus), root, cfg, segments=2)
    ix = Index(spark, root)
    fq = {"text": "spark join", "tool": "search"}
    before = [(r.doc_id, r.score)
              for r in ix.search_fields(fq, k=10 ** 6).collect()]
    assert before
    dead = {d for d, _ in before[:3]}
    ix.delete_docs(dead)
    after = [(r.doc_id, r.score) for r in ix.search_fields(fq, k=10).collect()]
    assert after == [(d, s) for d, s in before if d not in dead][:10]


def test_full_compaction_purges_tombstone_without_postings(spark, tmp_path):
    """A compaction over every live segment purges EVERY tombstone, also
    one of a doc with no postings (empty text) that lies outside every
    segment's [doc_lo, doc_hi]: in place and into a new root (merge),
    the result equals a rebuild over the surviving docs."""
    import shutil
    pdf = synthesize_pandas(400).sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    pdf.loc[len(pdf) - 1, "text"] = ""          # the highest doc_id
    root = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf), root, CFG, segments=2)
    dead = [7, len(pdf) - 1]
    Index(spark, root).delete_docs(dead)
    surv = pdf.drop(index=dead).assign(doc_id=lambda d: d.index)
    ref = str(tmp_path / "ref")
    build_index(spark, spark.createDataFrame(surv), ref, CFG,
                doc_id_col="doc_id")
    ir = Index(spark, ref)
    drop = lambda s: {k: v for k, v in s.items() if k != "n_blocks"}  # noqa: E731
    inplace = str(tmp_path / "inplace")
    shutil.copytree(root, inplace)
    live = [s["seg"] for s in CATALOG.load_snapshot(inplace)["segments"]]
    for out, m in [
            (inplace, compact_segments(spark, inplace, live)),
            (str(tmp_path / "merged"),
             merge_index(spark, root, str(tmp_path / "merged")))]:
        assert "deletes" not in m, out
        docs = read_docs(spark, out)
        assert docs.count() == len(surv)
        assert docs.where(docs.doc_id.isin(dead)).count() == 0
        ix = Index(spark, out)
        assert drop(ix.stats) == drop(ir.stats), out
        for q, mode in QUERIES:
            got = [(r.doc_id, r.score)
                   for r in ix.search(q, k=10, mode=mode).collect()]
            exp = [(r.doc_id, r.score)
                   for r in ir.search(q, k=10, mode=mode).collect()]
            assert got == exp, (out, q, mode)
