"""§2.F streaming/incremental tests: segment appends ≡ batch build;
foreachBatch incremental indexing; windowed/sessionized/stateful analytics."""

import os

import pyspark.sql.functions as F
import pytest

from parser_indexer_spark.build import build_index, read_docs
from parser_indexer_spark.config import EngineConfig
from parser_indexer_spark.incremental import (
    append_segment, conversation_sessions, incremental_index_query,
    running_turn_counts, term_volume_windows,
)
from parser_indexer_spark.search import Index
from parser_indexer_spark.transcripts import synthesize_pandas
from test_resume import _logical_index_hash

CFG = EngineConfig(n_buckets=4, build_partitions=4, salt_df_threshold=300,
                   n_salts=2, chunk_bits=8)


@pytest.fixture(scope="module")
def corpus():
    return (synthesize_pandas(600)
            .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))


def _slices(corpus, k=3):
    n = len(corpus)
    return [corpus.iloc[i * n // k:(i + 1) * n // k] for i in range(k)]


def test_append_segments_equal_batch_build(spark, corpus, tmp_path):
    batch_dir = str(tmp_path / "batch")
    incr_dir = str(tmp_path / "incr")
    build_index(spark, spark.createDataFrame(corpus), batch_dir, CFG, segments=1)
    for sl in _slices(corpus):
        append_segment(spark, incr_dir, spark.createDataFrame(sl), CFG)
    assert _logical_index_hash(batch_dir) == _logical_index_hash(incr_dir)
    ia, ib = Index(spark, batch_dir), Index(spark, incr_dir)
    assert ia.stats["n_docs"] == ib.stats["n_docs"]
    assert ia.stats["sum_dl"] == ib.stats["sum_dl"]
    for q, mode in [("spark join", "OR"), ("spark join", "AND")]:
        ra = [(r.doc_id, r.score) for r in ia.search(q, k=10, mode=mode).collect()]
        rb = [(r.doc_id, r.score) for r in ib.search(q, k=10, mode=mode).collect()]
        assert ra == rb


def test_replayed_batch_docs_idempotent(spark, corpus, tmp_path):
    """Crash between the docs write and the manifest commit, then replay
    the same batch: the doc store must not contain duplicates (dynamic
    partition overwrite makes the seg=N docs write idempotent; ADVICE r1)."""
    from parser_indexer_spark.manifest import IndexPaths, read_json, write_json

    root = str(tmp_path / "replay")
    s1, s2, _ = _slices(corpus)
    append_segment(spark, root, spark.createDataFrame(s1), CFG)
    manifest_before = read_json(IndexPaths(root).manifest)
    append_segment(spark, root, spark.createDataFrame(s2), CFG)
    # simulate the crash: manifest rolled back as if batch 2 never committed
    write_json(IndexPaths(root).manifest, manifest_before)
    append_segment(spark, root, spark.createDataFrame(s2), CFG)  # replay

    docs = read_docs(spark, root).select("conv_id", "turn_idx").toPandas()
    assert len(docs) == len(s1) + len(s2)
    assert not docs.duplicated().any()
    ix = Index(spark, root)
    assert ix.stats["n_docs"] == len(s1) + len(s2)


def test_replay_after_crash_before_commit(spark, corpus, tmp_path):
    """The replay guard lives in the manifest: a batch whose commit never
    happened (manifest rolled back after its data writes) is redone by its
    replay exactly once, and a replay after the commit is a no-op."""
    from parser_indexer_spark.manifest import IndexPaths, read_json, write_json

    root = str(tmp_path / "crash")
    p = IndexPaths(root)
    s1, s2, _ = _slices(corpus)
    append_segment(spark, root, spark.createDataFrame(s1), CFG, batch_id=0)
    manifest_before = read_json(p.manifest)
    append_segment(spark, root, spark.createDataFrame(s2), CFG, batch_id=1)
    write_json(p.manifest, manifest_before)     # the crash before commit
    for _ in range(2):                          # replay, then a late replay
        append_segment(spark, root, spark.createDataFrame(s2), CFG,
                       batch_id=1)
    docs = read_docs(spark, root).select("doc_id", "conv_id",
                                         "turn_idx").toPandas()
    assert len(docs) == len(s1) + len(s2)
    assert docs["doc_id"].is_unique
    assert not docs.duplicated(["conv_id", "turn_idx"]).any()
    assert Index(spark, root).stats["n_docs"] == len(s1) + len(s2)


def test_bootstrap_replay_after_crash_before_commit(spark, corpus,
                                                    tmp_path):
    """A bootstrap batch whose docs marker and segments were written but
    whose manifest never was: its replay finishes the build and commits
    the batch once."""
    from parser_indexer_spark.manifest import IndexPaths

    root = str(tmp_path / "boot_crash")
    s1 = _slices(corpus)[0]
    append_segment(spark, root, spark.createDataFrame(s1), CFG, batch_id=0)
    os.remove(IndexPaths(root).manifest)        # the crash before commit
    for _ in range(2):                          # replay, then a late replay
        append_segment(spark, root, spark.createDataFrame(s1), CFG,
                       batch_id=0)
    docs = read_docs(spark, root).select("doc_id").toPandas()["doc_id"]
    assert len(docs) == len(s1) and docs.is_unique
    assert Index(spark, root).stats["n_docs"] == len(s1)


def test_append_is_o_batch_not_o_index(spark, corpus, tmp_path):
    """Appending must never re-read committed posting blocks (VERDICT r2
    #1): with segment 0's postings REMOVED from disk, an append still
    succeeds (finalize aggregates per-segment dicts only), and after
    restoring the files the index is logically identical to a batch build
    over all three slices."""
    import pandas as pd
    import shutil
    from parser_indexer_spark.manifest import IndexPaths

    root = str(tmp_path / "obatch")
    s1, s2, s3 = _slices(corpus)
    append_segment(spark, root, spark.createDataFrame(s1), CFG)
    append_segment(spark, root, spark.createDataFrame(s2), CFG)
    p = IndexPaths(root)
    hidden = str(tmp_path / "hidden_seg0")
    shutil.move(p.postings_seg(0), hidden)
    append_segment(spark, root, spark.createDataFrame(s3), CFG)
    shutil.move(hidden, p.postings_seg(0))

    batch_dir = str(tmp_path / "obatch_ref")
    build_index(spark, spark.createDataFrame(
        pd.concat([s1, s2, s3], ignore_index=True)), batch_dir, CFG)
    assert _logical_index_hash(root) == _logical_index_hash(batch_dir)
    ia, ib = Index(spark, root), Index(spark, batch_dir)
    drop_layout = lambda s: {k: v for k, v in s.items() if k != "n_blocks"}
    assert drop_layout(ia.stats) == drop_layout(ib.stats)
    assert [(r.doc_id, r.score) for r in ia.search("spark join", k=10).collect()] == \
        [(r.doc_id, r.score) for r in ib.search("spark join", k=10).collect()]


def test_streaming_foreachbatch_index(spark, corpus, tmp_path):
    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    for i, sl in enumerate(_slices(corpus)):
        spark.createDataFrame(sl).coalesce(1).write.parquet(f"{src}/slice={i}")
    schema = spark.read.parquet(f"{src}/slice=0").schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(f"{src}/slice=*"))
    root = str(tmp_path / "stream_idx")
    q = incremental_index_query(stream, root, CFG,
                                checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    ix = Index(spark, root)
    assert ix.stats["n_docs"] == len(corpus)
    assert ix.manifest["n_segments"] >= 2  # really was incremental
    # results equal batch build when compared in (conv_id, turn_idx) space
    batch_dir = str(tmp_path / "batch_ref")
    build_index(spark, spark.createDataFrame(corpus), batch_dir, CFG)
    ib = Index(spark, batch_dir)

    def keyed(i, q_):
        top = i.search(q_, k=10)
        return sorted((r.conv_id, r.turn_idx, round(r.score, 9)) for r in
                      read_docs(i.spark, i.root).join(top, "doc_id")
                      .select("conv_id", "turn_idx", "score").collect())
    assert keyed(ix, "spark join") == keyed(ib, "spark join")


def test_term_volume_windows(spark, corpus, tmp_path):
    src = str(tmp_path / "tv_src")
    spark.createDataFrame(corpus).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = (term_volume_windows(stream, window="1 hour")
           .writeStream.format("memory").queryName("tv")
           .outputMode("complete").trigger(availableNow=True).start())
    out.awaitTermination(300)
    got = {(str(r.win.start), r.term): r.n
           for r in spark.sql("select * from tv").collect()}
    # batch equivalent
    from parser_indexer_spark.relops import str_tokens  # noqa: F401 (pattern)
    import pandas as pd
    from parser_indexer_spark.analyze import tokenize_py
    exp: dict = {}
    for r in corpus.itertuples():
        win = pd.Timestamp(r.ts).floor("h")
        for t in tokenize_py(r.text):
            exp[(str(win), t)] = exp.get((str(win), t), 0) + 1
    assert got == exp


def test_streaming_dedup_across_batches(spark, corpus, tmp_path):
    """Cross-batch stateful dedup: texts duplicated into a LATER micro-batch
    are suppressed (state remembers fingerprints); each distinct text is
    emitted exactly once, at its first occurrence."""
    from parser_indexer_spark.incremental import streaming_dedup

    src = str(tmp_path / "dd_src")
    os.makedirs(src)
    base = corpus.iloc[:200]
    # batch 0: originals; batch 1: 100 exact dups (new conv ids) + 100 new
    dup = base.iloc[:100].copy()
    dup["conv_id"] = dup["conv_id"] + "_dup"
    fresh = corpus.iloc[200:300]
    import pandas as pd
    spark.createDataFrame(base).coalesce(1).write.parquet(f"{src}/slice=0")
    spark.createDataFrame(pd.concat([dup, fresh])).coalesce(1) \
         .write.parquet(f"{src}/slice=1")
    schema = spark.read.parquet(f"{src}/slice=0").schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/slice=*"))
    q = (streaming_dedup(stream)
         .writeStream.format("memory").queryName("dedup")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = spark.sql("select fp, count(*) n from dedup group by fp").toPandas()
    # every fingerprint emitted exactly once
    assert (got["n"] == 1).all()
    n_distinct = len(set(pd.concat([base, dup, fresh])["text"]))
    assert len(got) == n_distinct


def test_sessions_and_stateful(spark, corpus, tmp_path):
    src = str(tmp_path / "ss_src")
    spark.createDataFrame(corpus).write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)
    s = (conversation_sessions(stream, gap="30 minutes")
         .writeStream.format("memory").queryName("sess")
         .outputMode("complete").trigger(availableNow=True).start())
    s.awaitTermination(300)
    sess = spark.sql("select conv_id, n_turns from sess").toPandas()
    exp_counts = corpus.groupby("conv_id").size()
    # 30s turn spacing << 30min gap => exactly one session per conversation
    assert len(sess) == len(exp_counts)
    assert dict(zip(sess.conv_id, sess.n_turns)) == exp_counts.to_dict()

    stream2 = spark.readStream.schema(schema).parquet(src)
    st = (running_turn_counts(stream2)
          .writeStream.format("memory").queryName("turns")
          .outputMode("update").trigger(availableNow=True).start())
    st.awaitTermination(300)
    turns = spark.sql("select conv_id, max(n_turns) n from turns group by conv_id").toPandas()
    assert dict(zip(turns.conv_id, turns.n)) == exp_counts.to_dict()
