"""Upsert / overwrite-by-uniqueKey updates (r5) [public: Solr's default
add semantics — overwrite=true on the uniqueKey; Lucene
IndexWriter.updateDocument].

Contract under test:
* a batch row whose (conv_id, turn_idx) already exists REPLACES the old
  version: the old doc_id stops matching every query immediately, the new
  row matches as an ordinary append;
* after merge_index the index is rebuild-equivalent: the doc store equals
  the logically-updated corpus and BM25 scores equal an oracle over it;
* replaying a committed batch (same batch_id) is a no-op — in particular
  it must NOT tombstone the batch's own freshly-appended rows;
* duplicate keys inside one batch raise (silent last-wins would be
  nondeterministic under shuffle);
* upsert on a fresh root bootstraps like append_segment.
"""

import pandas as pd
import pytest

from parser_indexer_spark.build import build_index, read_docs
from parser_indexer_spark.config import EngineConfig
from parser_indexer_spark.incremental import upsert_segment
from parser_indexer_spark.merge import merge_index
from parser_indexer_spark.oracle import OracleIndex
from parser_indexer_spark.search import Index
from parser_indexer_spark.transcripts import synthesize_pandas

CFG = EngineConfig(n_buckets=4, build_partitions=4, salt_df_threshold=300,
                   n_salts=3, chunk_bits=8)

N_BASE, LO, HI, N_NEW = 800, 100, 140, 20


@pytest.fixture(scope="module")
def up_setup(spark, tmp_path_factory):
    pdf = synthesize_pandas(N_BASE).sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    root = str(tmp_path_factory.mktemp("ups") / "idx")
    build_index(spark, spark.createDataFrame(pdf), root, CFG, segments=2)
    # 40 existing keys with NEW text + 20 brand-new rows in one batch
    repl = pdf.iloc[LO:HI].copy()
    repl["text"] = ["replacedmarker spark text number w%04d" % i
                    for i in range(HI - LO)]
    new = synthesize_pandas(N_NEW, conv_offset=90_000)
    batch = pd.concat([repl, new], ignore_index=True)
    man = upsert_segment(spark, root, spark.createDataFrame(batch), CFG,
                         batch_id=1)
    logical = pd.concat([pdf.drop(index=range(LO, HI)), batch],
                        ignore_index=True)
    return root, pdf, batch, logical, man


def test_replaced_rows_stop_matching(spark, up_setup):
    root, pdf, batch, logical, man = up_setup
    assert man["deletes"]["n"] == HI - LO
    ix = Index(spark, root)
    old_ids = set(range(LO, HI))  # doc_id == row index (dense, sorted)
    got = {r.doc_id for r in ix.search("spark", k=10 ** 6).collect()}
    assert not (got & old_ids)
    # the replacements match under their fresh (appended) doc_ids
    got2 = {r.doc_id
            for r in ix.search("replacedmarker", k=10 ** 6).collect()}
    assert len(got2) == HI - LO
    # appended doc_ids start after the base corpus; synthesize_pandas(n)
    # returns ~n rows (transcripts.py docstring), so derive from len(pdf)
    assert min(got2) >= len(pdf)


def test_upsert_replay_is_noop(spark, up_setup):
    root, pdf, batch, logical, man = up_setup
    n_docs_rows = read_docs(spark, root).count()
    man2 = upsert_segment(spark, root, spark.createDataFrame(batch), CFG,
                          batch_id=1)
    assert man2["deletes"]["n"] == HI - LO          # batch's own rows live
    assert man2["stats"]["n_docs"] == man["stats"]["n_docs"]
    assert read_docs(spark, root).count() == n_docs_rows


def test_upsert_equals_rebuild_after_merge(spark, up_setup, tmp_path):
    root, pdf, batch, logical, man = up_setup
    dst = str(tmp_path / "merged")
    m = merge_index(spark, root, dst)
    assert "deletes" not in m
    assert m["stats"]["n_docs"] == len(logical)
    docs = read_docs(spark, dst).toPandas()
    got_rows = {(r.conv_id, int(r.turn_idx), r.text)
                for r in docs.itertuples(index=False)}
    exp_rows = {(r.conv_id, int(r.turn_idx), r.text)
                for r in logical[["conv_id", "turn_idx", "text"]]
                .itertuples(index=False)}
    assert got_rows == exp_rows
    # rebuilt-equivalent scores: oracle over the surviving doc store
    orc = OracleIndex(docs["doc_id"].tolist(), docs["text"].tolist())
    ix = Index(spark, dst)
    for q, mode in [("spark join", "OR"), ("replacedmarker spark", "OR"),
                    ("hash agg scan", "AND")]:
        got = [(r.doc_id, r.score)
               for r in ix.search(q, k=10, mode=mode).collect()]
        exp = orc.search(q, k=10, mode=mode)
        assert [g[0] for g in got] == [e[0] for e in exp], (q, mode)
        for g, e in zip(got, exp):
            assert g[1] == pytest.approx(e[1], rel=1e-9), (q, mode)


def test_upsert_replay_after_crash_before_commit(spark, tmp_path):
    """An upsert whose commits never happened (manifest rolled back after
    its tombstone and data writes) is redone by its replay exactly once:
    the keys match only committed rows, so the rows the crashed attempt
    wrote are not tombstoned."""
    from parser_indexer_spark.manifest import IndexPaths, read_json, write_json
    pdf = synthesize_pandas(300)
    root = str(tmp_path / "crash")
    p = IndexPaths(root)
    upsert_segment(spark, root, spark.createDataFrame(pdf), CFG, batch_id=0)
    repl = pdf.iloc[100:120].copy()
    repl["text"] = ["replacedmarker spark w%04d" % i for i in range(20)]
    batch = pd.concat([repl, synthesize_pandas(10, conv_offset=70_000)],
                      ignore_index=True)
    manifest_before = read_json(p.manifest)
    upsert_segment(spark, root, spark.createDataFrame(batch), CFG,
                   batch_id=1)
    write_json(p.manifest, manifest_before)     # the crash before commit
    for _ in range(2):                          # replay, then a late replay
        man = upsert_segment(spark, root, spark.createDataFrame(batch), CFG,
                             batch_id=1)
    assert man["stats"]["n_docs"] == len(pdf) + len(batch)
    assert man["deletes"]["n"] == len(repl)
    docs = read_docs(spark, root).select("doc_id", "conv_id",
                                         "turn_idx").toPandas()
    assert len(docs) == len(pdf) + len(batch)
    assert docs["doc_id"].is_unique
    ix = Index(spark, root)
    assert ix.search("replacedmarker", k=10 ** 6).count() == len(repl)


def test_upsert_duplicate_keys_raise(spark, up_setup):
    root, pdf, batch, logical, man = up_setup
    dup = pd.concat([batch.iloc[:5], batch.iloc[:5]], ignore_index=True)
    with pytest.raises(ValueError, match="duplicate"):
        upsert_segment(spark, root, spark.createDataFrame(dup), CFG)


def test_streaming_upsert_foreachbatch(spark, tmp_path):
    """readStream -> foreachBatch(upsert_segment): a later micro-batch
    re-emitting existing (conv_id, turn_idx) keys REPLACES them instead of
    duplicating (Solr overwrite semantics through the streaming path)."""
    import os

    from parser_indexer_spark.incremental import upsert_index_query
    pdf = synthesize_pandas(300)
    repl = pdf.iloc[100:120].copy()
    repl["text"] = ["replacedmarker spark w%04d" % i for i in range(20)]
    new = synthesize_pandas(10, conv_offset=70_000)
    batch2 = pd.concat([repl, new], ignore_index=True)
    src = str(tmp_path / "ups_src")
    os.makedirs(src)
    # file order (slice=0 before slice=1) = micro-batch order: the base
    # corpus must land before the batch that overwrites part of it
    spark.createDataFrame(pdf).coalesce(1).write.parquet(f"{src}/slice=0")
    spark.createDataFrame(batch2).coalesce(1) \
        .write.parquet(f"{src}/slice=1")
    schema = spark.read.parquet(f"{src}/slice=0").schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/slice=*"))
    root = str(tmp_path / "ups_idx")
    q = upsert_index_query(stream, root, CFG,
                           checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    n_base = len(pdf)                         # synthesize_pandas(n) ~ n
    ix = Index(spark, root)
    assert ix.manifest.get("deletes", {}).get("n") == 20
    # appended rows (pre-purge): base corpus + the whole second batch
    assert ix.stats["n_docs"] == n_base + len(batch2)
    got = {r.doc_id
           for r in ix.search("replacedmarker", k=10 ** 6).collect()}
    assert len(got) == 20                     # replacements live
    assert min(got) >= n_base                 # under fresh doc_ids
    # the overwritten versions (base-segment doc_ids of the re-emitted
    # keys) no longer match anything
    keys = set(zip(repl["conv_id"], repl["turn_idx"].astype(int)))
    docs = read_docs(spark, root) \
        .select("doc_id", "conv_id", "turn_idx").toPandas()
    old_ids = {int(r.doc_id) for r in docs.itertuples()
               if (r.conv_id, int(r.turn_idx)) in keys and r.doc_id < n_base}
    assert len(old_ids) == 20
    hits = {r.doc_id for r in ix.search("spark", k=10 ** 6).collect()}
    assert not (hits & old_ids)


def test_upsert_bootstraps_fresh_index(spark, tmp_path):
    root = str(tmp_path / "boot")
    pdf = synthesize_pandas(100)              # returns ~100 rows
    man = upsert_segment(spark, root, spark.createDataFrame(pdf), CFG)
    assert man["stats"]["n_docs"] == len(pdf)
    assert Index(spark, root).search("spark", k=5).count() > 0


def test_cli_upsert_reports_ignored_buckets(spark, tmp_path, capsys):
    """On an existing index the CLI upsert keeps the committed bucket
    count and says so when --buckets asks for another, and honours
    --partitions (the build's shuffle width — speed, not format)."""
    from parser_indexer_spark import cli
    from parser_indexer_spark.manifest import load_manifest
    pdf = synthesize_pandas(200)
    root = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf), root, CFG, segments=1)
    batch = str(tmp_path / "batch.parquet")
    new = synthesize_pandas(10, conv_offset=90_000)
    new.to_parquet(batch)
    assert cli.main(["upsert", "--index", root, "--input", batch,
                     "--buckets", "8", "--partitions", "3"]) == 0
    err = capsys.readouterr().err
    assert "--buckets 8 ignored" in err and "n_buckets=4" in err
    assert "--partitions" not in err
    cfg = load_manifest(root)["config"]
    assert cfg["n_buckets"] == 4 and cfg["build_partitions"] == 3
    assert Index(spark, root).stats["n_docs"] == len(pdf) + len(new)
