"""Distributed segment merge / compaction (C10) — SURVEY.md §2.C10.

Reference analogue: Lucene's background ``TieredMergePolicy`` merges
segments by k-way docID-ordered postings merge [public: Lucene merging].
Engine analogue: one compaction body (``_compact``) reads the chosen
segments' posting blocks, decodes them back to (term, doc_id, tf, dl) rows
(one fused Arrow stage), purges their tombstones, and re-runs the standard
inversion (salted term shuffle + sorted block rebuild) through the one
segment writer into a single new segment. Because doc_ids are globally
unique across segments, the merge is a pure re-layout: the logical index is
unchanged (tested via per-term posting hashes in tests/test_merge.py), but
under-full chunk-boundary blocks from many small segments compact into full
``block_size`` runs — the same win Lucene gets from merging.

``compact_segments`` runs it in place on a select_merges run;
``merge_index`` is the same compaction of every live segment into a NEW
root (with a copy of the doc store). Either way the manifest, written last,
is the commit, so readers never observe a half-merged state
(Iceberg-snapshot semantics on the Parquet fallback, SURVEY.md §7 M8).
"""

from __future__ import annotations

import os
import shutil
from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from parser_indexer_spark.build import (
    TOKENIZE_TF_SCHEMA, finalize_index, read_postings, write_segment,
)
from parser_indexer_spark.codec import (decode_blocks, delta_decode_blocks,
                                        varint_slices)
from parser_indexer_spark.config import EngineConfig
from parser_indexer_spark.deletes import deletes_path, read_tombstones
from parser_indexer_spark.manifest import CATALOG, IndexPaths, now


def _decode_blocks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Posting blocks -> raw (doc_id, term, tf, dl, pos_gaps) rows,
    vectorized. Position payloads pass through as per-posting raw LEB128
    gap slices (same binary wire as the tokenize stage) — the re-inversion
    byte-joins them into new blocks without ever reconstructing absolute
    positions (gaps are within-doc, so they are layout-independent). Old
    FOR-coded position payloads are transcoded to varint here once.

    r6 (VERDICT r5 #4): batched — ONE decode_blocks call per Arrow batch
    per column (the same entry point the query path adopted in r5),
    segmented delta via delta_decode_blocks, and positions decoded as one
    concatenated LEB128 stream sliced back per posting. The per-block
    itertuples loop paid the fixed per-decode Python/numpy cost once per
    <= 128-posting block — the dominant recurring cost of the 100x
    background merge job."""
    for pdf in batches:
        if pdf.empty:
            continue
        ns = pdf["num_docs"].to_numpy(np.int64)
        n_tot = int(ns.sum())
        if n_tot == 0:
            continue
        gaps = decode_blocks(pdf["docs_enc"].to_numpy(), ns)
        d = delta_decode_blocks(
            gaps, ns, pdf["first_doc_id"].to_numpy(np.int64))
        t = decode_blocks(pdf["tfs_enc"].to_numpy(), ns)
        l = decode_blocks(pdf["dls_enc"].to_numpy(), ns)
        terms = np.repeat(pdf["term"].to_numpy(), ns)
        pos_bufs = pdf["pos_enc"].to_numpy()
        has_pos = np.array([p is not None for p in pos_bufs], dtype=bool)
        pgs = np.empty(n_tot, dtype=object)       # None-initialized
        if has_pos.any():
            tf_i64 = t.astype(np.int64, copy=False)
            block_starts = np.concatenate(([0], np.cumsum(ns)[:-1]))
            npos_blk = np.add.reduceat(tf_i64, block_starts)
            sel = np.flatnonzero(has_pos)
            gaps_flat = decode_blocks([pos_bufs[i] for i in sel],
                                      npos_blk[sel])
            post_sel = np.repeat(has_pos, ns)
            tf_sel = tf_i64[post_sel]
            starts_post = np.concatenate(([0], np.cumsum(tf_sel)[:-1]))
            slices = varint_slices(gaps_flat, starts_post)
            sl_arr = np.empty(len(slices), dtype=object)
            sl_arr[:] = slices
            pgs[post_sel] = sl_arr
        yield pd.DataFrame({
            "doc_id": d,
            "term": terms,
            "tf": t.astype(np.int32),
            "dl": l.astype(np.int32),
            "pos_gaps": pgs,
        })


def merge_index(spark: SparkSession, src_root: str, dst_root: str,
                cfg: EngineConfig | None = None) -> dict:
    """Compact every live segment of src_root into one segment of a new
    index at dst_root, purging every tombstone. dst_root gets a copy of
    the doc store; nothing under src_root is written. Returns the new
    manifest."""
    man = CATALOG.load_snapshot(src_root)
    sp, dp = IndexPaths(src_root), IndexPaths(dst_root)
    if os.path.exists(dp.root):
        shutil.rmtree(dp.root)
    # the doc store's seg=N partitions; "_" files (the source build's
    # resume marker, _SUCCESS) are not table data
    shutil.copytree(sp.docs, dp.docs, ignore=shutil.ignore_patterns("_*"))
    return _compact(spark, src_root, dst_root, man,
                    [s["seg"] for s in man["segments"]], cfg)


# ------------------------------------------------- tiered merge policy ---

def select_merges(root: str, ratio: float = 2.0, min_run: int = 2,
                  max_run: int = 8) -> list[list[int]]:
    """Tiered merge selection [public: Lucene TieredMergePolicy]: group
    size-sorted live segments into runs where every member is within
    ``ratio`` of the run's smallest segment (by n_postings), runs capped at
    ``max_run``. Only size-similar segments merge, so total merge I/O over
    an index's lifetime amortizes to O(n log n) instead of the O(n^2) that
    always-full recompaction (merge_index) costs under streaming appends.
    Returns a list of segment-id lists, each a candidate compaction."""
    man = CATALOG.load_snapshot(root)
    rows = sorted(man["segments"], key=lambda s: (s["n_postings"], s["seg"]))
    runs: list[list[int]] = []
    cur: list[dict] = []
    for s in rows:
        if cur and s["n_postings"] <= ratio * max(1, cur[0]["n_postings"]) \
                and len(cur) < max_run:
            cur.append(s)
        else:
            if len(cur) >= min_run:
                runs.append([x["seg"] for x in cur])
            cur = [s]
    if len(cur) >= min_run:
        runs.append([x["seg"] for x in cur])
    return runs


def compact_segments(spark: SparkSession, root: str, segs: list[int],
                     cfg: EngineConfig | None = None) -> dict:
    """Compact ONLY ``segs`` (a select_merges run) into one new segment,
    IN PLACE: decode just those segments' blocks, re-invert into segment id
    max+1, recommit the manifest over the surviving segment set, then drop
    the merged segments' files. Untouched segments are never read — their
    posting files, per-segment dicts, and manifest rows are reused as-is
    (asserted by tests/test_merge.py's mtime check).

    Crash safety: the new segment is written and its manifest row committed
    BEFORE the snapshot recommit (a replay overwrites it idempotently), and
    old segment dirs are removed only AFTER the new _manifest.json no
    longer references them — readers always see a consistent snapshot."""
    return _compact(spark, root, root, CATALOG.load_snapshot(root), segs,
                    cfg)


def _compact(spark: SparkSession, src_root: str, dst_root: str, man: dict,
             segs: list[int], cfg: EngineConfig | None) -> dict:
    """The one compaction body: decode the blocks of ``segs`` (live in the
    snapshot ``man`` of src_root), purge their tombstones, write them as
    one new segment of dst_root (src_root itself for an in-place
    compaction, whose doc store dst_root then shares) and commit.

    The new segment takes the next id (one above the highest live one),
    so a later append never lands on an existing doc-store partition.
    Purge [public: Lucene liveDocs drop at merge]: tombstones inside the
    merged segments' doc ranges leave the postings, the doc store and
    n_docs; a run over every live segment purges every tombstone, a
    partial run carries the rest into a new generation."""
    t0 = now()
    cfg = cfg or EngineConfig.from_dict(man["config"])
    # a compaction re-inverts decoded postings: it can only CARRY
    # positions, never create them (ADVICE r4) — fail fast with the reason
    if cfg.positions and not man["config"].get("positions"):
        raise ValueError(
            "compaction: cfg.positions=True but the source index was built "
            "without positional payloads; positions cannot be synthesized "
            "from postings — rebuild from the raw input instead")
    dp = IndexPaths(dst_root)
    live = {s["seg"]: s for s in man["segments"]}
    segs = sorted(segs)
    if not segs or any(s not in live for s in segs):
        raise ValueError(f"compaction run {segs} not within live segments "
                         f"{sorted(live)}")
    new_seg = max(live) + 1

    blocks = read_postings(spark, src_root, segs=segs)
    if "pos_enc" not in blocks.columns:
        # postings written before the positional format (ADVICE r3): treat
        # them exactly like a positions=False build
        blocks = blocks.withColumn("pos_enc", F.lit(None).cast("binary"))
    tf = blocks.select("term", "num_docs", "first_doc_id",
                       "docs_enc", "tfs_enc", "dls_enc", "pos_enc") \
               .mapInPandas(_decode_blocks, TOKENIZE_TF_SCHEMA)
    lo = min(live[s]["doc_lo"] for s in segs)
    hi = max(live[s]["doc_hi"] for s in segs)
    dels = man.get("deletes")
    ts = read_tombstones(src_root, dels["gen"]) \
        if dels and dels.get("n") else None
    if ts is None:
        ts = np.empty(0, dtype=np.int64)
    in_run = np.full(ts.size, set(segs) == set(live))
    for sg in segs:
        in_run |= (ts >= live[sg]["doc_lo"]) & (ts <= live[sg]["doc_hi"])
    purged, remaining = ts[in_run], ts[~in_run]
    n_removed = 0
    if purged.size:
        del_df = spark.createDataFrame(
            pd.DataFrame({"doc_id": purged}), "doc_id long")
        tf = tf.join(F.broadcast(del_df), "doc_id", "left_anti")
        # rewrite ONLY the doc-store partitions holding purged ids (dynamic
        # partition overwrite: the others keep their files), and count the
        # rows actually removed — a bogus tombstone id must not understate
        # n_docs (ADVICE r5)
        docs = CATALOG.read_table(spark, dp.docs)
        hit_rows = (docs.join(F.broadcast(del_df), "doc_id", "left_semi")
                    .groupBy("seg").count().collect())
        hit = [r["seg"] for r in hit_rows]
        n_removed = int(sum(r["count"] for r in hit_rows))
        if hit:
            CATALOG.write_table(
                docs.where(F.col("seg").isin(hit))
                    .join(F.broadcast(del_df), "doc_id", "left_anti"),
                dp.docs, partition_by="seg", dynamic=True)
    write_segment(spark, dp, new_seg, cfg, tf, (lo, hi), t0)

    deletes_left = None
    if remaining.size:
        gen = int(dels["gen"]) + 1
        CATALOG.write_table(
            spark.createDataFrame(pd.DataFrame({"doc_id": remaining}),
                                  "doc_id long"),
            deletes_path(dst_root, gen))
        deletes_left = {"gen": gen, "n": int(remaining.size)}
    meta = {"n_docs": int(man["stats"]["n_docs"]) - n_removed,
            "max_doc_id": man["max_doc_id"],
            "last_batch_id": man.get("last_batch_id")}
    manifest = finalize_index(
        spark, dst_root, cfg, meta,
        [s for s in live if s not in segs] + [new_seg],
        input_desc=f"compaction of {src_root} segs {segs} -> {new_seg}",
        t0=t0, deletes=deletes_left)
    # drop what the commit stopped referencing; a copy into a new root
    # has none of it
    for s in segs:
        shutil.rmtree(dp.postings_seg(s), ignore_errors=True)
        shutil.rmtree(dp.dict_seg(s), ignore_errors=True)
        shutil.rmtree(dp.impacts_seg(s), ignore_errors=True)
        if os.path.exists(dp.segment_manifest(s)):
            os.remove(dp.segment_manifest(s))
    if dels and dels.get("n"):
        shutil.rmtree(deletes_path(dst_root, int(dels["gen"])),
                      ignore_errors=True)
    return manifest
