"""Index build pipeline (C1-C13) — SURVEY.md §2.C, §3.1, §7 M3/M6/M7.

The reference path is: Tika parse -> JSONL -> SolrJ add() -> Lucene
IndexWriter in-memory inversion + segment flush + background merges
[upstream pipeline — UNVERIFIED; public: Solr/Lucene indexing path]. The
engine re-expresses inversion as Spark's shuffle: the
``repartition(term, salt) + sortWithinPartitions(term, doc_id)`` exchange IS
the invert-and-flush, and one fused Arrow stage per leg keeps everything
vectorized (BASELINE.json:6,15).

Physical plan per segment (doc_id range slice):
    docs/seg=s parquet scan (column-pruned to doc_id, text)
      -> mapInPandas tokenize+tf           (C1-C2, Arrow kernels)
      -> groupBy(term).count()             (exact df; map-side partial agg
                                            makes this shuffle ~|vocab|)
      -> hot terms (df > threshold) get a doc-RANGE salt (C11): ranges are
         disjoint and ordered, so salted groups emit non-overlapping,
         chunk-aligned blocks needing no re-merge
      -> repartition(P, term, _salt) + sortWithinPartitions(term, doc_id)
      -> mapInPandas block builder         (C3-C6: cut at <=block_size AND
                                            chunk boundaries; delta + FOR
                                            bit-packing by default, varint
                                            retained — payloads are
                                            codec-tagged, segments may mix)
      -> write partitionBy(bucket)         (A4: shard writer)
      -> per-segment manifest row          (C12-C13: metrics + lineage)

Resume: segments with a manifest row are skipped; doc_id assignment is a
deterministic function of the input (docids.py), so a resumed build is
logically identical to an uninterrupted one (tested, SURVEY.md §5.7).
"""

from __future__ import annotations

import zlib
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
from pyspark.storagelevel import StorageLevel

from parser_indexer_spark.analyze import TOKENIZE_TF_SCHEMA, make_tokenize_tf
from parser_indexer_spark.codec import for_encode_blocks, varint_encode_stream
from parser_indexer_spark.config import EngineConfig
from parser_indexer_spark.docids import assign_doc_ids
from parser_indexer_spark.manifest import CATALOG, IndexPaths, now

POSTINGS_SCHEMA = (
    "term string, bucket int, chunk long, first_doc_id long, "
    "last_doc_id long, num_docs int, max_tf int, min_dl int, sum_tf long, "
    "docs_enc binary, tfs_enc binary, dls_enc binary, pos_enc binary"
)
POSTINGS_COLS = [c.split(" ")[0] for c in POSTINGS_SCHEMA.split(", ")]


def term_bucket(term: str, n_buckets: int) -> int:
    """Deterministic term -> partition bucket (query-time pruning, D2)."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def tokenize_with_fields(docs: DataFrame, cfg: EngineConfig) -> DataFrame:
    """C1+C2 over the text column plus every cfg.fields column (multi-field
    search, Solr qf analogue): each field is tokenized with the SAME
    analyzer and its terms prefixed "<field>:" (':' cannot occur inside an
    analyzer token, so fielded and text terms never collide). Each fielded
    posting carries the FIELD's own dl, so query-time BM25 normalizes per
    field (BM25F-style per-field length norm [public: Robertson & Zaragoza
    2009 §3.5; Lucene PerFieldSimilarity]). One mapInPandas leg per field,
    unioned BEFORE the single term shuffle — still a one-exchange build."""
    tok = make_tokenize_tf(cfg.stopwords, positions=cfg.positions)
    tf = docs.select("doc_id", "text").mapInPandas(tok, TOKENIZE_TF_SCHEMA)
    for f in cfg.fields:
        ftf = (docs.select("doc_id", F.col(f).cast("string").alias("text"))
                   .mapInPandas(tok, TOKENIZE_TF_SCHEMA)
                   .withColumn("term", F.concat(F.lit(f + ":"),
                                                F.col("term"))))
        tf = tf.unionByName(ftf)
    return tf


def _encode_rows(terms: np.ndarray, d: np.ndarray, t: np.ndarray,
                 l: np.ndarray, cfg: EngineConfig,
                 pg: Optional[np.ndarray] = None) -> pd.DataFrame:
    """Vectorized block construction for a (term, doc_id)-sorted row range
    containing only COMPLETE term runs. Whole-range batch encode per column
    (FOR: one bit-scatter pass per distinct width + one packbits; varint:
    one stream encode), then per-block work is just byte slicing. (A
    per-block numpy-encode variant measured ~55us/block — batch encode +
    slice is ~20x cheaper on tail terms.)"""


    bs, cbits, nb = cfg.block_size, cfg.chunk_bits, cfg.n_buckets
    n = d.size
    # segment cuts: term change OR chunk change
    chunk = d >> np.int64(cbits)
    cut = np.empty(n, dtype=bool)
    cut[0] = True
    cut[1:] = (terms[1:] != terms[:-1]) | (chunk[1:] != chunk[:-1])
    seg_starts = np.flatnonzero(cut)
    seg_lens = np.diff(np.append(seg_starts, n))
    # blocks: every seg split into ceil(len/bs) pieces (grouped arange)
    nblocks = -(-seg_lens // bs)
    tot = int(nblocks.sum())
    seg_of_block = np.repeat(np.arange(seg_starts.size), nblocks)
    first_block_of_seg = np.concatenate(([0], np.cumsum(nblocks)[:-1]))
    within = np.arange(tot) - first_block_of_seg[seg_of_block]
    bstarts = seg_starts[seg_of_block] + within * bs
    bends = np.minimum(bstarts + bs, (seg_starts + seg_lens)[seg_of_block])

    # per-block gaps: first gap of each block is 0 (base = first_doc_id)
    gaps = np.empty(n, dtype=np.int64)
    gaps[0] = 0
    gaps[1:] = d[1:] - d[:-1]
    gaps[bstarts] = 0
    nonstart = np.ones(n, dtype=bool)
    nonstart[bstarts] = False
    if n and nonstart.any() and gaps[nonstart].min() <= 0:
        raise ValueError("doc_ids not strictly ascending within term run")

    # positional payload (D-phrase): pg is an object array of PER-POSTING
    # raw LEB128 gap-stream slices (analyze.varint_slices); LEB128 streams
    # concatenate, so a block's payload is just the byte-join of its
    # postings' slices — no decode, no re-encode, no Arrow list column
    # (VERDICT r3 #2). Positional payloads are therefore always
    # varint-tagged, independent of cfg.codec (payloads are codec-tagged
    # per column, so mixing FOR doc/tf/dl with varint positions is fine).
    pos_enc = None
    if pg is not None:
        pos_enc = [b"V" + b"".join(pg[s:e])
                   for s, e in zip(bstarts.tolist(), bends.tolist())]

    if cfg.codec == "for":
        docs_enc = for_encode_blocks(gaps.astype(np.uint64), bstarts, bends)
        tfs_enc = for_encode_blocks(t.astype(np.uint64), bstarts, bends)
        dls_enc = for_encode_blocks(l.astype(np.uint64), bstarts, bends)
    else:
        d_stream, d_nb = varint_encode_stream(gaps.astype(np.uint64))
        t_stream, t_nb = varint_encode_stream(t.astype(np.uint64))
        l_stream, l_nb = varint_encode_stream(l.astype(np.uint64))
        d_off = np.concatenate(([0], np.cumsum(d_nb)))
        t_off = np.concatenate(([0], np.cumsum(t_nb)))
        l_off = np.concatenate(([0], np.cumsum(l_nb)))
        d_mv, t_mv, l_mv = (memoryview(d_stream), memoryview(t_stream),
                            memoryview(l_stream))
        docs_enc = [b"V" + d_mv[d_off[s]:d_off[e]].tobytes()
                    for s, e in zip(bstarts.tolist(), bends.tolist())]
        tfs_enc = [b"V" + t_mv[t_off[s]:t_off[e]].tobytes()
                   for s, e in zip(bstarts.tolist(), bends.tolist())]
        dls_enc = [b"V" + l_mv[l_off[s]:l_off[e]].tobytes()
                   for s, e in zip(bstarts.tolist(), bends.tolist())]

    max_tf = np.maximum.reduceat(t, bstarts)
    min_dl = np.minimum.reduceat(l, bstarts)
    sum_tf = np.add.reduceat(t, bstarts)
    bterms = terms[bstarts]
    uniq = pd.unique(bterms)
    bmap = {u: term_bucket(u, nb) for u in uniq}
    buckets = pd.Series(bterms).map(bmap).to_numpy(dtype=np.int32)

    return pd.DataFrame({
        "term": bterms,
        "bucket": buckets,
        "chunk": chunk[bstarts],
        "first_doc_id": d[bstarts],
        "last_doc_id": d[bends - 1],
        "num_docs": (bends - bstarts).astype(np.int32),
        "max_tf": max_tf.astype(np.int32),
        "min_dl": min_dl.astype(np.int32),
        "sum_tf": sum_tf.astype(np.int64),
        "docs_enc": docs_enc,
        "tfs_enc": tfs_enc,
        "dls_enc": dls_enc,
        "pos_enc": pos_enc if pos_enc is not None else [None] * tot,
    })


def make_block_builder(cfg: EngineConfig):
    """mapInPandas stage: sorted (term, doc_id, tf, dl) rows -> posting-block
    rows. Input partition MUST be sorted by (term, doc_id); term runs may span
    Arrow batches (the last run of each batch is carried into the next).
    Blocks never cross a chunk boundary so all terms' blocks align on the
    same doc-range grid (enables the one-shuffle AND intersection, D4)."""

    use_pos = cfg.positions

    def encode(part: pd.DataFrame) -> pd.DataFrame:
        pg = None
        if use_pos:
            pg = part["pos_gaps"].to_numpy()  # object array of raw slices
        return _encode_rows(
            part["term"].to_numpy(),
            part["doc_id"].to_numpy(dtype=np.int64),
            part["tf"].to_numpy(dtype=np.int64),
            part["dl"].to_numpy(dtype=np.int64), cfg, pg=pg)

    def builder(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: Optional[pd.DataFrame] = None
        for pdf in batches:
            if pdf.empty:
                continue
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            terms = pdf["term"].to_numpy()
            # hold back the (possibly incomplete) final term run
            last_start = int(np.flatnonzero(terms != terms[-1]).max() + 1) \
                if terms[0] != terms[-1] else 0
            carry = pdf.iloc[last_start:]
            head = pdf.iloc[:last_start]
            if len(head):
                yield encode(head)
        if carry is not None and len(carry):
            yield encode(carry)

    return builder


# ------------------------------------------------------------- the build ---

def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    cfg: EngineConfig = EngineConfig(),
    segments: int = 1,
    input_desc: str = "",
    resume: bool = True,
    doc_id_col: Optional[str] = None,
    extra_docs_meta: Optional[dict] = None,
    _fail_after_segments: Optional[int] = None,  # fault injection (tests)
) -> dict:
    """Build (or resume) a full index at ``out_dir``; returns the manifest.

    ``transcripts`` must have a ``text`` column plus EITHER unique
    (conv_id, turn_idx) — dense doc_ids get assigned by that total order
    (BASELINE.json:15) — OR ``doc_id_col`` naming an existing unique
    non-negative int64 id (e.g. testdata ``documents.doc_id``), used as-is
    (delta encoding only needs ascending ids; density just compresses best).

    Resume: the docs marker (phase A's record) and the per-segment
    manifest rows let a crashed build finish; once ``_manifest.json`` is
    committed the build is done, and later appends and compactions
    commit only there, so a resumed call returns that snapshot.
    """
    p = IndexPaths(out_dir)
    if resume and CATALOG.meta_exists(p.manifest):
        return CATALOG.load_snapshot(out_dir)
    t0 = now()

    # Small inputs (bench scale) arrive in fewer scan partitions than cores;
    # widen once so every downstream stage parallelizes. At real scale the
    # scan already has >= build_partitions splits and this no-ops. Count
    # first (only where needed — r6: the doc_id_col path gets its exact
    # count from the phase-A agg anyway, so the extra job is skipped): on
    # a raw parquet scan Spark answers count() from footer metadata, so it
    # is ~free before the repartition but a full execution after it.
    n_input = transcripts.count() if doc_id_col is None else None
    if transcripts.rdd.getNumPartitions() < cfg.build_partitions:
        transcripts = transcripts.repartition(cfg.build_partitions)

    # ---- phase A: doc store (stored fields) + dense doc_ids -------------
    # Job-fusion note (VERDICT r1 #5): a fresh build persists the id'd rows
    # ONCE and feeds both the doc-store write and the phase-B tokenize from
    # that cache — one parquet decode of the text column instead of two.
    # The raw source is deliberately NOT cached: the doc_id sample/count
    # jobs read only (conv_id, turn_idx) via parquet column pruning, so
    # caching the full rows for them costs more (columnar build + memory-
    # manager churn at high task counts; A/B-measured +30us/turn CPU at 8
    # cores) than the two pruned scans it saves. SPARK_GRAFT_NO_CACHE=1
    # disables caching entirely (diagnostics).
    import os as _os
    no_cache = _os.environ.get("SPARK_GRAFT_NO_CACHE") == "1"
    ids_cached = None   # persisted (doc_id'd) rows, reused by phase B
    if resume and CATALOG.meta_exists(p.docs_marker):
        docs_meta = CATALOG.read_meta(p.docs_marker)
        n_docs = docs_meta["n_docs"]
    else:
        if doc_id_col is not None:
            ids = transcripts
            if doc_id_col != "doc_id":
                ids = ids.withColumnRenamed(doc_id_col, "doc_id")
            ids = ids.withColumn("doc_id", F.col("doc_id").cast("long"))
            if not no_cache:
                ids = ids.persist(StorageLevel.MEMORY_AND_DISK)
            agg = ids.agg(F.count("*"), F.max("doc_id"),
                          F.countDistinct("doc_id")).first()
            n_docs, max_id, n_distinct = agg[0], (agg[1] or 0), agg[2]
            if n_distinct != n_docs:
                raise ValueError("doc_id column is not unique")
        else:
            ids = assign_doc_ids(transcripts,
                                 partitions=cfg.build_partitions,
                                 n_rows=n_input)
            if not no_cache:
                ids = ids.persist(StorageLevel.MEMORY_AND_DISK)
            # internally-assigned ids are dense 0..n_input-1 by construction
            n_docs, max_id = n_input, max(0, n_input - 1)
        seg_expr = F.least(F.lit(segments - 1),
                           (F.col("doc_id") * segments / F.lit(max(1, max_id + 1)))
                           .cast("long"))
        ids_base = ids  # the persisted node (unpersist must hit exactly it)
        ids_seg = ids.withColumn("seg", seg_expr)
        CATALOG.write_table(ids_seg, p.docs, partition_by="seg")
        ids_cached = None if no_cache else ids_seg
        docs_meta = {
            "n_docs": n_docs,
            "max_doc_id": int(max_id),
            "segments": segments,
            "input": input_desc,
            "analyzer_version": cfg.analyzer_version,
            "wall_sec": now() - t0,
        }
        # extra_docs_meta rides in the SAME atomic marker write (ADVICE
        # r3): a streaming bootstrap records last_batch_id here, and the
        # commit below carries it into the manifest
        if extra_docs_meta:
            docs_meta.update(extra_docs_meta)
        CATALOG.write_meta(p.docs_marker, docs_meta)

    seg_count = docs_meta["segments"]

    # ---- phase B: per-segment inverted-index build (resumable) ----------
    done = set(CATALOG.completed_segments(out_dir)) if resume else set()
    built_this_run = 0
    try:
        for seg in range(seg_count):
            if seg in done:
                continue
            _build_segment(spark, p, seg, cfg, docs_meta,
                           docs_df=ids_cached)
            built_this_run += 1
            if _fail_after_segments is not None and \
                    built_this_run >= _fail_after_segments:
                raise RuntimeError(
                    f"injected failure after {built_this_run} segments (test)")
    finally:
        if ids_cached is not None:
            ids_base.unpersist()

    # ---- phase C: dictionary + stats + atomic manifest commit -----------
    return finalize_index(spark, out_dir, cfg, docs_meta, range(seg_count),
                          input_desc, t0)


def finalize_index(spark: SparkSession, out_dir: str, cfg: EngineConfig,
                   docs_meta: dict, segments, input_desc: str,
                   t0: float, deletes: dict | None = None) -> dict:
    """Phase C (C7/C9/C12): dict + stats from the committed segments, then
    the manifest written LAST = the atomic snapshot commit.

    O(vocab), NOT O(index): the merged dictionary aggregates the tiny
    per-segment dict tables (df/cf are additive over segments) — no
    committed posting block is re-read, so appending a small segment to a
    huge index costs the new segment plus a vocabulary-sized agg
    (VERDICT r2 #1; tested by removing old postings before an append).

    ``docs_meta`` gives the snapshot's ``n_docs``, its doc-id watermark
    ``max_doc_id`` and, for streaming writes, ``last_batch_id``; the
    manifest records the last two, so the next append, upsert or
    compaction reads its replay guard and next ids from the snapshot.

    ``segments``: the live segment ids (non-contiguous after a
    compaction)."""
    p = IndexPaths(out_dir)
    segs = sorted(segments)
    seg_rows = [CATALOG.read_meta(p.segment_manifest(s)) for s in segs]
    import os as _os
    for s in segs:
        if not _os.path.isdir(p.dict_seg(s)):
            # back-compat (ADVICE r3): segments committed before the
            # per-segment-dict format have no dict_segs/seg=N — rebuild it
            # ONCE from that segment's postings (upgrade-on-touch; later
            # finalizes are O(vocab) again)
            seg_post = CATALOG.read_table(spark, p.postings_seg(s))
            CATALOG.write_table(
                seg_post.groupBy("term")
                        .agg(F.sum("num_docs").alias("df"),
                             F.sum("sum_tf").alias("cf"),
                             F.first("bucket").alias("bucket")),
                p.dict_seg(s), partition_by="bucket")
    seg_dicts = CATALOG.read_table(
        spark, *[p.dict_seg(s) for s in segs],
        base_path=p.dict_segs)
    CATALOG.write_table(
        seg_dicts.groupBy("term")
                 .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"),
                      F.first("bucket").alias("bucket")),
        p.dict, partition_by="bucket")
    # totals from the (tiny) dict + the per-segment manifests — no second
    # full pass over the postings. Fielded terms ("<field>:<term>") get
    # their own per-field sum_dl/avg_dl (BM25 normalizes per field); the
    # headline text stats exclude them, so single-field indexes are
    # bit-identical to the pre-fields format.
    is_field = F.col("term").contains(":")
    pref = F.when(is_field, F.split(F.col("term"), ":").getItem(0)) \
            .otherwise(F.lit(""))
    rows = (CATALOG.read_table(spark, p.dict)
            .groupBy(pref.alias("fld"))
            .agg(F.count("*").alias("n_terms"),
                 F.sum("df").alias("n_postings"),
                 F.sum("cf").alias("sum_dl")).collect())
    by_fld = {r["fld"]: r for r in rows}
    text = by_fld.get("", {"n_terms": 0, "n_postings": 0, "sum_dl": 0})
    n_docs = docs_meta["n_docs"]
    stats = {
        "n_docs": n_docs,
        "sum_dl": int(text["sum_dl"] or 0),
        "avg_dl": (int(text["sum_dl"] or 0) / max(1, n_docs)),
        "n_terms": int(sum(r["n_terms"] for r in rows)),
        "n_postings": int(sum(r["n_postings"] for r in rows)),
        "n_blocks": int(sum(s["n_blocks"] for s in seg_rows)),
    }
    # per-field docCount (VERDICT r4 #7) [public: Lucene per-field BM25
    # docCount]: avg_dl of a field normalizes by the docs that HAVE the
    # field, not the whole corpus — summed from the per-segment census
    # rows (additive). Segments written before the format carry no
    # field_docs; fall back to n_docs for them (old behavior, documented).
    fdocs: dict[str, int] = {}
    complete = True
    for s in seg_rows:
        fd = s.get("field_docs")
        if fd is None:
            complete = False
            break
        for f, c in fd.items():
            fdocs[f] = fdocs.get(f, 0) + int(c)
    fields = {}
    for f, r in by_fld.items():
        if not f:
            continue
        nf = fdocs.get(f, 0) if complete else n_docs
        nf = nf or n_docs
        fields[f] = {"n_terms": int(r["n_terms"]),
                     "n_postings": int(r["n_postings"]),
                     "sum_dl": int(r["sum_dl"] or 0),
                     "n_docs": int(nf),
                     "avg_dl": int(r["sum_dl"] or 0) / max(1, nf)}
    if fields:
        stats["fields"] = fields
    manifest = {
        "format": "parser-indexer-spark/v1",
        "config": cfg.to_dict(),
        "input": input_desc,
        "n_segments": len(segs),
        "stats": stats,
        "segments": seg_rows,
        "max_doc_id": int(docs_meta["max_doc_id"]),
        "wall_sec_total": now() - t0,
    }
    if docs_meta.get("last_batch_id") is not None:
        manifest["last_batch_id"] = int(docs_meta["last_batch_id"])
    if deletes and deletes.get("n"):
        # carry the live tombstone generation across a recommit (appends,
        # partial compactions); a full merge passes None = purged
        manifest["deletes"] = {"gen": int(deletes["gen"]),
                               "n": int(deletes["n"])}
    CATALOG.commit_snapshot(out_dir, manifest)  # LAST write = commit (C12)
    return manifest


def _write_impacts(spark: SparkSession, p: IndexPaths, seg: int,
                   cfg: EngineConfig, tf: DataFrame,
                   imp_terms: list, avgdl_proxy: float = 0.0) -> int:
    """Impact sidecar for high-df terms [public: Lucene 8 impacts; Anh &
    Moffat 2006 impact ordering]: per (term in imp_terms) persist the
    top-``cfg.impact_top`` postings by BM25 tf-norm upper bound, plus ONE
    bound row (doc_id = -1) holding (max tf, min dl) over every posting
    NOT in the sidecar. At query time a head-term top-k whose k-th sidecar
    score strictly beats the bound needs ZERO posting decode — the 4M-turn
    head-term p95 fix (VERDICT r3 #1).

    Selection order uses a PROXY avgdl (partition mean, then candidate
    mean) — only WHICH postings are kept depends on it; losslessness rests
    on the bound rows: one row per DISTINCT excluded tf carrying the min
    dl at that tf (the impact skyline [public: Lucene ImpactsEnum]). Every
    excluded posting (tf, dl) is dominated by its tf's skyline pair
    (same tf, dl >= min dl), so max over skyline rows of tf_norm
    upper-bounds every excluded score under ANY query-time avgdl — and,
    unlike a single cross-combined (max tf, min dl) pair, the bound is
    TIGHT (achieved by a real posting), so flat score distributions still
    separate. Two-stage top-I: O(I)-state streaming selection per build
    partition (no term-sorted shuffle of raw postings), then a tiny
    window over <= partitions*I rows per term."""
    if not imp_terms:
        return 0
    I, k1, b = cfg.impact_top, cfg.k1, cfg.b
    nb = cfg.n_buckets
    imp_df = spark.createDataFrame(
        [(t, term_bucket(t, nb)) for t in imp_terms], "term string, bucket int")
    sub = tf.join(F.broadcast(imp_df.select("term")), "term")
    SCHEMA = "term string, doc_id long, tf int, dl int"

    def local_top(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # streaming per-term state: top-I arrays + excluded skyline
        # {tf -> min dl} (exact pairs, never cross-combined)
        state: dict = {}   # term -> [d, tf, dl, skyline_dict]
        for pdf in batches:
            if pdf.empty:
                continue
            for t, g in pdf.groupby("term", sort=False):
                d = g["doc_id"].to_numpy(dtype=np.int64)
                ta = g["tf"].to_numpy(dtype=np.int64)
                la = g["dl"].to_numpy(dtype=np.int64)
                st = state.get(t)
                if st is not None:
                    d = np.concatenate([st[0], d])
                    ta = np.concatenate([st[1], ta])
                    la = np.concatenate([st[2], la])
                    sky = st[3]
                else:
                    sky = {}
                if d.size > I:
                    A = max(1.0, float(la.mean()))   # selection proxy
                    s = ta / (ta + k1 * (1.0 - b + b * la / A))
                    order = np.lexsort((d, -s))
                    keep, excl = order[:I], order[I:]
                    ex_tf, ex_dl = ta[excl], la[excl]
                    u_tf, inv = np.unique(ex_tf, return_inverse=True)
                    m_dl = np.full(u_tf.size, np.iinfo(np.int64).max,
                                   dtype=np.int64)
                    np.minimum.at(m_dl, inv, ex_dl)
                    for tfv, dlv in zip(u_tf.tolist(), m_dl.tolist()):
                        prev = sky.get(tfv)
                        if prev is None or dlv < prev:
                            sky[tfv] = dlv
                    d, ta, la = d[keep], ta[keep], la[keep]
                state[t] = [d, ta, la, sky]
        for t, (d, ta, la, sky) in state.items():
            out = pd.DataFrame({
                "term": t, "doc_id": d,
                "tf": ta.astype(np.int32), "dl": la.astype(np.int32)})
            if sky:   # partition-local exclusion skyline rows
                out = pd.concat([out, pd.DataFrame(
                    {"term": t, "doc_id": np.int64(-1),
                     "tf": np.array(sorted(sky), dtype=np.int32),
                     "dl": np.array([sky[x] for x in sorted(sky)],
                                    dtype=np.int32)})],
                    ignore_index=True)
            yield out

    # stage-2 selection proxy: posting-weighted mean dl of the impact
    # terms, computed driver-side from the census rows (r4: no extra
    # Spark job). Any proxy is selection-only; bounds stay exact.
    a2 = float(avgdl_proxy or 1.0)
    bucket_of = {t: term_bucket(t, nb) for t in imp_terms}
    OUT_SCHEMA = "term string, doc_id long, tf int, dl int, bucket int"

    def final_select(key, pdf: pd.DataFrame) -> pd.DataFrame:
        # r6: stage 2 as ONE grouped-map stage (was: persist + window +
        # two unions + two broadcast joins — four codegen stages and an
        # extra job per build). Selection and skyline merge are identical:
        # global top-I by (proxy score desc, doc_id asc); one bound row
        # per distinct excluded tf with the min dl at that tf, merging the
        # rows dropped here with the partitions' local skyline rows; plus
        # the (tf=0, dl=1) coverage-certificate marker every term gets.
        t = key[0]
        bkt = bucket_of[t]
        pos = pdf[pdf["doc_id"] >= 0]
        d = pos["doc_id"].to_numpy(np.int64)
        ta = pos["tf"].to_numpy(np.int64)
        la = pos["dl"].to_numpy(np.int64)
        s = ta / (ta + k1 * (1.0 - b + b * la / a2))
        order = np.lexsort((d, -s))
        keep, excl = order[:I], order[I:]
        sky: dict = {}
        for tfv, dlv in zip(ta[excl].tolist(), la[excl].tolist()):
            prev = sky.get(tfv)
            if prev is None or dlv < prev:
                sky[tfv] = dlv
        neg = pdf[pdf["doc_id"] < 0]
        for tfv, dlv in zip(neg["tf"].tolist(), neg["dl"].tolist()):
            prev = sky.get(tfv)
            if prev is None or dlv < prev:
                sky[tfv] = dlv
        sky_tfs = sorted(sky)
        return pd.DataFrame({
            "term": t,
            "doc_id": np.concatenate([d[keep],
                                      np.full(len(sky_tfs) + 1, -1,
                                              dtype=np.int64)]),
            "tf": np.concatenate([ta[keep], np.array(sky_tfs, np.int64),
                                  [0]]).astype(np.int32),
            "dl": np.concatenate([la[keep],
                                  np.array([sky[x] for x in sky_tfs],
                                           np.int64), [1]]).astype(np.int32),
            "bucket": np.int32(bkt),
        })

    out = sub.select("term", "doc_id", "tf", "dl") \
             .mapInPandas(local_top, SCHEMA) \
             .groupBy("term").applyInPandas(final_select, OUT_SCHEMA)
    CATALOG.write_table(out, p.impacts_seg(seg), partition_by="bucket")
    return len(imp_terms)


def invert_and_write_segment(spark: SparkSession, p: IndexPaths, seg: int,
                             cfg: EngineConfig, tf: DataFrame,
                             doc_range: tuple[int, int]) -> dict:
    """Core inversion (C3-C6, C11): tf rows -> salted term shuffle ->
    sorted block build -> bucket-partitioned write (+ the impact sidecar
    for high-df terms). Returns {"n_hot": .., "n_impact_terms": ..}.
    Runs inside write_segment, for builds, appends and compactions."""
    lo, hi = doc_range
    span = max(1, hi - lo + 1)
    # skew census: exact df via map-side-combinable agg (shuffle ~|vocab|),
    # shared by salting (df > salt_df_threshold), the impact sidecar term
    # set (df > impact_df_threshold), AND the sidecar's avgdl selection
    # proxy (sum(dl)/count over impact rows) — ONE job, three consumers
    lo_thresh = min(cfg.salt_df_threshold, cfg.impact_df_threshold)
    census = (tf.groupBy("term")
              .agg(F.count("*").alias("count"), F.sum("dl").alias("sdl"))
              .where(F.col("count") > lo_thresh).collect())
    hot = [r["term"] for r in census if r["count"] > cfg.salt_df_threshold]
    imp_rows = [r for r in census if r["count"] > cfg.impact_df_threshold]
    imp_terms = [r["term"] for r in imp_rows]
    imp_n = sum(r["count"] for r in imp_rows)
    avgdl_proxy = (sum(r["sdl"] for r in imp_rows) / imp_n) if imp_n else 0.0
    if hot:
        hot_df = spark.createDataFrame([(t,) for t in hot], "term string") \
                      .withColumn("_hot", F.lit(True))
        tf2 = tf.join(F.broadcast(hot_df), "term", "left")
        salt = F.when(
            F.col("_hot").isNotNull(),
            ((F.col("doc_id") - F.lit(lo)) * cfg.n_salts / F.lit(span))
            .cast("int"),
        ).otherwise(F.lit(0))
    else:
        tf2 = tf
        salt = F.lit(0)
    cols = ["term", "doc_id", "tf", "dl"] + \
        (["pos_gaps"] if cfg.positions else [])
    blocks = (
        tf2.withColumn("_salt", salt)
           .repartition(cfg.build_partitions, "term", "_salt")
           .sortWithinPartitions("term", "doc_id")
           .select(*cols)
           .mapInPandas(make_block_builder(cfg), POSTINGS_SCHEMA)
    )
    CATALOG.write_table(blocks, p.postings_seg(seg), partition_by="bucket")
    n_imp = _write_impacts(spark, p, seg, cfg, tf, imp_terms, avgdl_proxy)
    info = {"n_hot": len(hot), "n_impact_terms": n_imp}
    if cfg.fields:
        # per-field docCount [public: Lucene per-field BM25 docCount]:
        # docs with >= 1 token in the field, per segment (additive at
        # finalize). Fielded rows only — unfielded builds skip the job
        # entirely, so the plain build hot path is untouched
        rows = (tf.where(F.col("term").contains(":"))
                .select(F.split(F.col("term"), ":").getItem(0).alias("fld"),
                        "doc_id")
                .distinct().groupBy("fld").count().collect())
        info["field_docs"] = {r["fld"]: int(r["count"]) for r in rows}
    return info


def write_segment_manifest(spark: SparkSession, p: IndexPaths, seg: int,
                           cfg: EngineConfig, inv_info: dict,
                           t0: float) -> None:
    """Per-segment metrics + lineage (C13) + per-segment dictionary (C7).
    Two jobs over the NEW segment's blocks only: per-bucket agg (terms
    never cross buckets — bucket = hash(term) — so bucket metrics are
    additive to segment totals driver-side) and the segment dict. The dict
    is written BEFORE the manifest row, so a segment listed as complete
    always has its dict (resume contract)."""
    seg_post = CATALOG.read_table(spark, p.postings_seg(seg))
    CATALOG.write_table(
        seg_post.groupBy("term")
                .agg(F.sum("num_docs").alias("df"),
                     F.sum("sum_tf").alias("cf"),
                     F.first("bucket").alias("bucket")),
        p.dict_seg(seg), partition_by="bucket")
    rows = (seg_post.groupBy("bucket").agg(
        F.count("*").alias("n_blocks"),
        F.sum("num_docs").alias("n_postings"),
        F.sum("sum_tf").alias("sum_tf"),
        F.countDistinct("term").alias("n_terms"),
        F.min("first_doc_id").alias("doc_lo"),
        F.max("last_doc_id").alias("doc_hi"),
    ).collect())
    per_bucket = {
        str(r["bucket"]): {"n_blocks": r["n_blocks"],
                           "n_postings": int(r["n_postings"]),
                           "n_terms": r["n_terms"],
                           "sum_tf": int(r["sum_tf"])}
        for r in rows
    }
    CATALOG.write_meta(p.segment_manifest(seg), {
        "seg": seg,
        "n_blocks": int(sum(r["n_blocks"] for r in rows)),
        "n_postings": int(sum(r["n_postings"] for r in rows)),
        "sum_tf": int(sum(r["sum_tf"] for r in rows)),
        "n_terms": int(sum(r["n_terms"] for r in rows)),
        "doc_lo": int(min((r["doc_lo"] for r in rows), default=0)),
        "doc_hi": int(max((r["doc_hi"] for r in rows), default=0)),
        "n_hot_terms_salted": inv_info.get("n_hot", 0),
        "n_impact_terms": inv_info.get("n_impact_terms", 0),
        "field_docs": inv_info.get("field_docs", {}),
        "per_bucket": per_bucket,
        "analyzer_version": cfg.analyzer_version,
        "codec_version": cfg.codec_version,
        "wall_sec": now() - t0,
    })


def write_segment(spark: SparkSession, p: IndexPaths, seg: int,
                  cfg: EngineConfig, tf: DataFrame,
                  doc_range: tuple[int, int], t0: float) -> None:
    """The one segment writer (Lucene's segment flush): ``tf`` rows ->
    posting blocks, impact sidecar, segment dict and manifest row of
    segment ``seg``. ``tf`` is persisted once for the census, inversion
    and sidecar passes. The fresh build, appends and every compaction
    write their segments here; only the manifest commit makes one live."""
    tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        inv = invert_and_write_segment(spark, p, seg, cfg, tf, doc_range)
        write_segment_manifest(spark, p, seg, cfg, inv, t0)
    finally:
        tf.unpersist()


def _build_segment(spark: SparkSession, p: IndexPaths, seg: int,
                   cfg: EngineConfig, docs_meta: dict,
                   docs_df: Optional[DataFrame] = None) -> None:
    """``docs_df``: the still-cached phase-A rows (fresh builds) — avoids
    re-decoding the doc store from parquet; resume paths pass None and read
    the committed doc store instead."""
    t0 = now()
    source = docs_df if docs_df is not None \
        else CATALOG.read_table(spark, p.docs)
    docs_seg = (source.where(F.col("seg") == seg)
                .select("doc_id", "text", *cfg.fields))
    if docs_df is None and docs_seg.rdd.getNumPartitions() < cfg.build_partitions:
        docs_seg = docs_seg.repartition(cfg.build_partitions)
    # salt doc-range bounds from phase-A metadata (no extra scan);
    # approximate bounds are fine — they only spread the salt ranges
    max_id = int(docs_meta["max_doc_id"])
    s_count = int(docs_meta["segments"])
    lo = seg * (max_id + 1) // s_count
    hi = (seg + 1) * (max_id + 1) // s_count - 1 if seg < s_count - 1 else max_id
    write_segment(spark, p, seg, cfg, tokenize_with_fields(docs_seg, cfg),
                  (lo, hi), t0)


# ---------------------------------------------------------------- readers ---

def read_postings(spark: SparkSession, root: str,
                  segs: Optional[list[int]] = None) -> DataFrame:
    p = IndexPaths(root)
    if segs is None:
        segs = [s["seg"] for s in CATALOG.load_snapshot(root)["segments"]]
    paths = [p.postings_seg(s) for s in segs]
    return CATALOG.read_table(spark, *paths, base_path=p.postings)


def read_docs(spark: SparkSession, root: str) -> DataFrame:
    return CATALOG.read_table(spark, IndexPaths(root).docs)


def read_dict(spark: SparkSession, root: str) -> DataFrame:
    return CATALOG.read_table(spark, IndexPaths(root).dict)
