"""Query engine (D1-D9) — SURVEY.md §2.D, §3.2.

Reference path: HTTP /select -> Solr SearchHandler -> Lucene QueryParser ->
BM25 Weight/Scorer with WAND -> TopScoreDocCollector [public: Solr/Lucene].
Engine path:

  driver   analyze query with the engine analyzer (D1) -> bucket set ->
           df/idf from the dict table (partition-pruned read, D2) ->
           N, avgdl from the manifest's stats
  plan     Index._plan, once per query before anything runs, from what
           the query shows (Σ df of the scanned terms against the driver
           quota, k, df against the sidecar threshold, the filter kind,
           the cursor, MUST_NOT, top-k or full match): whether to try the
           impact sidecar, whether WAND prunes and θ is seeded, and the
           execution path — the driver, or a chunk exchange with its task
           count (semi-join after scoring for a filter too big to
           broadcast)
  scan     postings filter: bucket ISIN (partition pruning) + term ISIN
           (Parquet row-group pruning via min/max on the sorted term column)
  driver   SMALL scans (the scanned terms' summed df fits one scoring task's
           quota for top-k, one task's share of the fan-out for a full
           match set; no semi-join filter): the scanned buckets' parquet
           files of the handle's live segments are read with Arrow in the
           driver process (term filter pushed to the row groups), scored
           by the same chunk scorer, and the answer returned as a local
           relation — no Spark job, no exchange, no Python-worker stage.
           Larger scans take the distributed path below.
  shuffle  repartition(chunk): every term's blocks for one doc-range chunk
           co-locate (blocks are chunk-aligned by construction, C3), so
           intersection/union is partition-local — ONE small shuffle of
           compressed blocks, never of raw postings
  executor mapInPandas scoring, STREAMED: input is chunk-sorted within the
           partition and consumed as complete chunk runs off the Arrow batch
           iterator (carry pattern), so memory is one chunk, not the
           partition; FOR/varint decode (D3), chunk-grid leapfrog
           intersection (D4) / union (D5), exact-dl BM25 (D6), per-partition
           top-k heap with block-max-WAND chunk skipping (D7/D8); selective
           doc_filters are broadcast into the scorer pre-heap (D9), so
           truncation and WAND stay active under filters
  driver   global orderBy(score desc, doc_id asc).limit(k) over <=k rows per
           partition (deterministic total order => rank-identical across
           parallelism levels)

Scores are float64, accumulated in sorted-unique-term order (frozen,
FIXTURES.md §3) so engine == oracle bit-for-bit modulo the documented
1e-12 pruning epsilon.
"""

from __future__ import annotations

import functools
import math
import os
import re
import unicodedata
import zlib
from datetime import datetime, timedelta, timezone
from typing import Iterator, NamedTuple, Optional
from zoneinfo import ZoneInfo

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (BooleanType, DoubleType, IntegralType,
                               LongType, StringType, StructField, StructType,
                               TimestampType)

from parser_indexer_spark.analyze import tokenize_py
from parser_indexer_spark.build import read_dict, read_docs, read_postings, term_bucket
from parser_indexer_spark.codec import decode_blocks, delta_decode_blocks
from parser_indexer_spark.config import EngineConfig
from parser_indexer_spark.deletes import deletes_path as _deletes_path, live_mask as _live_mask_arr, read_tombstones as _read_tombstones
from parser_indexer_spark.manifest import CATALOG, IndexPaths

_PRUNE_EPS = 1e-12  # float-safety margin on the WAND skip test (see §7 hp-3)

# doc_filter sets up to this many doc_ids are broadcast INTO the scorer so
# per-partition top-k truncation + WAND stay active under a filter (D9);
# larger filter sides fall back to the semi-join-after-scoring path.
FILTER_BROADCAST_LIMIT = 1_000_000

# queries whose matched posting volume exceeds this many blocks get a
# cross-executor WAND θ seed (D8 v2): the driver exactly scores the single
# highest-upper-bound chunk (metadata-only argmax + one small collect) and
# ships its k-th score as θ0 to EVERY partition, so pruning starts hot
# instead of each partition growing its own θ from zero. The threshold is
# set where the fan-out is wide enough (~64 scoring tasks) that saved
# decode work beats the seed's two extra small jobs; below it the fixed
# per-job latency dominates and seeding is a net loss (measured: +2s p95
# on a 4M-turn index with a 5k-block threshold).
THETA_SEED_MIN_BLOCKS = 32_768

# posting blocks one mapInPandas scoring task is sized to decode: the scan
# fan-out gives each task about this many, and a top-k query whose whole
# scan reads no more postings than one task's quota is scored on the
# driver (see Index._plan)
_TASK_BLOCKS = 2048

# vocabularies at or below this size are loaded into driver memory ONCE per
# Index handle (~60 B/term => <=~120 MB at the cap), so repeat queries skip
# the per-query dict-lookup job entirely — the analogue of Lucene holding
# the term-dictionary FST in RAM [public: Lucene BlockTreeTermsReader].
# Larger vocabularies (the 100 TB path) keep the pruned per-query lookup
# with incremental caching.
DICT_PRELOAD_LIMIT = 2_000_000

# the block columns each scorer reads: term queries never read positions,
# phrase queries never read last_doc_id
_TERM_COLS = ("term", "chunk", "first_doc_id", "last_doc_id", "num_docs",
              "max_tf", "min_dl", "docs_enc", "tfs_enc", "dls_enc")
_PHRASE_COLS = ("term", "chunk", "first_doc_id", "num_docs", "max_tf",
                "min_dl", "docs_enc", "tfs_enc", "dls_enc", "pos_enc")

# a scored match set: the columns of every top-k answer, and of the frame
# a full match scored on the driver hands the full-match tails
_HITS = StructType([StructField("doc_id", LongType()),
                    StructField("score", DoubleType())])

# the answers of the full-match tails, as the Spark tails type them
_FACETS = StructType([StructField("field", StringType()),
                      StructField("value", StringType()),
                      StructField("n", LongType(), False)])
_RANGE = StructType([StructField("bucket_lo", LongType()),
                     StructField("n", LongType(), False)])
_PIVOT = StructType([StructField("value_a", StringType()),
                     StructField("value_b", StringType()),
                     StructField("n", LongType(), False)])

# doc-store column types whose grouping, ordering, nulls and string form
# the pandas tails reproduce exactly; a column of another type (or the
# `seg` partition column, which the files do not store) takes the Spark
# tail over the driver's match set
_TAIL_TYPES = (StringType, IntegralType, BooleanType, TimestampType)

# Arrow -> pandas types that keep nulls apart from values (the defaults
# turn a nullable integer column into float64)
_NULLABLE = {pa.int8(): pd.Int8Dtype(), pa.int16(): pd.Int16Dtype(),
             pa.int32(): pd.Int32Dtype(), pa.int64(): pd.Int64Dtype(),
             pa.bool_(): pd.BooleanDtype()}

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
_MICROSECOND = timedelta(microseconds=1)
# the UTC instants (µs since the epoch) whose wall time in every zone is a
# Python datetime; a zone's offset is the same beyond them (its local mean
# time before, its December rule after), so it is looked up at the end
_NAMED = tuple((datetime(*d, tzinfo=timezone.utc) - _EPOCH) // _MICROSECOND
               for d in ((1, 1, 2), (9999, 12, 30)))


def _wall_times(utc: np.ndarray, zone) -> np.ndarray:
    """The UTC instants ``utc`` (µs since the epoch) as wall times in the
    tzinfo ``zone`` (µs since the epoch), the offset of each distinct
    instant looked up once."""
    fixed = zone.utcoffset(None)
    if fixed is not None:
        return utc + fixed // _MICROSECOND
    instants, at = np.unique(np.clip(utc, *_NAMED), return_inverse=True)
    offsets = [(_EPOCH + int(u) * _MICROSECOND).astimezone(zone)
               .utcoffset() // _MICROSECOND for u in instants]
    return utc + np.asarray(offsets, np.int64)[at]


# a value of each Spark type for the placeholder row of an empty local
# relation (see Index._local); numeric types take 0
_PLACEHOLDER = {"string": "", "boolean": False,
                "timestamp": pd.Timestamp(0, tz="UTC")}


class Plan(NamedTuple):
    """How one query runs, decided by Index._plan before anything
    executes; term queries, phrases and the full-match methods follow it."""
    sidecar: bool       # try the impact sidecar's exact top-k first
    prune: bool         # block-max WAND skips chunks below θ (top-k only)
    seed_sidecar: bool  # θ0 from the impact sidecars (term queries)
    seed_scan: bool     # θ0 from exactly scoring the best-bound chunk
    driver: bool        # score the collected scan here, not in an exchange
    tasks: int          # scoring tasks of the chunk exchange
    semi_join: bool     # filter too big to broadcast: semi-join after
                        # scoring, no top-k heap


def bm25_idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _analyzed(words, stopwords) -> list:
    """Sorted unique analyzer terms of ``words`` (a list of strings or
    None)."""
    return sorted({t for w in (words or [])
                   for t in tokenize_py(str(w), stopwords)})


def _fielded(field: str, terms) -> list:
    """Index terms of ``field``: text terms as-is, others "<field>:<term>"."""
    return [t if field == "text" else f"{field}:{t}" for t in terms]


class Index:
    """Handle over a committed index directory (reads _manifest.json).

    A handle is bound to the snapshot it opened: the manifest, stats and
    the dictionary, postings and docs relations (their file listings
    included) are read once, here, and the driver path reads the posting
    files of the manifest's segments only, listing each (segment, bucket)
    directory once. The driver's full-match tails read the doc-store
    files of every docs partition (after a compaction these are not the
    live segments), listed once, at the first such tail. Tombstones
    written through this handle apply at once; after an incremental
    update, an upsert or a compaction of the directory, open a new Index
    to see it."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.manifest = CATALOG.load_snapshot(root)
        self.cfg = EngineConfig.from_dict(self.manifest["config"])
        self.stats = self.manifest["stats"]
        self._dict_cache: dict[str, int] = {}
        self._dict_preloaded = False
        # reuse the resolved scan relations across queries (file listing +
        # schema inference happen once per Index handle)
        self._postings_df = read_postings(
            spark, root, segs=[s["seg"] for s in self.manifest["segments"]])
        self._dict_df = read_dict(spark, root)
        self._docs_df = read_docs(spark, root)
        # doc_filter -> broadcast allowed-set cache (ADVICE r2): broadcasts
        # are reused across repeated filtered queries; evicted entries are
        # unpersisted (re-broadcastable), destroy() only on close().
        self._filter_bc: dict[str, object] = {}
        self._filter_bc_max = 8
        # impact sidecar (head-term early exit + theta seeding [public:
        # Lucene 8 impacts]): per-segment top-I postings of high-df terms.
        # Only head terms ever populate the caches, so they stay tiny.
        self._impact_segs = [s["seg"] for s in self.manifest["segments"]
                             if s.get("n_impact_terms", 0) > 0]
        self._impacts_df = None
        if self._impact_segs:
            ip = IndexPaths(root)
            self._impacts_df = CATALOG.read_table(
                spark, *[ip.impacts_seg(s) for s in self._impact_segs],
                base_path=ip.impacts)
        # all three driver-side caches are FIFO-capped like _filter_bc
        # (ADVICE r4): a long-lived handle serving many distinct filters /
        # head terms must not grow driver memory without bound
        self._impact_cache: dict[str, pd.DataFrame] = {}
        self._seg_df_cache: dict[str, set] = {}
        self._postings_pruned: dict[tuple, DataFrame] = {}
        self._impact_cache_max = 256
        self._postings_pruned_max = 8
        # (seg, bucket) -> its posting files, for the driver path's reads
        self._part_files: dict[tuple, list] = {}
        # the doc-store files, for the driver's full-match tails
        self._docs_files: Optional[list] = None
        # tombstones [public: Lucene liveDocs]: sorted doc_id array of
        # deleted docs, loaded driver-side from the manifest's deletes
        # generation (bounded by FILTER_BROADCAST_LIMIT — delete_docs
        # refuses beyond it and points at compaction)
        self._tombstones: Optional[np.ndarray] = None
        self._denied_bc = None
        dels = self.manifest.get("deletes")
        if dels and dels.get("n"):
            self._tombstones = _read_tombstones(root, dels["gen"])

    def close(self) -> None:
        """Release broadcast state held by this handle. NOTE: destroys the
        filter broadcasts, so DataFrames previously returned by filtered
        queries on this handle must not be re-executed afterwards."""
        for bc in self._filter_bc.values():
            if bc is not None:
                bc.destroy()
        self._filter_bc.clear()
        if self._denied_bc is not None:
            self._denied_bc.destroy()
            self._denied_bc = None

    # ---------------------------------------------------------- deletes ---
    def _denied(self):
        """Broadcast tombstone set for the scorers (lazy, one per handle)."""
        if self._tombstones is None:
            return None
        if self._denied_bc is None:
            self._denied_bc = self.spark.sparkContext.broadcast(
                self._tombstones)
        return self._denied_bc

    def _live_mask(self, d: np.ndarray) -> Optional[np.ndarray]:
        """Boolean mask of NON-deleted entries of ``d``, or None when no
        tombstones exist (driver-side twin of the scorer-side mask)."""
        return _live_mask_arr(d, self._tombstones)

    def delete_docs(self, doc_ids) -> dict:
        """Tombstone ``doc_ids`` [public: Lucene IndexWriter.deleteDocuments
        / Solr deleteById]: the docs stop matching every query immediately;
        their postings, doc-store rows, and contribution to corpus stats
        are physically purged at the next merge/compaction (Lucene liveDocs
        semantics — df/avgdl stay at their build-time values until then,
        which keeps surviving docs' scores IDENTICAL to pre-delete scores).

        Commit protocol: the new tombstone generation is written as a
        parquet table first, the manifest pointing at it last — a crash
        between the two leaves the previous generation live."""
        ids = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
        if self._tombstones is not None:
            ids = np.union1d(ids, self._tombstones)
        if ids.size > FILTER_BROADCAST_LIMIT:
            raise ValueError(
                f"{ids.size} tombstones exceed the broadcastable bound "
                f"({FILTER_BROADCAST_LIMIT}); run compact/merge to purge "
                "them physically before deleting more")
        gen = int(self.manifest.get("deletes", {}).get("gen", 0)) + 1
        CATALOG.write_table(
            self.spark.createDataFrame(
                pd.DataFrame({"doc_id": ids}), "doc_id long"),
            _deletes_path(self.root, gen))
        man = dict(self.manifest)
        man["deletes"] = {"gen": gen, "n": int(ids.size)}
        CATALOG.commit_snapshot(self.root, man)
        # ADVICE r5 (low): superseded generations accumulate forever on
        # long-lived indexes — drop the previous one now that the manifest
        # no longer references it (same post-commit cleanup pattern as
        # compact_segments uses for old postings/dict dirs)
        if gen > 1:
            import shutil as _sh
            _sh.rmtree(_deletes_path(self.root, gen - 1),
                       ignore_errors=True)
        self.manifest = man
        self._tombstones = ids
        if self._denied_bc is not None:
            # unpersist, not destroy: previously returned DataFrames may
            # still re-execute against the old broadcast (same rule as
            # _filter_bc eviction)
            self._denied_bc.unpersist(blocking=False)
            self._denied_bc = None
        return man

    def delete_by_query(self, doc_filter: str) -> dict:
        """Solr delete-by-query analogue: tombstone every doc matching a
        SQL boolean expression over the docs table's attribute columns."""
        ids = (self._docs_df.where(doc_filter)
               .select("doc_id").limit(FILTER_BROADCAST_LIMIT + 1)
               .toPandas()["doc_id"].to_numpy(dtype=np.int64))
        if ids.size > FILTER_BROADCAST_LIMIT:
            raise ValueError(
                "delete_by_query matches more docs than the tombstone "
                "bound; delete in narrower slices with compactions between")
        return self.delete_docs(ids)

    # ----------------------------------------------------------- lookup ---
    def term_stats(self, terms: list[str]) -> dict[str, int]:
        """df per term. Small vocabularies preload the whole dict into the
        driver once (Arrow, one job) — every later query costs ZERO lookup
        jobs; large ones fall back to a partition-pruned per-query lookup
        with incremental caching (VERDICT r2 #3: per-query fixed job
        count)."""
        missing = [t for t in terms if t not in self._dict_cache]
        if missing and self._preload_dict():
            for t in missing:               # genuinely absent from the index
                self._dict_cache.setdefault(t, 0)
        elif missing:
            buckets = sorted({term_bucket(t, self.cfg.n_buckets)
                              for t in missing})
            rows = (self._dict_df
                    .where(F.col("bucket").isin(buckets))
                    .where(F.col("term").isin(missing))
                    .select("term", "df").collect())
            found = {r["term"]: r["df"] for r in rows}
            for t in missing:
                self._dict_cache[t] = int(found.get(t, 0))
        return {t: self._dict_cache[t] for t in terms}

    def _preload_dict(self) -> bool:
        """Load the whole dictionary into the driver cache once, when the
        vocabulary is small enough; True when the cache holds all of it."""
        if not self._dict_preloaded \
                and self.stats["n_terms"] <= DICT_PRELOAD_LIMIT:
            pdf = self._dict_df.select("term", "df").toPandas()
            self._dict_cache = {
                t: int(v) for t, v in zip(pdf["term"].to_numpy(),
                                          pdf["df"].to_numpy())}
            self._dict_preloaded = True
        return self._dict_preloaded

    # ---------------------------------------------------- impact sidecar ---
    def _impact_rows(self, terms: list) -> dict:
        """Collect (and cache) the impact-sidecar rows of ``terms`` in ONE
        bucket/term-pruned job. Rows: (term, seg, doc_id, tf, dl) with
        doc_id = -1 marking the per-(term, segment) rest bound. Terms whose
        global df <= impact_df_threshold can have no rows (per-segment df
        <= global df) and are skipped without a job."""
        missing = [t for t in terms if t not in self._impact_cache]
        if missing and self._impacts_df is not None:
            buckets = sorted({term_bucket(t, self.cfg.n_buckets)
                              for t in missing})
            pdf = (self._impacts_df
                   .where(F.col("bucket").isin(buckets))
                   .where(F.col("term").isin(missing))
                   .select("term", "seg", "doc_id", "tf", "dl").toPandas())
            for t in missing:
                while len(self._impact_cache) >= self._impact_cache_max:
                    self._impact_cache.pop(next(iter(self._impact_cache)))
                self._impact_cache[t] = \
                    pdf[pdf["term"] == t].reset_index(drop=True)
        return {t: self._impact_cache.get(t) for t in terms}

    def _segs_containing(self, term: str) -> set:
        """Live segments whose per-segment dictionary contains ``term``
        (pruned read of the tiny dict_segs table; cached per term). Used
        only to validate sidecar coverage on multi-segment indexes."""
        if term in self._seg_df_cache:
            return self._seg_df_cache[term]
        ip = IndexPaths(self.root)
        live = [s["seg"] for s in self.manifest["segments"]]
        dd = CATALOG.read_table(self.spark, *[ip.dict_seg(s) for s in live],
                                base_path=ip.dict_segs)
        rows = (dd.where(F.col("bucket") ==
                         term_bucket(term, self.cfg.n_buckets))
                .where(F.col("term") == term).select("seg").collect())
        res = {int(r["seg"]) for r in rows}
        while len(self._seg_df_cache) >= self._impact_cache_max:
            self._seg_df_cache.pop(next(iter(self._seg_df_cache)))
        self._seg_df_cache[term] = res
        return res

    def _impact_topk(self, terms: list, idf: dict, k: int, mode: str):
        """Head-term early exit [public: Lucene 8 impacts / Anh & Moffat
        2006; VERDICT r4 #2]: answer a one-term or OR/AND top-k ENTIRELY
        from the sidecars — zero posting blocks decoded — when every query
        term is sidecar-covered and the k-th FULLY-COVERED doc strictly
        beats every possible rival:

        * a doc present in EVERY term's sidecar has an EXACT score (each
          (term, doc) posting carries exact tf/dl), accumulated in the
          scorer's frozen term order so floats agree bit-for-bit;
        * a doc missing from term t's sidecar may still contain t in the
          tail, so its score is only bounded: partial sum + Σ_absent B_t,
          where B_t is the term's exact excluded-(tf, min-dl) skyline
          bound (0 when the sidecar holds ALL of t's postings — the tf=0
          coverage marker);
        * docs in NO sidecar are bounded by Σ_t B_t.

        Accept iff ≥ k fully-covered docs exist and the k-th strictly
        beats the max rival bound by more than the WAND epsilon (equal-
        score ties at the boundary cannot slip through); when every term
        is COMPLETE (Σ B_t = 0) all union scores are exact and the answer
        needs no separation at all, even with tombstoned docs dropped. A
        single term is the same rule: its total is 0.0 + its exact score.
        Returns an ordered ≤ k-row DataFrame or None to fall back to the
        full scan."""
        terms = sorted(terms)
        rows = self._impact_rows(terms)
        live = {s["seg"] for s in self.manifest["segments"]}
        k1, b = self.cfg.k1, self.cfg.b
        avg = self.stats["avg_dl"]
        per: dict[str, tuple] = {}
        B: dict[str, float] = {}
        for t in terms:
            r = rows.get(t)
            if r is None or r.empty:
                return None
            bounds = r[r["doc_id"] < 0]
            cands = r[r["doc_id"] >= 0]
            alive = self._live_mask(cands["doc_id"].to_numpy(dtype=np.int64))
            if alive is not None:
                cands = cands[alive]     # tombstoned docs never answer
            covered = {int(s) for s in bounds["seg"]}
            if covered != live \
                    and not self._segs_containing(t).issubset(covered):
                return None            # un-bounded postings somewhere
            tf = cands["tf"].to_numpy(dtype=np.float64)
            dl = cands["dl"].to_numpy(dtype=np.float64)
            sc = idf[t] * (tf / (tf + k1 * (1.0 - b + b * dl / avg)))
            per[t] = (cands["doc_id"].to_numpy(dtype=np.int64), sc)
            btf = bounds["tf"].to_numpy(dtype=np.float64)
            bdl = bounds["dl"].to_numpy(dtype=np.float64)
            B[t] = float(np.max(
                idf[t] * (btf / (btf + k1 * (1.0 - b + b * bdl / avg)))))
        tot_b = float(sum(B.values()))
        all_docs = np.unique(np.concatenate([per[t][0] for t in terms]))
        total = np.zeros(all_docs.size, dtype=np.float64)
        n_cov = np.zeros(all_docs.size, dtype=np.int64)
        b_cov = np.zeros(all_docs.size, dtype=np.float64)
        for t in terms:                # scorer's frozen accumulation order
            d, sc = per[t]
            pos = np.searchsorted(all_docs, d)
            total[pos] += sc
            n_cov[pos] += 1
            b_cov[pos] += B[t]
        full = n_cov == len(terms)

        def topk(d, sc, kk):
            order = np.lexsort((d, -sc))[:kk]
            return self._answer(d[order], sc[order], True)

        if tot_b == 0.0:
            # every term complete: the union carries every matching doc
            # with its exact score — no separation test needed, and (like
            # a full scan) fewer than k rows is a valid answer
            if mode == "AND":
                return topk(all_docs[full], total[full], k)
            return topk(all_docs, total, k)
        if int(full.sum()) < k:
            return None
        fd, fs = all_docs[full], total[full]
        order = np.lexsort((fd, -fs))
        theta = float(fs[order[k - 1]])
        partial = ~full
        max_rival = tot_b
        if partial.any():
            ub = total[partial] + (tot_b - b_cov[partial])
            max_rival = max(max_rival, float(ub.max()))
        if theta - max_rival <= _PRUNE_EPS * max(1.0, abs(theta)):
            return None                # not strictly separated
        return topk(fd, fs, k)

    def _impact_theta0(self, terms, idf, avg_dl, k, mode) -> float:
        """WAND theta seed from the impact sidecars (replaces the two-job
        _seed_theta whenever a query term is sidecar-covered — the collect
        is one tiny pruned read, cached per term). OR: per-doc PARTIAL
        sums over sidecar-present terms are lower bounds of real achieved
        scores, so their k-th largest is a valid theta0. AND: restricted
        to docs present in EVERY term's sidecar (those provably match all
        terms and their sums are exact)."""
        if self._impacts_df is None:
            return 0.0
        thr = self.cfg.impact_df_threshold
        big = [t for t in terms if self._dict_cache.get(t, thr + 1) > thr]
        if not big:
            return 0.0
        rows = self._impact_rows(big)
        k1, b = self.cfg.k1, self.cfg.b
        per = []
        for t in (terms if mode == "AND" else big):
            r = rows.get(t)
            if r is None or r.empty or (r["doc_id"] >= 0).sum() == 0:
                if mode == "AND":
                    return 0.0      # intersection requires every term
                continue
            c = r[r["doc_id"] >= 0]
            alive = self._live_mask(c["doc_id"].to_numpy(dtype=np.int64))
            if alive is not None:
                c = c[alive]    # a deleted doc's partial sum must not
                                # seed θ0 — live docs might all score lower
            if c.empty:
                if mode == "AND":
                    return 0.0
                continue
            avg = float(avg_dl[t]) if isinstance(avg_dl, dict) else avg_dl
            tfa = c["tf"].to_numpy(dtype=np.float64)
            dla = c["dl"].to_numpy(dtype=np.float64)
            s = idf[t] * (tfa / (tfa + k1 * (1.0 - b + b * dla / avg)))
            per.append(pd.DataFrame({"doc_id": c["doc_id"].to_numpy(),
                                     "s": s, "t": t}))
        if not per:
            return 0.0
        allr = pd.concat(per, ignore_index=True)
        if mode == "AND":
            g = allr.groupby("doc_id").agg(n=("t", "nunique"), s=("s", "sum"))
            sc = g[g["n"] == len(terms)]["s"].to_numpy()
        else:
            sc = allr.groupby("doc_id")["s"].sum().to_numpy()
        if sc.size < k:
            return 0.0
        return float(np.partition(sc, -k)[-k])

    # ----------------------------------------------------------- search ---
    def expand_prefix(self, prefix: str,
                      max_expansions: int = 64) -> list[str]:
        """Dictionary terms starting with ``prefix`` [public: Lucene
        PrefixQuery rewrite; Solr wildcard]. Bounded: more than
        ``max_expansions`` matches raises instead of silently truncating
        (a truncated expansion would change results non-deterministically
        with segment layout)."""
        if not prefix:
            raise ValueError("empty prefix")
        out = self._text_terms(lambda t: t.startswith(prefix),
                               F.col("term").startswith(prefix),
                               max_expansions)
        if len(out) > max_expansions:
            raise ValueError(
                f"prefix '{prefix}*' expands to more than {max_expansions} "
                "terms; use a longer prefix or raise max_expansions")
        return out

    def _text_terms(self, match, where, max_expansions: int) -> list:
        """The expansion candidates: sorted TEXT dictionary terms (df > 0)
        selected by ``match`` on the driver-cached dictionary, or by the
        pushed-down Column predicate ``where`` on the large-vocab dict
        scan; at most ``max_expansions`` + 1, so callers can detect an
        overflow. Fielded "<field>:<term>" entries never expand an
        unfielded clause — the analyzer keeps no ':' in a text term."""
        if self._preload_dict():
            return sorted(self._cached_text_terms(match))[:max_expansions + 1]
        return sorted(r["term"] for r in self._dict_df
                      .where(where & ~F.col("term").contains(":"))
                      .select("term").limit(max_expansions + 1).collect())

    def _cached_text_terms(self, match) -> list:
        """Text terms (df > 0, no field prefix) of the driver-cached
        dictionary selected by ``match``, unsorted."""
        return [t for t, df in self._dict_cache.items()
                if df > 0 and ":" not in t and match(t)]

    def expand_fuzzy(self, word: str, max_dist: int = 2,
                     max_expansions: int = 50) -> list[str]:
        """Dictionary terms within Levenshtein distance ``max_dist`` of
        ``word`` [public: Lucene FuzzyQuery]. Candidates come from the
        char-bigram q-gram filter when it is LOSSLESS — a term at edit
        distance d shares at least len(word)-1-2d bigrams with the word
        (q-gram lemma), so the filter is complete only while that bound
        is >= 1; shorter words scan the full dictionary. Ranked (distance
        asc, term asc) and capped at ``max_expansions`` keeping the
        CLOSEST terms (Lucene's best-terms rewrite cap — unlike prefix
        expansion, exceeding the cap is normal, not an error; Lucene
        classic caps a DFA enumeration the same way). Text terms only,
        like every expansion (see _text_terms). A driver-cached dictionary
        is searched here, with no Spark job; a term whose length differs
        from the word's by more than ``max_dist`` is cut before its
        distance is computed."""
        if not word:
            raise ValueError("empty fuzzy term")
        grams = sorted({word[i:i + 2] for i in range(len(word) - 1)}) \
            if (len(word) - 1) - 2 * max_dist >= 1 else []
        if self._preload_dict():
            near = self._cached_text_terms(
                lambda t: abs(len(t) - len(word)) <= max_dist
                and (not grams or any(g in t for g in grams)))
            hits = sorted((d, t) for d, t in
                          ((_levenshtein(t, word), t) for t in near)
                          if d <= max_dist)
            return [t for _, t in hits[:max_expansions]]
        cand = (self._dict_df.where(~F.col("term").contains(":"))
                .select("term").distinct())
        if grams:
            pred = None
            for g in grams:
                c = F.col("term").contains(g)
                pred = c if pred is None else (pred | c)
            cand = cand.where(pred)
        rows = (cand
                .withColumn("dist", F.levenshtein(F.col("term"),
                                                  F.lit(word)))
                .where(F.col("dist") <= max_dist)
                .orderBy(F.asc("dist"), F.asc("term"))
                .limit(max_expansions).collect())
        return [r["term"] for r in rows]

    def expand_wildcard(self, pattern: str,
                        max_expansions: int = 64) -> list[str]:
        """Dictionary terms matching a glob ``pattern`` ('*' = any run,
        '?' = one char) [public: Lucene WildcardQuery]. Like prefix
        expansion the match set is exact-or-error: more than
        ``max_expansions`` matches raises (a truncated wildcard would
        change results with segment layout). The literal prefix before
        the first wildcard is pushed down as a startsWith predicate so
        the dict scan prunes on it; the regex itself runs JVM-side
        (rlike) on the pruned rows — no driver-side full-vocab pass on
        the large-vocab path."""
        if not pattern or not pattern.strip("*?"):
            raise ValueError("wildcard pattern needs at least one "
                             f"literal character: {pattern!r}")
        rx = "^" + "".join(
            ".*" if ch == "*" else "." if ch == "?" else re.escape(ch)
            for ch in pattern) + "$"
        lit = re.match(r"[^*?]*", pattern).group(0)
        out = self._text_terms(re.compile(rx).match,
                               F.col("term").startswith(lit)
                               & F.col("term").rlike(rx), max_expansions)
        if len(out) > max_expansions:
            raise ValueError(
                f"wildcard {pattern!r} expands to more than "
                f"{max_expansions} terms; narrow it or raise "
                "max_expansions")
        return out

    def expand_range(self, lo: Optional[str], hi: Optional[str],
                     incl_lo: bool = True, incl_hi: bool = True,
                     max_expansions: int = 64) -> list[str]:
        """Dictionary terms in the lexicographic range [public: Lucene
        TermRangeQuery; Solr field:[a TO b]]. ``None`` = unbounded on
        that side ('*' in query syntax); square bracket = inclusive,
        curly = exclusive. Exact-or-error like prefix expansion. Both
        bounds are pushable comparison predicates, so the dict scan
        prunes row groups on the large-vocab path."""
        if lo is None and hi is None:
            raise ValueError("term range needs at least one bound")

        def ok(t):
            if lo is not None and (t < lo or (t == lo and not incl_lo)):
                return False
            if hi is not None and (t > hi or (t == hi and not incl_hi)):
                return False
            return True
        term = F.col("term")
        where = F.lit(True)
        if lo is not None:
            where = where & (term >= lo if incl_lo else term > lo)
        if hi is not None:
            where = where & (term <= hi if incl_hi else term < hi)
        out = self._text_terms(ok, where, max_expansions)
        if len(out) > max_expansions:
            b = lambda x: "*" if x is None else x  # noqa: E731
            raise ValueError(
                f"range [{b(lo)} TO {b(hi)}] expands to more than "
                f"{max_expansions} terms; narrow it or raise "
                "max_expansions")
        return out

    def expand_regexp(self, pattern: str,
                      max_expansions: int = 64) -> list[str]:
        """Dictionary terms whose ENTIRE text matches ``pattern`` [public:
        Lucene RegexpQuery; Solr field:/regex/]. Anchored on both ends
        (RegexpQuery semantics) and exact-or-error like wildcard
        expansion. Callers should stick to the portable regex core —
        literals, '.', character classes, '*', '+', '?', '|', '()'
        grouping — because the driver-cache path matches with Python
        ``re``, the large-vocab path with JVM ``rlike``, and the test
        oracle with DuckDB's RE2; the engine validates syntax driver-side
        but does not translate between dialects. The literal prefix (when
        one is guaranteed — no alternation, prefix not consumed by a
        quantifier) pushes down as a startsWith predicate on the dict
        scan, mirroring expand_wildcard."""
        if not pattern:
            raise ValueError("empty regexp")
        rx = "^(?:" + pattern + ")$"
        try:
            crx = re.compile(rx)
        except re.error as e:
            raise ValueError(f"bad regexp {pattern!r}: {e}") from e
        lit = re.match(r"[^.?*+\[\]{}()|\\^$]*", pattern).group(0)
        if len(lit) < len(pattern) and pattern[len(lit)] in "*?{":
            lit = lit[:-1]      # quantifier binds the last literal char
        if "|" in pattern:
            lit = ""            # top-level alternation voids any prefix
        out = self._text_terms(crx.match, F.col("term").startswith(lit)
                               & F.col("term").rlike(rx), max_expansions)
        if len(out) > max_expansions:
            raise ValueError(
                f"regexp /{pattern}/ expands to more than "
                f"{max_expansions} terms; narrow it or raise "
                "max_expansions")
        return out

    def search(self, query: str, k: int = 10, mode: str = "OR",
               doc_filter: Optional[str] = None,
               after: Optional[tuple] = None,
               must_not: Optional[list] = None,
               must: Optional[list] = None,
               max_expansions: int = 64) -> DataFrame:
        """Top-k BM25. Returns DataFrame (doc_id long, score double), ordered
        by (score desc, doc_id asc), <= k rows.

        Execution: a query whose scanned postings (the summed df of its
        terms, MUST_NOT words included) fit one scoring task's quota runs
        AT CALL TIME on the driver — its posting blocks read with Arrow,
        no Spark job — and returns a local relation, as the impact-sidecar
        fast path does; larger scans, and doc_filters too
        large to broadcast, return the lazy distributed plan (pruned scan
        -> chunk exchange -> mapInPandas scorer -> top-k). Index._plan
        makes that choice, and the sidecar and pruning ones, per query.

        doc_filter: SQL boolean expression over the docs table's attribute
        columns (conv_id, turn_idx, role, tool, ts) — Solr fq semantics (D9):
        restricts candidates, does not change scores.

        after: (score, doc_id) cursor for deep paging (Solr cursorMark
        analogue, D11): returns the top-k strictly after that position in
        (score desc, doc_id asc) order. Applied pre-heap in the scorer, so
        page N keeps full truncation + WAND pruning. Scores are
        deterministic float64, so the cursor round-trips exactly.

        must_not: words whose docs are EXCLUDED [public: Lucene
        BooleanQuery MUST_NOT; Solr -term]: candidates containing any of
        them are masked pre-heap; survivors' scores are untouched
        (exclusion never contributes to scoring). A pure-negative query
        (no surviving positive term) returns empty, as in Lucene.

        must: words that are REQUIRED [public: Lucene BooleanQuery MUST +
        SHOULD]: a doc matches only if it contains every one of them, but
        the remaining (SHOULD) query terms still add to its score — the
        classic '+term' semantics. A must-word absent from the index
        matches nothing, exactly like mode="AND". must ⊆ query terms is
        not needed; must words join the scored term set automatically.

        The full match set (every matching doc, unsorted, unpruned) is
        what the facet/export/collapse/sort-by/boost methods consume; they
        share this query syntax.

        Prefix queries: a whitespace token ending in '*' (e.g. "spar*")
        expands to every dictionary term with that prefix (bounded by
        ``max_expansions``, error beyond) and joins the OR as ordinary
        scored terms [public: Lucene SCORING_BOOLEAN_REWRITE]. AND mode
        rejects prefixes: "all expansions required" is never what a
        wildcard means.
        """
        return self._term_query(
            *self._parse_search(query, mode, must, must_not, max_expansions),
            mode, k=k, doc_filter=doc_filter, after=after)

    def _parse_search(self, query: str, mode: str, must, must_not,
                      max_expansions: int = 64):
        """search()'s query syntax -> (terms, required, excluded), all
        analyzed: whitespace tokens ending in '*' expand as prefixes, the
        rest (and the must/must_not words) go through the analyzer."""
        sw = self.cfg.stopwords
        plain_parts, prefixes = [], []
        for part in query.split():
            if part.endswith("*") and len(part) > 1:
                toks = tokenize_py(part[:-1], sw)
                if toks:
                    prefixes.append(toks[-1])
                    plain_parts.extend(toks[:-1])
            else:
                plain_parts.append(part)
        terms = set(tokenize_py(" ".join(plain_parts), sw))
        if prefixes:
            if mode == "AND":
                raise ValueError("prefix queries are OR-only")
            for pfx in prefixes:
                terms |= set(self.expand_prefix(pfx, max_expansions))
        return (sorted(terms), _analyzed(must, sw), _analyzed(must_not, sw))

    def _term_query(self, terms, required, excluded, mode: str,
                    field_of: Optional[dict] = None,
                    boosts: Optional[dict] = None, *, k: int = 10,
                    doc_filter: Optional[str] = None,
                    after: Optional[tuple] = None,
                    sort: bool = True):
        """The one term-query entry behind search(), search_fields(),
        query(), the single-term phrase and the full-match methods. Takes
        ANALYZED terms: ``required`` (MUST) words join the scored set,
        ``excluded`` (MUST_NOT) words only mask. ``field_of``: term ->
        field for fielded queries — each term then scores with its field's
        doc count and avgdl, its idf weighted by ``boosts[field]``; None
        means the text field with index-wide stats, the only case the
        impact sidecar covers. ``sort=False`` returns the full match set
        (unsorted, unpruned, untruncated; ``k`` is ignored), a pandas
        frame when scored on the driver (see _answer). The query runs as
        Index._plan says."""
        terms = sorted(set(terms) | set(required))
        if not terms:
            return self._empty(sort)
        dfs = self.term_stats(terms)
        # required-term semantics [public: Lucene BooleanQuery MUST]: an AND
        # query containing a term absent from the index matches nothing —
        # checked against the ORIGINAL term list, before dropping df==0
        # terms; a MUST word absent from the index matches nothing too
        if mode == "AND" and any(dfs[t] == 0 for t in terms):
            return self._empty(sort)
        if any(dfs[t] == 0 for t in required):
            return self._empty(sort)
        terms = [t for t in terms if dfs[t] > 0]
        if not terms:
            return self._empty(sort)
        req = sorted(set(required))
        if mode == "AND" or (req and set(req) == set(terms)):
            # every term required: the dedicated AND path IS this query
            mode, req = "AND", []
        excl = self._indexed(excluded)
        if field_of is None:
            n_docs = self.stats["n_docs"]
            avg_dl = self.stats["avg_dl"]
            idf = {t: bm25_idf(n_docs, dfs[t]) for t in terms}
        else:
            norms = {t: self._field_norms(field_of[t]) for t in terms}
            avg_dl = {t: norms[t][1] for t in terms}
            idf = {t: (boosts or {}).get(field_of[t], 1.0)
                   * bm25_idf(norms[t][0], dfs[t]) for t in terms}
        plan = self._plan(terms, excl, k=k, sort=sort, doc_filter=doc_filter,
                          after=after, fielded=field_of is not None,
                          required=bool(req))
        if plan.sidecar:
            fast = self._impact_topk(terms, idf, k, mode)
            if fast is not None:
                return fast
        return self._search_terms(
            terms, idf, avg_dl, plan, k=k, mode=mode, doc_filter=doc_filter,
            after=after, excl_terms=excl, required=req or None, sort=sort)

    def _indexed(self, terms) -> list:
        """Sorted unique ``terms`` that occur in the index (df > 0)."""
        terms = sorted(set(terms))
        dfs = self.term_stats(terms)
        return [t for t in terms if dfs[t] > 0]

    def _field_norms(self, field: str) -> Optional[tuple]:
        """(n_docs, avg_dl) BM25 normalizes ``field``'s postings with, or
        None when a configured field produced no postings. Per-field
        docCount (VERDICT r4 #7) [public: Lucene per-field BM25 docCount]:
        both avgdl AND idf use the field's own doc count, so a 50%-sparse
        field ranks exactly as a dense index built on the subset would."""
        if field == "text":
            return self.stats["n_docs"], self.stats["avg_dl"]
        fs = self.stats.get("fields", {}).get(field)
        if fs is None:
            return None
        return fs.get("n_docs", self.stats["n_docs"]), fs["avg_dl"]

    def _empty(self, sort: bool = True):
        """The empty answer (see _answer)."""
        return self._answer(np.empty(0, np.int64), np.empty(0), sort)

    def _answer(self, docs: np.ndarray, scores: np.ndarray, sort: bool):
        """A driver-side answer: a local relation of _HITS (see _local),
        or for a full match (``sort=False``) the pandas frame itself, which
        the full-match tails aggregate without a Spark job."""
        hits = pd.DataFrame({"doc_id": docs.astype(np.int64),
                             "score": scores.astype(np.float64)})
        return self._local(hits, _HITS) if sort else hits

    def _matches(self, query: str, mode: str, doc_filter: Optional[str],
                 must: Optional[list], must_not: Optional[list]):
        """The query's FULL match set: every matching doc with its exact
        BM25 score, unsorted — a full-match plan has no pruning, θ seeding,
        heap truncation, impact fast path or global top-k. Tombstones are
        masked inside the scorer like every other query path. A scan
        within one scoring task's share of the distributed fan-out is
        scored at call time on the driver and comes back as a pandas frame
        (doc_id, score), which the tails read doc-store columns onto with
        Arrow (_docs_columns) and aggregate in pandas; a larger one is the
        exchange's lazy relation, which the tails join in Spark (see
        Index._plan). The tails tell the two apart by type."""
        return self._term_query(
            *self._parse_search(query, mode, must, must_not), mode,
            doc_filter=doc_filter, sort=False)

    def _relation(self, m) -> DataFrame:
        """A match set as a Spark relation: a driver frame becomes a local
        relation, the exchange's relation stays as it is."""
        return self._local(m, _HITS) if isinstance(m, pd.DataFrame) else m

    def _matched_docs(self, m) -> DataFrame:
        """The Spark tails' doc-store rows of the match set ``m`` (a
        left-semi join of the docs relation)."""
        return self._docs_df.join(self._relation(m).select("doc_id"),
                                  "doc_id", "left_semi")

    def _docs_columns(self, m, cols, types=_TAIL_TYPES):
        """The driver tails' docs read: the match frame ``m`` with the
        doc-store columns ``cols`` merged on (an inner merge on doc_id, as
        the Spark tails join), read through CATALOG with Arrow in this
        process — ``doc_id`` and ``cols`` only, the matched docs' rows
        only, from the files of every docs partition, listed once per
        handle (compaction leaves doc rows in their old partitions, so
        these are not the live segments). Integers and booleans keep
        their nulls; timestamps are UTC instants in microseconds (the
        read keeps Spark's INT96 years 0001-9999). Returns None when the
        tail runs in Spark: ``m`` is the exchange's relation, or a column
        is not a stored doc-store column of one of ``types``."""
        schema = self._docs_df.schema
        if not isinstance(m, pd.DataFrame) or not all(
                c in schema.names and c != "seg"
                and isinstance(schema[c].dataType, types) for c in cols):
            return None
        if self._docs_files is None:
            self._docs_files = [
                f for part in CATALOG.list_files(IndexPaths(self.root).docs)
                if os.path.basename(part).startswith("seg=")
                for f in CATALOG.list_files(part)]
        cols = [c for c in dict.fromkeys(cols) if c != "doc_id"]
        docs = CATALOG.read_arrow(
            self._docs_files, ["doc_id", *cols],
            ds.field("doc_id").isin(m["doc_id"].to_numpy())
        ).to_pandas(types_mapper=_NULLABLE.get)
        for c in cols:
            if isinstance(schema[c].dataType, TimestampType) \
                    and docs[c].dt.tz is None:
                docs[c] = docs[c].dt.tz_localize("UTC")
        return m.merge(docs.astype({"doc_id": np.int64}), on="doc_id")

    def _strings(self, values: pd.Series, field: str) -> np.ndarray:
        """``values`` of doc-store column ``field`` as Spark's
        ``cast(field as string)`` prints them (a _TAIL_TYPES column, no
        nulls): timestamps in the session time zone, with the fraction of
        a second trimmed of trailing zeros and left out when zero, for
        every year Spark stores (0001-9999)."""
        dtype = self._docs_df.schema[field].dataType
        if isinstance(dtype, BooleanType):
            return np.where(values.to_numpy(bool), "true", "false")
        if isinstance(dtype, TimestampType):
            utc = values.dt.tz_convert(None).to_numpy("datetime64[us]")
            text = pd.Series(np.datetime_as_string(_wall_times(
                utc.astype(np.int64), self._session_zone())
                .astype("datetime64[us]"), unit="us"))
            # '[Y]YYYY-MM-DDTHH:MM:SS.ffffff': Spark marks a five-digit
            # year with '+' and prints the day in four digits at least
            day = text.str[:-16]
            day = day.where(day.str.len() == 10, "+" + day)
            frac = text.str[-7:].str.rstrip("0").str.rstrip(".")
            return (day + " " + text.str[-15:-7] + frac).to_numpy()
        return values.astype(str).to_numpy()

    def _session_zone(self):
        """The session time zone Spark prints timestamps in, as a Python
        tzinfo: Spark parses the id (a region, or an offset such as
        '+05:30' or 'GMT+8'), a fixed offset stays one, and a region is
        the IANA zone of that name."""
        name = self.spark.conf.get("spark.sql.session.timeZone")
        if name == "UTC":
            return timezone.utc
        jvm = self.spark._jvm
        zone = jvm.org.apache.spark.sql.catalyst.util.DateTimeUtils \
            .getZoneId(name).normalized()
        rules = zone.getRules()
        if rules.isFixedOffset():
            return timezone(timedelta(seconds=rules.getOffset(
                jvm.java.time.Instant.EPOCH).getTotalSeconds()))
        return ZoneInfo(zone.getId())

    def _hits_with(self, frame: pd.DataFrame, field: str) -> DataFrame:
        """Rows (doc_id, score, ``field``) of a driver tail's ``frame`` as
        a local relation typed as the Spark tails' join gives them (which
        keeps one doc_id when ``field`` is doc_id)."""
        if field == "doc_id":
            return self._local(frame[["doc_id", "score"]], _HITS)
        return self._local(
            frame[["doc_id", "score", field]],
            StructType(_HITS.fields + [self._docs_df.schema[field]]))

    def search_facets(self, query: str, facet_fields: list,
                      mode: str = "OR", doc_filter: Optional[str] = None,
                      must: Optional[list] = None,
                      must_not: Optional[list] = None) -> DataFrame:
        """Field faceting over the query's FULL matching doc set [public:
        Solr facet.field; Lucene facets] — the counts a search UI shows
        next to the top-k page, computed over every match, not the page.

        Matching rides the ordinary scorer with pruning, θ seeding, heap
        truncation, and the global top-k sort all disabled (facets need
        every match; the ``_matches`` path). A match set scored on the
        driver has its facet columns read with Arrow (_docs_columns) and
        counted in pandas into a local relation — no Spark job. A larger
        one stays distributed end-to-end: streaming scorer -> left-semi
        join into the doc store -> stack(field, value) -> groupBy/count,
        the shape that survives faceting a head term at corpus scale.
        Tombstones are masked inside the scorer like every other query
        path.

        Returns (field string, value string, n long), one row per facet
        field value with >= 1 matching doc (null values dropped, like
        Solr's default facet.missing=false); a value is Spark's
        ``cast(field as string)`` on both paths."""
        if not facet_fields:
            raise ValueError("facet_fields must be non-empty")
        m = self._matches(query, mode, doc_filter, must, must_not)
        docs = self._docs_columns(m, facet_fields)
        if docs is not None:
            stacked = pd.concat([pd.DataFrame(
                {"field": f, "value": self._strings(docs[f].dropna(), f)})
                for f in facet_fields])
            return self._local(stacked.groupby(["field", "value"], sort=False)
                               .size().reset_index(name="n"), _FACETS)
        stack_expr = "stack({}, {}) as (field, value)".format(
            len(facet_fields),
            ", ".join(f"'{f}', cast({f} as string)" for f in facet_fields))
        return (self._matched_docs(m)
                .selectExpr(stack_expr)
                .where(F.col("value").isNotNull())
                .groupBy("field", "value").agg(F.count("*").alias("n")))

    def search_facet_range(self, query: str, field: str,
                           start, end, gap,
                           mode: str = "OR",
                           doc_filter: Optional[str] = None,
                           must: Optional[list] = None,
                           must_not: Optional[list] = None) -> DataFrame:
        """Range faceting over the query's full match set [public: Solr
        facet.range]: doc counts per ``[start + i*gap, start + (i+1)*gap)``
        bucket of a numeric doc-store ``field``, computed over EVERY
        matching doc. A value v falls in the bucket whose floor is
        ``start + floor((v - start) / gap) * gap``. Values outside
        ``[start, end)`` and nulls are dropped (Solr's default
        ``facet.range.other=none``); the last bucket keeps its full
        ``gap`` width (Solr raises ``end`` to
        ``start + ceil((end-start)/gap)*gap`` — same here, since the
        bucket floor, not ``end``, bounds membership).

        Same shapes as search_facets: a driver-scored match set of an
        integer field is bucketed and counted in pandas; otherwise the
        unpruned/unsorted scorer (``_matches``) -> left-semi join into
        the doc store -> one groupBy over the bucket floor. Returns
        (bucket_lo long, n long), only buckets with >= 1 matching doc
        (Solr mincount=1 behaviour; a UI zero-fills client-side from
        start/end/gap). Integer start/end/gap only — bucket_lo is a
        long."""
        if gap <= 0 or end <= start:
            raise ValueError("need gap > 0 and end > start")
        if not all(isinstance(x, int) for x in (start, end, gap)):
            raise ValueError("integer start/end/gap only")
        m = self._matches(query, mode, doc_filter, must, must_not)
        docs = self._docs_columns(m, [field], IntegralType)
        if docs is not None:
            v = docs[field].dropna().to_numpy(np.int64)
            v = v[(v >= start) & (v < end)]
            n = pd.Series(start + np.floor((v - start) / gap)
                          .astype(np.int64) * gap).value_counts()
            return self._local(
                pd.DataFrame({"bucket_lo": n.index.to_numpy(np.int64),
                              "n": n.to_numpy(np.int64)}), _RANGE)
        v = F.col(field)
        bucket_lo = (F.lit(start)
                     + F.floor((v - start) / gap) * gap).cast("long")
        return (self._matched_docs(m)
                .where(v.isNotNull() & (v >= start) & (v < end))
                .select(bucket_lo.alias("bucket_lo"))
                .groupBy("bucket_lo").agg(F.count("*").alias("n")))

    def search_collapse(self, query: str, collapse_field: str, k: int = 10,
                        mode: str = "OR", doc_filter: Optional[str] = None,
                        must: Optional[list] = None,
                        must_not: Optional[list] = None) -> DataFrame:
        """Field collapsing on the query path [public: Solr
        CollapsingQParserPlugin (`fq={!collapse field=f}`); Lucene grouping
        module]: the match set collapses to its single best hit per
        ``collapse_field`` value (highest score, ties to the lowest
        doc_id — the engine's standard total order), THEN the top-k page
        is taken over the group representatives. Correct collapsing needs
        the FULL match set (a pre-collapsed top-k could starve groups), so
        this rides the unpruned ``_matches`` scorer like facets. A match
        set scored on the driver reads the field with Arrow and collapses
        in pandas (one sort, first row per value); a larger one joins the
        field in Spark, then one window rank per group and the ordinary
        global top-k — two shuffles total (group hash, final
        TakeOrdered).

        A null group value forms ONE group like any other value (Spark
        window and SQL GROUP BY semantics; deviation from Solr's default
        nullPolicy=ignore, declared here). Returns (doc_id long, score
        double, <collapse_field>), ordered (score desc, doc_id asc),
        <= k rows."""
        m = self._matches(query, mode, doc_filter, must, must_not)
        docs = self._docs_columns(m, [collapse_field])
        if docs is not None:
            best = (docs.sort_values(["score", "doc_id"],
                                     ascending=[False, True], kind="stable")
                    .drop_duplicates(collapse_field).head(k))
            return self._hits_with(best, collapse_field)
        from pyspark.sql import Window
        joined = self._relation(m).join(
            self._docs_df.select("doc_id", collapse_field), "doc_id", "inner")
        w = (Window.partitionBy(collapse_field)
             .orderBy(F.desc("score"), F.asc("doc_id")))
        return (joined.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1).drop("_rn")
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))

    def search_facet_pivot(self, query: str, field_a: str, field_b: str,
                           mode: str = "OR",
                           doc_filter: Optional[str] = None,
                           must: Optional[list] = None,
                           must_not: Optional[list] = None) -> DataFrame:
        """Pivot (nested) faceting over the query's full match set
        [public: Solr facet.pivot=`a,b`]: doc counts per (field_a,
        field_b) value pair across EVERY matching doc — the drill-down
        tree a search UI renders, flattened to rows. Same full-match
        shapes as facets: a driver-scored match set is counted in pandas
        (one two-key groupby); otherwise _matches scorer -> left-semi join
        -> ONE two-key groupBy (the nested tree is a client-side regroup
        of these rows — no extra pass needed). Rows where either field is
        null are dropped (facet.missing=false at both levels); values are
        Spark's ``cast(field as string)``. Returns (value_a string,
        value_b string, n long)."""
        m = self._matches(query, mode, doc_filter, must, must_not)
        docs = self._docs_columns(m, [field_a, field_b])
        if docs is not None:
            pairs = docs[[field_a, field_b]].dropna()
            pairs = pd.DataFrame(
                {"value_a": self._strings(pairs.iloc[:, 0], field_a),
                 "value_b": self._strings(pairs.iloc[:, 1], field_b)})
            return self._local(pairs.groupby(["value_a", "value_b"],
                                             sort=False)
                               .size().reset_index(name="n"), _PIVOT)
        return (self._matched_docs(m)
                .where(F.col(field_a).isNotNull()
                       & F.col(field_b).isNotNull())
                .select(F.col(field_a).cast("string").alias("value_a"),
                        F.col(field_b).cast("string").alias("value_b"))
                .groupBy("value_a", "value_b")
                .agg(F.count("*").alias("n")))

    def search_sort_by(self, query: str, by: str, k: int = 10,
                       ascending: bool = True, mode: str = "OR",
                       doc_filter: Optional[str] = None,
                       must: Optional[list] = None,
                       must_not: Optional[list] = None) -> DataFrame:
        """Field-sorted results [public: Solr `sort=field asc|desc` on
        /select; Lucene Sort/SortField]: the top-k of the FULL match set
        ordered by a doc-store field instead of relevance. A score-pruned
        scorer is unsound here (the best-by-field doc may score lowest),
        so the match set comes from the unpruned ``_matches`` scorer and
        is ordered by the field — exactly the shape Solr uses (bypass
        relevance, walk the field): a driver-scored match set reads the
        field with Arrow and sorts in pandas, a larger one joins it in
        Spark and one TakeOrdered picks the page. Nulls sort LAST in both
        directions (Solr sortMissingLast analogue, declared); ties break
        by doc_id ascending (the engine's standard total order). Returns
        (doc_id long, score double, <by>), <= k rows."""
        m = self._matches(query, mode, doc_filter, must, must_not)
        docs = self._docs_columns(m, [by])
        if docs is not None:
            page = docs.sort_values([by, "doc_id"],
                                    ascending=[ascending, True],
                                    na_position="last", kind="stable")
            return self._hits_with(page.head(k), by)
        joined = self._relation(m).join(
            self._docs_df.select("doc_id", by), "doc_id", "inner")
        key = (F.col(by).asc_nulls_last() if ascending
               else F.col(by).desc_nulls_last())
        return joined.orderBy(key, F.asc("doc_id")).limit(k)

    def search_facet_stats(self, query: str, field: str,
                           mode: str = "OR",
                           doc_filter: Optional[str] = None,
                           must: Optional[list] = None,
                           must_not: Optional[list] = None) -> DataFrame:
        """Numeric stats over the query's full match set [public: Solr
        StatsComponent (`stats.field`); JSON facet aggregations]:
        count/sum/mean/min/max of a doc-store numeric field across EVERY
        matching doc. Same full-match shapes as facets: a driver-scored
        match set of an integer field is summarised in pandas; otherwise
        ``_matches`` scorer -> left-semi join -> ONE partial+final
        aggregate. Nulls are excluded from all five stats (Solr counts
        them separately as `missing` — not returned here), and a match set
        with no value still gives its one row, (0, null, null, null,
        null). Returns one row (n long, sum_v, avg_v double, min_v,
        max_v)."""
        m = self._matches(query, mode, doc_filter, must, must_not)
        docs = self._docs_columns(m, [field], IntegralType)
        if docs is not None:
            v = docs[field].dropna().to_numpy(np.int64)
            total = int(v.sum())
            row = [v.size, total, total / v.size, int(v.min()),
                   int(v.max())] if v.size else [0, None, None, None, None]
            dtype = self._docs_df.schema[field].dataType
            return self._local(
                pd.DataFrame([row], columns=["n", "sum_v", "avg_v", "min_v",
                                             "max_v"]),
                StructType([StructField("n", LongType(), False),
                            StructField("sum_v", LongType()),
                            StructField("avg_v", DoubleType()),
                            StructField("min_v", dtype),
                            StructField("max_v", dtype)]))
        v = F.col(field)
        return (self._matched_docs(m)
                .agg(F.count(v).alias("n"),
                     F.sum(v).alias("sum_v"),
                     F.avg(v).alias("avg_v"),
                     F.min(v).alias("min_v"),
                     F.max(v).alias("max_v")))

    def export_matches(self, query: str, columns: tuple = (),
                       mode: str = "OR", doc_filter: Optional[str] = None,
                       must: Optional[list] = None,
                       must_not: Optional[list] = None) -> DataFrame:
        """Full match-set export [public: Solr /export handler (streaming
        expressions source); Lucene searchAfter exhaustion]: EVERY doc
        matching the query with its exact BM25 score, plus any requested
        doc-store ``columns`` — the feed a reranker or a downstream join
        consumes, where top-k truncation would be wrong.

        The scorer runs unpruned/unsorted/untruncated (``_matches``) so
        the result is the complete match set; no heap, and a scan larger
        than one scoring task's share stays a distributed DataFrame the
        caller writes or joins (a smaller one is scored on the driver into
        a local relation, see _matches); ``columns`` are joined in Spark
        on both paths. Deliberately UNORDERED (a global sort of an
        unbounded match set is the one thing /export refuses too — Solr
        streams by segment order; callers sort after narrowing). Returns
        (doc_id long, score double, *columns)."""
        out = self._relation(
            self._matches(query, mode, doc_filter, must, must_not))
        if columns:
            out = out.join(self._docs_df.select("doc_id", *columns),
                           "doc_id", "inner")
        return out

    def search_boosted(self, query: str, boost_by: str, k: int = 10,
                       additive: bool = False, mode: str = "OR",
                       doc_filter: Optional[str] = None,
                       must: Optional[list] = None,
                       must_not: Optional[list] = None) -> DataFrame:
        """Function-score boosting [public: Solr `boost=`/`bf=` params;
        Lucene FunctionScoreQuery]: final score = bm25 * f(doc) (or
        bm25 + f(doc) with ``additive=True``, Solr's `bf`), where
        ``boost_by`` is a SQL expression over doc-store columns evaluated
        per matching doc — recency decay, length priors, popularity
        signals. An unbounded boost can promote ANY match into the page,
        so score-pruned top-k is unsound here: the match set rides the
        unpruned ``_matches`` scorer, joins the doc store once in Spark
        (``boost_by`` is SQL, so this tail stays in Spark on both paths),
        and one TakeOrdered picks the page. A null boost value is the
        neutral element (1 multiplicative / 0 additive — deterministic;
        Solr's `field(f,def)` default analogue, declared). Ties break by
        doc_id ascending. Returns (doc_id long, score double), <= k rows —
        ``score`` is the BOOSTED score."""
        b = F.coalesce(F.expr(boost_by).cast("double"),
                       F.lit(0.0 if additive else 1.0))
        joined = self._relation(
            self._matches(query, mode, doc_filter, must, must_not)).join(
            self._docs_df, "doc_id", "inner")
        boosted = (F.col("score") + b) if additive else (F.col("score") * b)
        return (joined.select("doc_id", boosted.alias("score"))
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))

    def search_fields(self, field_queries: dict, boosts: Optional[dict] = None,
                      k: int = 10, mode: str = "OR",
                      doc_filter: Optional[str] = None,
                      after: Optional[tuple] = None,
                      must: Optional[dict] = None,
                      must_not: Optional[dict] = None) -> DataFrame:
        """Multi-field search with per-field boosts (Solr qf/dismax
        analogue [public: Solr DisMaxQParser]; requires an index built with
        cfg.fields). ``field_queries`` maps field -> query string; "text"
        is the main field, any other key must be in cfg.fields (indexed as
        "<field>:<term>").

        score(d) = Σ_f boost_f · Σ_{t ∈ q_f} idf(f:t) · tf_norm(tf, dl_f,
        avgdl_f) — BM25 with PER-FIELD length normalization (each fielded
        posting carries its field's dl; the manifest's stats hold per-field
        avgdl).
        mode="AND" requires every term of every field to match. Same
        execution paths, truncation, WAND, filters, and paging as
        search(); the boost folds into the per-term idf weight, so the
        scorer and its block-max bounds need no special casing.

        ``must``: dict field -> words that are REQUIRED (Lucene MUST on a
        fielded clause, '+field:term'); ``must_not``: dict field -> words
        whose docs are EXCLUDED ('-field:term') — exclusion rides the
        same block scan via the fielded term names and never scores."""
        must = must or {}
        must_not = must_not or {}
        unknown = [f for f in list(field_queries) + list(must)
                   + list(must_not)
                   if f != "text" and f not in self.cfg.fields]
        if unknown:
            raise ValueError(f"fields {unknown} not indexed "
                             f"(cfg.fields={list(self.cfg.fields)})")
        sw = self.cfg.stopwords
        terms, req, field_of = [], [], {}
        for occur, fq in (("SHOULD", field_queries), ("MUST", must)):
            for f, q in fq.items():
                toks = _fielded(f, tokenize_py(q, sw))
                if self._field_norms(f) is None:
                    # the field is configured but produced NO postings
                    # (e.g. all-null column): no document can match its
                    # leg — treat as zero-score rather than KeyError
                    # (ADVICE r3). AND mode / MUST match nothing.
                    if (mode == "AND" or occur == "MUST") and toks:
                        return self._empty()
                    continue
                (req if occur == "MUST" else terms).extend(toks)
                field_of.update((t, f) for t in toks)
        excl = [t for f, q in must_not.items()
                for t in _fielded(f, _analyzed([q], sw))]
        return self._term_query(terms, req, excl, mode, field_of, boosts,
                                k=k, doc_filter=doc_filter, after=after)

    def query(self, qs: str, k: int = 10,
              doc_filter: Optional[str] = None,
              after: Optional[tuple] = None,
              max_expansions: int = 64) -> DataFrame:
        """Lucene-classic query-string surface (D1 upgrade, r5) [public:
        Lucene classic QueryParser; Solr lucene QParser]: one entry point
        that parses ``qs`` (see querystring.parse_query for the exact
        grammar) and routes onto the native execution paths —

          spark join              OR terms                -> search()
          +spark join -scan       MUST / SHOULD / MUST_NOT -> search(must=,
                                                             must_not=)
          "sort merge"~2 -scan    phrase (slop) + exclusion -> phrase()
          spar* databse~1         prefix / fuzzy expansion -> scored OR
          s?a*n [hash TO join]    wildcard / term-range expansion -> OR
          /s[pc]a[rn].*/          regexp expansion (anchored) -> OR
          source:src7^2 +lang:en  fielded terms w/ boosts  -> search_fields()

        A phrase clause must be the only SCORED clause (MUST_NOT term
        clauses may accompany it); combining a phrase with other scored
        clauses raises — the summed PhraseQuery+TermQuery score is a
        different scorer this engine does not implement, and silently
        dropping a clause would be worse than saying so."""
        from parser_indexer_spark.querystring import parse_query
        pq = parse_query(qs)
        pos = [c for c in pq.clauses if c.occur != "MUST_NOT"]
        neg = [c for c in pq.clauses if c.occur == "MUST_NOT"]
        if not pos:
            return self._empty()    # pure-negative matches nothing (Lucene)
        common = dict(k=k, doc_filter=doc_filter, after=after)
        phrases = [c for c in pos if c.kind == "phrase"]
        if phrases:
            if len(pos) != 1:
                raise ValueError(
                    "a phrase clause cannot be combined with other scored "
                    "clauses; run them as separate queries")
            c = phrases[0]
            bad = [n for n in neg if n.kind != "term"
                   or n.field not in (None, c.field)]
            if bad:
                raise ValueError(
                    "with a phrase clause, MUST_NOT supports plain term "
                    "clauses in the phrase's own field only")
            return self.phrase(c.text, slop=c.slop,
                               field=c.field or "text",
                               must_not=[n.text for n in neg], **common)
        fielded = any(c.field for c in pq.clauses)
        if fielded:
            bad = [c for c in pos if c.kind not in ("term",)]
            if bad:
                raise ValueError(
                    "prefix/wildcard/range/fuzzy/regexp clauses are not "
                    "supported in fielded queries; use plain terms or an "
                    "unfielded query")
            if any(n.kind != "term" for n in neg):
                raise ValueError("fielded MUST_NOT supports plain term "
                                 "clauses only")

            def group(clauses):
                out: dict[str, list] = {}
                for c in clauses:
                    out.setdefault(c.field or "text", []).append(c.text)
                return {f: " ".join(ts) for f, ts in out.items()}

            boosts: dict[str, float] = {}
            for c in pos:
                f = c.field or "text"
                if f in boosts and boosts[f] != c.boost:
                    raise ValueError(
                        f"conflicting boosts for field {f!r}: one boost "
                        "per field (search_fields folds boosts per field)")
                boosts[f] = c.boost
            return self.search_fields(
                group([c for c in pos if c.occur == "SHOULD"]),
                boosts=boosts, mode="OR",
                must=group([c for c in pos if c.occur == "MUST"]),
                must_not=group(neg), **common)
        def norm_bound(b):
            if b is None:
                return None
            toks = tokenize_py(b, self.cfg.stopwords)
            return toks[-1] if toks else b

        def expand(c):
            """Expansion clauses -> analyzed dictionary terms (the scored
            OR / exclusion set; Lucene's rewrite step)."""
            if c.kind == "prefix":
                toks = tokenize_py(c.text, self.cfg.stopwords)
                return self.expand_prefix(toks[-1], max_expansions) \
                    if toks else []
            if c.kind == "wildcard":
                # the analyzer's normalization, with */? kept as wildcards
                pat = unicodedata.normalize("NFKD", c.text).lower()
                return self.expand_wildcard(pat, max_expansions)
            if c.kind == "range":
                return self.expand_range(
                    norm_bound(c.lo), norm_bound(c.hi),
                    c.incl_lo, c.incl_hi, max_expansions)
            if c.kind == "regex":
                # analyzer normalization of the pattern's literals; regex
                # metachars are ASCII so NFKD+lower is a no-op on them
                pat = unicodedata.normalize("NFKD", c.text).lower()
                return self.expand_regexp(pat, max_expansions)
            if c.kind == "fuzzy":
                toks = tokenize_py(c.text, self.cfg.stopwords)
                return self.expand_fuzzy(toks[-1], c.max_dist) \
                    if toks else []
            # ADVICE r5 (medium): never silently mis-execute a clause kind
            # this router does not handle (the old fall-through ran a
            # MUST_NOT phrase as a fuzzy expansion of its last word)
            raise ValueError(
                f"unsupported clause kind {c.kind!r} in this position")

        for n in neg:
            if n.kind == "phrase":
                raise ValueError(
                    "phrase exclusion (-\"...\") is not implemented; "
                    "MUST_NOT supports term/expansion clauses only")

        def clause_terms(clauses):
            """Term clauses through the analyzer; expansion clauses are
            dictionary terms already."""
            return [t for c in clauses
                    for t in (tokenize_py(c.text, self.cfg.stopwords)
                              if c.kind == "term" else expand(c))]

        return self._term_query(
            clause_terms([c for c in pos if c.occur == "SHOULD"]),
            clause_terms([c for c in pos if c.occur == "MUST"]),
            clause_terms(neg), "OR", **common)

    def _search_terms(self, terms, idf, avg_dl, plan, *, k, mode,
                      doc_filter, after, excl_terms=(), required=None,
                      sort=True):
        """Term-query execution over resolved terms (df > 0): the BM25
        chunk scorer on the shared pruned-scan -> scorer -> top-k tail
        (_score_blocks), run as ``plan`` says. ``avg_dl``: scalar, or dict
        term->avgdl (per-field norms). ``excl_terms``: MUST_NOT terms
        (doc-id streams only, masking candidates). ``required``: MUST-term
        subset (mixed Boolean queries); candidates must contain every one
        of them, the rest still score. ``sort=False``: every match,
        unsorted."""

        def seed(blocks):
            # sidecar seed first: one tiny cached pruned read, works for
            # per-field avgdl too; the metadata-agg seed (two jobs) only
            # runs for wide fan-outs the sidecar couldn't seed. With
            # required terms the sidecar seed runs in AND mode: a
            # fully-covered doc contains every term, so it meets any MUST
            # subset and its exact full sum is an achieved score
            theta0 = self._impact_theta0(
                terms, idf, avg_dl, k, "AND" if required else mode) \
                if plan.seed_sidecar else 0.0
            if theta0 <= 0.0 and plan.seed_scan:
                theta0 = self._seed_theta(blocks, terms, idf, avg_dl, k,
                                          mode, required=required)
            return theta0

        return self._score_blocks(
            terms, excl_terms, _TERM_COLS,
            functools.partial(_make_scorer, terms=terms, idf=idf,
                              avg_dl=avg_dl, mode=mode, required=required),
            seed, plan, k=k, sort=sort, doc_filter=doc_filter, after=after)

    def _plan(self, terms, excl, *, k, sort, doc_filter, after,
              phrase=False, fielded=False, required=False) -> Plan:
        """How a query runs, decided once before anything executes from
        what the query shows: its scored ``terms`` and MUST_NOT ``excl``
        (df > 0; their df from the cached term_stats), ``k``, top-k or full
        match (``sort``), the filter kind, the ``after`` cursor, and its
        shape (a ``phrase``, a ``fielded`` query, MUST clauses).

        * Top-k keeps a heap and prunes with block-max WAND; a full match
          does neither, and neither does a filter too big to broadcast
          (the semi-join after scoring would cut a truncated heap short).
        * The impact sidecar is tried for an unfielded term query with no
          MUST, filter, cursor or MUST_NOT whose k fits the sidecar and
          whose every term has one (df > impact_df_threshold).
        * θ is seeded only where that is lossless: pruned, no broadcast
          filter, cursor or MUST_NOT (an excluded doc's achieved score is
          NOT a lower bound of the k-th SURVIVING score). The sidecar seed
          is one cached read; the scan seed, two small jobs, waits for a
          wide fan-out (THETA_SEED_MIN_BLOCKS matched blocks, estimated
          from the summed df, or a phrase's rarest term).
        * The scan is scored on the driver — its blocks read from the
          parquet files with Arrow in this process, no Spark job, the same
          scorer, a local relation back — when its
          postings (Σ df over every scanned term, MUST_NOT and all phrase
          terms included) fit the driver quota and no semi-join is needed;
          else over one chunk exchange. The quota is one scoring task's
          (_TASK_BLOCKS blocks) for top-k, whose block-max WAND skips most
          of the scan; a full match decodes every posting, which the
          exchange splits over its tasks, so its quota is one task's
          share. Measured on a 200k-turn index at local[4]: the driver
          answers a top-k scan of up to 2x the quota faster and breaks
          even near 4x. The full-match quota comes from a crossover
          measured while a Spark join of the docs relation still followed
          the driver (faster at a quarter of the quota, slower at half);
          with the tails aggregating in pandas, the driver answered
          facets and sort_by faster at every size re-measured, up to 8.6x
          this quota (table in ROADMAP item 1), so the quota is out of
          date and waits for a crossover measured past those sizes.
        * The exchange's width grows with THIS QUERY's posting volume
          (VERDICT r1 #2) — never with total index size — capped at 2
          waves of the cluster's parallelism (r4: each mapInPandas task
          carries a fixed Python-worker/Arrow cost; the r3 512-blocks-per-
          task rule chose 113 tasks for a 2-head-term query at local[4]
          and tripled its latency vs 8 tasks — measured 7.8 s -> 2.2 s).
          On a 1000-executor cluster the cap, not the quota, binds."""
        dfs = self.term_stats(list(terms) + list(excl))
        matched = min(dfs[t] for t in terms) if phrase \
            else sum(dfs[t] for t in terms)
        q_blocks = matched // max(1, self.cfg.block_size)
        allowed_bc, _ = self._resolve_filter(doc_filter)
        semi_join = doc_filter is not None and allowed_bc is None
        heap = sort and not semi_join
        seedable = heap and allowed_bc is None and after is None \
            and not excl
        par = self.spark.sparkContext.defaultParallelism
        tasks = max(4, min(256, 2 * par, q_blocks // _TASK_BLOCKS))
        quota = _TASK_BLOCKS * self.cfg.block_size // (1 if sort else tasks)
        return Plan(
            sidecar=(seedable and not (phrase or fielded or required)
                     and k <= self.cfg.impact_top
                     and all(dfs[t] > self.cfg.impact_df_threshold
                             for t in terms)),
            prune=heap,
            seed_sidecar=seedable and not phrase,
            seed_scan=seedable and q_blocks >= THETA_SEED_MIN_BLOCKS,
            driver=not semi_join and sum(dfs.values()) <= quota,
            tasks=tasks, semi_join=semi_join)

    def _score_blocks(self, terms, excl, columns, make_scorer, seed, plan,
                      *, k, sort, doc_filter, after):
        """The one execution tail of term and phrase queries, run as
        ``plan`` (Index._plan) says: pruned block scan -> streamed chunk
        scorer -> top-k, on the driver or over one chunk exchange of
        ``plan.tasks`` scoring tasks. ``columns``: the block columns the
        scorer reads. ``make_scorer``: the kind's scorer factory, given the
        run options here. ``seed(blocks)``: the kind's θ0 under the plan.
        ``sort=False`` (full match): return EVERY match unsorted; ``k`` is
        ignored. A driver answer (see _answer) is a local relation of the
        top-k in (score desc, doc_id asc) order, or a pandas frame of
        every match, unsorted; its scores are bit-identical to the
        exchange's: each chunk is scored by the same
        code from the same blocks, which the driver reads with Arrow
        (_read_blocks) instead of a Spark scan. The Spark relation is
        built only for the exchange and for a scan θ seed."""
        scanned = list(terms) + list(excl)
        buckets = sorted({term_bucket(t, self.cfg.n_buckets)
                          for t in scanned})
        # D9 filters: a selective filter is broadcast INTO the scorer (the
        # allowed doc_id set, sorted), so heap truncation + WAND keep
        # bounding the candidate set; only a huge filter side falls back to
        # scoring everything and semi-joining after (VERDICT r1 #1).
        allowed_bc, is_empty = self._resolve_filter(doc_filter)
        if is_empty:
            return self._empty(sort)
        segs = self._segs_for_filter(allowed_bc)
        if not segs:
            return self._empty(sort)   # filter range misses every segment
        blocks = None
        if plan.seed_scan or not plan.driver:
            blocks = (
                self._postings_of(segs)
                .where(F.col("bucket").isin(buckets))
                .where(F.col("term").isin(scanned))
                .select(*columns)
            )
        scorer = make_scorer(
            k1=self.cfg.k1, b=self.cfg.b, k=k, prune=plan.prune,
            truncate=sort and not plan.semi_join,
            chunk_bits=self.cfg.chunk_bits, allowed_bc=allowed_bc,
            after=after, theta0=seed(blocks), denied_bc=self._denied(),
            excl_terms=excl)
        if plan.driver:
            # the truncated heap comes out in (score desc, doc_id asc)
            # order already; the full-match set needs no order
            return self._answer(*_score_local(
                self._read_blocks(segs, buckets, scanned, columns), scorer),
                sort)
        cand = (
            blocks.repartition(plan.tasks, "chunk")
                  .sortWithinPartitions("chunk")
                  .mapInPandas(scorer, "doc_id long, score double")
        )
        if plan.semi_join:
            cand = cand.join(self._docs_df.where(doc_filter).select("doc_id"),
                             "doc_id", "left_semi")
        if not sort:
            return cand
        return cand.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _read_blocks(self, segs, buckets, terms, columns) -> pd.DataFrame:
        """The block rows of ``terms`` (hashed to ``buckets``) in segments
        ``segs``, ``columns`` only: the driver path's scan, read through
        CATALOG with Arrow in this process — no Spark job. Each (segment,
        bucket) directory is listed once per handle."""
        files = []
        for key in ((s, b) for s in segs for b in buckets):
            if key not in self._part_files:
                self._part_files[key] = CATALOG.list_files(
                    IndexPaths(self.root).postings_part(*key))
            files += self._part_files[key]
        if not files:
            return pd.DataFrame(columns=list(columns))
        return CATALOG.read_arrow(
            files, columns, ds.field("term").isin(list(terms))).to_pandas()

    def _local(self, frame: pd.DataFrame, schema: StructType) -> DataFrame:
        """A driver-side answer as a local relation of ``schema`` (the
        frame's columns in its order) holding the rows in the order given
        — the small-scan path, both impact-sidecar fast paths and the
        full-match tails pass them already ordered, and
        collect()/toPandas()/limit() on a local relation keep that order
        without a Spark sort. Collecting it starts no Spark job. Built
        from a pandas frame only: Spark makes a list of rows an RDD
        scan."""
        if frame.empty:
            # Spark turns an empty pandas frame into an RDD scan, one job
            # per collect; a one-row local relation cut to none stays local
            return self._local(pd.DataFrame(
                {f.name: [_PLACEHOLDER.get(f.dataType.typeName(), 0)]
                 for f in schema}), schema).limit(0)
        return self.spark.createDataFrame(frame, schema)

    # ----------------------------------------------------------- phrase ---
    def phrase(self, query: str, k: int = 10, slop: int = 0,
               field: str = "text",
               doc_filter: Optional[str] = None,
               after: Optional[tuple] = None,
               must_not: Optional[list] = None) -> DataFrame:
        """Top-k phrase / ordered-proximity query over positional postings
        (D-phrase) [public: Lucene PhraseQuery / SloppyPhraseScorer].

        Semantics: a doc matches if its token stream contains positions
        p_0 < p_1 < ... < p_{m-1}, one per phrase term IN ORDER, with every
        adjacent gap p_{i+1} - p_i in [1, slop + 1]. slop=0 is the exact
        phrase. (Documented deviation from Lucene: slop bounds each
        adjacent gap — "chained gaps" — rather than the total permutation
        edit distance; out-of-order matches never count.)

        Scoring [public: Lucene PhraseQuery scoring]: the phrase acts as
        one pseudo-term — score = (sum of idf over phrase terms, duplicates
        counted) * tf_norm(phrase_tf, dl), where phrase_tf is the number of
        chain START positions with a full match. A one-token phrase is the
        plain term query (phrase_tf == tf).

        Execution = the pruned-scan -> scorer -> top-k tail that term
        queries use (_score_blocks), with the positional scorer
        (vectorized key-set chain intersection, no per-posting Python) as
        the chunk scorer. Block-max WAND stays active: phrase_tf <= min
        over terms of max_tf, so idf_sum * tf_norm(min_t max_tf_t, min dl)
        is a lossless chunk upper bound. As in search(), a phrase whose
        scanned postings (Σ df over its distinct terms and MUST_NOT words)
        fit one scoring task's quota is scored AT CALL TIME on the driver
        and returns a local relation; larger scans return the lazy
        chunk-exchange -> mapInPandas plan (Index._plan decides).
        """
        if not self.cfg.positions:
            raise ValueError(
                "index was built with positions=False; phrase queries "
                "need positional postings")
        if field != "text" and field not in self.cfg.fields:
            raise ValueError(f"field {field!r} not indexed "
                             f"(cfg.fields={list(self.cfg.fields)})")
        # fielded phrase (field:"exact phrase", Solr analogue): the SAME
        # positional machinery runs over the "<field>:<term>" postings,
        # whose dl and positions are the field's own; BM25 normalizes by
        # the field's avgdl and doc count (the manifest's per-field stats)
        toks = _fielded(field, tokenize_py(query, self.cfg.stopwords))
        norms = self._field_norms(field)
        if not toks or norms is None:
            return self._empty()
        # MUST_NOT on the phrase path [public: Lucene BooleanQuery with a
        # PhraseQuery MUST clause]: exclusion terms match in the SAME
        # field as the phrase; their doc-id streams ride the block scan
        # and mask candidates pre-heap, like the term path
        excl = _fielded(field, _analyzed(must_not, self.cfg.stopwords))
        run = dict(k=k, doc_filter=doc_filter, after=after)
        if len(toks) == 1:
            return self._term_query(
                toks, [], excl, "OR",
                None if field == "text" else {toks[0]: field}, **run)
        uniq = sorted(set(toks))
        dfs = self.term_stats(uniq)
        # a phrase containing an index-absent term matches nothing
        if any(dfs[t] == 0 for t in uniq):
            return self._empty()
        n_docs, avg_dl = norms
        idf_sum = float(sum(bm25_idf(n_docs, dfs[t]) for t in toks))

        excl = self._indexed(excl)
        plan = self._plan(uniq, excl, sort=True, phrase=True, **run)

        def seed(blocks):
            return self._seed_theta_phrase(blocks, uniq, toks, idf_sum,
                                           avg_dl, k, slop) \
                if plan.seed_scan else 0.0

        return self._score_blocks(
            uniq, excl, _PHRASE_COLS,
            functools.partial(_make_phrase_scorer, phrase_terms=toks,
                              idf_sum=idf_sum, avg_dl=avg_dl, slop=slop),
            seed, plan, sort=True, **run)

    def _segs_for_filter(self, allowed_bc) -> list:
        """Segment pruning under doc filters (VERDICT r3 #9): every
        segment manifest row carries its doc_id range [doc_lo, doc_hi];
        a segment whose range holds no doc of a broadcast filter's allowed
        set is not scanned (file-level pruning on top of the bucket/term
        pruning). Returns the ids of the live segments to scan — all of
        them without a broadcast filter — empty if NO segment can contain
        an allowed doc. Both execution paths scan these segments."""
        segs_all = self.manifest["segments"]
        if allowed_bc is None or len(segs_all) <= 1:
            return [s["seg"] for s in segs_all]
        arr = allowed_bc.value
        surv = []
        for s in segs_all:
            i = int(np.searchsorted(arr, s["doc_lo"]))
            if i < arr.size and arr[i] <= s["doc_hi"]:
                surv.append(s["seg"])
        return surv

    def _postings_of(self, segs: list) -> DataFrame:
        """The postings relation over segments ``segs`` (the exchange
        path's scan): the handle's own one for every live segment, else a
        pruned relation, cached per surviving segment set."""
        if len(segs) == len(self.manifest["segments"]):
            return self._postings_df
        key = tuple(segs)
        if key not in self._postings_pruned:
            while len(self._postings_pruned) >= self._postings_pruned_max:
                self._postings_pruned.pop(next(iter(self._postings_pruned)))
            self._postings_pruned[key] = read_postings(
                self.spark, self.root, segs=segs)
        return self._postings_pruned[key]

    def _resolve_filter(self, doc_filter: Optional[str]):
        """doc_filter -> (allowed_bc, is_empty). Selective filters become
        a cached broadcast sorted-int64 set (Arrow collection, no driver
        Row objects — ADVICE r2); oversized ones return allowed_bc=None
        (semi-join fallback)."""
        if doc_filter is None:
            return None, False
        if doc_filter in self._filter_bc:
            allowed_bc = self._filter_bc[doc_filter]
            if allowed_bc is None:          # cached "too big" verdict
                return None, False
            return allowed_bc, allowed_bc.value.size == 0
        head = (self._docs_df.where(doc_filter).select("doc_id")
                .limit(FILTER_BROADCAST_LIMIT + 1)
                .toPandas()["doc_id"].to_numpy(dtype=np.int64))
        if head.size <= FILTER_BROADCAST_LIMIT:
            arr = np.sort(head)
            allowed_bc = self.spark.sparkContext.broadcast(arr)
        else:
            allowed_bc = None
        if len(self._filter_bc) >= self._filter_bc_max:
            oldest = next(iter(self._filter_bc))   # FIFO eviction
            old = self._filter_bc.pop(oldest)
            if old is not None:
                # unpersist, NOT destroy (ADVICE r3): a previously returned
                # DataFrame is lazily re-executable and may still capture
                # this broadcast in its scorer closure; unpersist drops the
                # executor copies but lets a re-run re-broadcast from the
                # driver value. destroy() is reserved for close(), which
                # documents that it invalidates outstanding DataFrames.
                old.unpersist(blocking=False)
        self._filter_bc[doc_filter] = allowed_bc
        return allowed_bc, allowed_bc is not None and head.size == 0

    def _seed_theta(self, blocks: DataFrame, terms, idf, avg_dl, k,
                    mode, required=None) -> float:
        """Cross-executor WAND θ seed (D8 v2): find the chunk with the
        highest summed per-term block-max upper bound (metadata-only agg —
        no posting decode), collect just that chunk's blocks, score it
        exactly with the SAME scorer code, and return its k-th score. θ0 is
        an achieved score of k real docs, so the global k-th best is >= θ0
        and pruning against it stays lossless everywhere."""
        if isinstance(avg_dl, dict):
            return 0.0  # per-field norms: the metadata-agg leg assumes one
        k1, b = self.cfg.k1, self.cfg.b
        idf_col = F.lit(0.0)
        for t in terms:
            idf_col = F.when(F.col("term") == t, float(idf[t])).otherwise(idf_col)
        tfn = F.col("max_tf") / (
            F.col("max_tf") + k1 * (1.0 - b + b * F.col("min_dl") / avg_dl))
        per = (blocks.groupBy("chunk", "term")
               .agg(F.max(idf_col * tfn).alias("u")))
        best = (per.groupBy("chunk").agg(F.sum("u").alias("ub"))
                .orderBy(F.desc("ub"), F.asc("chunk")).limit(1).collect())
        return self._kth_score_of_chunk(blocks, best, k, _make_scorer(
            terms=terms, idf=idf, k1=k1, b=b, avg_dl=avg_dl, k=k, mode=mode,
            prune=False, truncate=True, chunk_bits=self.cfg.chunk_bits,
            denied_bc=self._denied(), required=required))

    def _seed_theta_phrase(self, blocks: DataFrame, uniq, toks, idf_sum,
                           avg_dl, k, slop) -> float:
        """Phrase-path WAND θ seed (VERDICT r3 #7): pick the chunk with
        the highest LOSSLESS phrase upper bound — idf_sum * tf_norm(min
        over terms of max max_tf, min min_dl), computed from block
        metadata only and restricted to chunks containing EVERY phrase
        term — then exactly phrase-score that one chunk driver-side with
        the same scorer code; its k-th score is an achieved lower bound
        of the global k-th best, so pruning against it stays lossless."""
        k1, b = self.cfg.k1, self.cfg.b
        per = (blocks.groupBy("chunk", "term")
               .agg(F.max("max_tf").alias("mt"), F.min("min_dl").alias("md")))
        agg = (per.groupBy("chunk")
               .agg(F.min("mt").alias("mt"), F.min("md").alias("md"),
                    F.countDistinct("term").alias("nt"))
               .where(F.col("nt") == len(uniq)))
        tfn = F.col("mt") / (F.col("mt")
                             + k1 * (1.0 - b + b * F.col("md") / avg_dl))
        best = agg.orderBy(F.desc(tfn), F.asc("chunk")).limit(1).collect()
        return self._kth_score_of_chunk(blocks, best, k, _make_phrase_scorer(
            phrase_terms=list(toks), idf_sum=idf_sum, k1=k1, b=b,
            avg_dl=avg_dl, k=k, slop=slop, prune=False, truncate=True,
            chunk_bits=self.cfg.chunk_bits, denied_bc=self._denied()))

    def _kth_score_of_chunk(self, blocks: DataFrame, best: list, k: int,
                            scorer) -> float:
        """Second half of both θ seeds: collect the chosen chunk's blocks
        (``best``: the one-row collect naming it, empty if none), score
        them exactly with the query's own scorer, and return the k-th
        score (0.0 when the chunk holds fewer than k matches)."""
        if not best:
            return 0.0
        _, scores = _score_local(
            blocks.where(F.col("chunk") == best[0]["chunk"]).toPandas(),
            scorer)
        if scores.size < max(1, k):
            return 0.0
        return float(scores.min())

    # ------------------------------------------------------- spellcheck ---
    def build_spell_index(self) -> None:
        """D14 spellcheck scale path (VERDICT r3 #6 / r2 #5): persist the
        char-bigram -> term inverted map at <root>/spell (see
        build_spell_table)."""
        import os
        build_spell_table(self._dict_df, os.path.join(self.root, "spell"))

    def _spell_fresh(self, spell_dir: str) -> bool:
        """A persisted spell table is used only while its build-time
        n_terms watermark matches the live dictionary (ADVICE r4): after
        an append the table silently lacks the new terms, so queries fall
        back to the dict-scan path until build_spell_index() reruns. A
        table with no watermark (pre-r5 layout) is treated as stale."""
        import os
        try:
            meta = CATALOG.read_meta(
                os.path.join(spell_dir, "_spell_meta.json"))
        except Exception:
            return False
        return meta.get("n_terms") == self.stats["n_terms"]

    def spellcheck(self, word: str, max_dist: int = 2,
                   limit: int = 5) -> DataFrame:
        """Nearest dictionary terms to ``word`` via the bucket-pruned
        spell table when build_spell_index() ran, else via a dict scan
        with the same candidate predicate (see spellcheck_table for the
        candidate semantics)."""
        import os
        spell_dir = os.path.join(self.root, "spell")
        if os.path.isdir(spell_dir) and self._spell_fresh(spell_dir):
            return spellcheck_table(self.spark, spell_dir, word,
                                    max_dist=max_dist, limit=limit)
        bgs = sorted({word[i:i + 2] for i in range(len(word) - 1)})
        pred = None
        for g in bgs:
            c = F.col("term").contains(g)
            pred = c if pred is None else (pred | c)
        cand = self._dict_df.select("term", "df")
        if pred is not None:
            cand = cand.where(pred)
        return _spell_rank(cand, word, max_dist, limit)

    def fetch(self, topk: DataFrame) -> DataFrame:
        """A6 doc-store fetch: join top-k ids back to stored fields; the
        k-row side is broadcast so no shuffle of the doc store happens."""
        return (self._docs_df.join(F.broadcast(topk), "doc_id")
                    .orderBy(F.desc("score"), F.asc("doc_id")))

    def highlight(self, query: str, k: int = 10, mode: str = "OR",
                  window: int = 5, **kw) -> DataFrame:
        """D13 highlighting: top-k + a snippet around the first matching
        term occurrence, <mark>-tagged. Pandas UDF over the k fetched rows
        only (never the corpus) [public: Solr highlighter analogue]."""
        terms = sorted(set(tokenize_py(query, self.cfg.stopwords)))
        hits = self.fetch(self.search(query, k=k, mode=mode, **kw))

        @F.pandas_udf("string")
        def snip(texts: pd.Series) -> pd.Series:
            out = []
            for text in texts:
                toks = tokenize_py(text or "")
                pos = next((i for i, t in enumerate(toks) if t in terms), None)
                if pos is None:
                    out.append("")
                    continue
                lo, hi = max(0, pos - window), pos + window + 1
                frag = [f"<mark>{t}</mark>" if t in terms else t
                        for t in toks[lo:hi]]
                out.append(("... " if lo else "") + " ".join(frag)
                           + (" ..." if hi < len(toks) else ""))
            return pd.Series(out)

        return hits.withColumn("snippet", snip(F.col("text")))

    def highlight_phrase(self, query: str, k: int = 10, slop: int = 0,
                         window: int = 5, **kw) -> DataFrame:
        """D13 phrase highlighting: top-k phrase hits + a snippet marking
        the FULL first matching phrase span (every token of the chain gets
        <mark>). Pandas UDF over the k fetched rows only."""
        toks_q = tokenize_py(query, self.cfg.stopwords)
        hits = self.fetch(self.phrase(query, k=k, slop=slop, **kw))
        m = len(toks_q)

        def first_chain(toks):
            """-> list of matched positions of the first phrase chain, or
            None. Backward S_i sets (same semantics as the scorer), then a
            forward walk from the smallest valid start."""
            sets = [None] * m
            sets[-1] = {i for i, w in enumerate(toks) if w == toks_q[-1]}
            for qi in range(m - 2, -1, -1):
                nxt = sets[qi + 1]
                sets[qi] = {i for i, w in enumerate(toks) if w == toks_q[qi]
                            and any((i + g) in nxt
                                    for g in range(1, slop + 2))}
                if not sets[qi]:
                    return None
            if not sets[-1]:
                return None
            span = [min(sets[0])]
            for qi in range(1, m):
                span.append(min(p for p in sets[qi]
                                if 1 <= p - span[-1] <= slop + 1))
            return span

        @F.pandas_udf("string")
        def snip(texts: pd.Series) -> pd.Series:
            out = []
            for text in texts:
                toks = tokenize_py(text or "")
                span = first_chain(toks) if toks else None
                if span is None:
                    out.append("")
                    continue
                lo = max(0, span[0] - window)
                hi = min(len(toks), span[-1] + window + 1)
                marked = set(span)
                frag = [f"<mark>{t}</mark>" if i in marked else t
                        for i, t in enumerate(toks[lo:hi], start=lo)]
                out.append(("... " if lo else "") + " ".join(frag)
                           + (" ..." if hi < len(toks) else ""))
            return pd.Series(out)

        return hits.withColumn("snippet", snip(F.col("text")))


# ---------------------------------------------------------------- scorers ---

# positions are packed with doc_ids into int64 keys: key = (doc << _POS_BITS)
# | pos. Docs up to 2^41 and 4M tokens/doc — enforced at decode time.
_POS_BITS = 22
_POS_LIMIT = 1 << _POS_BITS


def _decode_docs(sel: pd.DataFrame) -> np.ndarray:
    """Doc ids of block rows, in block order — ONE batched decode over all
    blocks instead of a per-block decode() loop (the loop's fixed per-call
    cost dominated multi-term head-query latency: 4.4 s for one df=3M
    term, ~60 % pure loop overhead)."""
    nd = sel["num_docs"].to_numpy(dtype=np.int64)
    return delta_decode_blocks(
        decode_blocks(sel["docs_enc"].to_numpy(), nd), nd,
        sel["first_doc_id"].to_numpy(dtype=np.int64))


def _decode_positions(pos_enc, tf: np.ndarray, ns: np.ndarray) -> np.ndarray:
    """Blocks' position payloads -> flat ABSOLUTE positions (int64), tf[i]
    of them per posting i of the blocks' concatenated postings (``ns``:
    postings per block). ONE decode_blocks call across the blocks; gaps
    are within-posting deltas (first absolute), so decode = cumsum with a
    per-posting base reset, which works unchanged on the concatenated
    gap stream."""
    block_starts = np.concatenate(([0], np.cumsum(ns)[:-1]))
    gaps = decode_blocks(pos_enc, np.add.reduceat(tf, block_starts)) \
        .astype(np.int64)
    cum = np.cumsum(gaps)
    starts = np.concatenate(([0], np.cumsum(tf)[:-1])).astype(np.int64)
    pos = cum - np.repeat(cum[starts] - gaps[starts], tf)
    if pos.size and int(pos.max()) >= _POS_LIMIT:
        raise ValueError(f"token position >= {_POS_LIMIT} unsupported "
                         "by phrase keys")
    return pos


def _score_local(rows: pd.DataFrame, scorer) -> tuple:
    """Run a chunk scorer in this process over collected block rows ->
    (doc_ids, scores) as the scorer emits them. Rows are put in chunk order
    first, as the distributed path's sortWithinPartitions does."""
    out = next(scorer(iter([rows.sort_values("chunk", kind="stable")])))
    return out["doc_id"].to_numpy(), out["score"].to_numpy()


def _levenshtein(a: str, b: str) -> int:
    """Edit distance in characters (insert, delete, substitute), the
    measure of Spark's levenshtein()."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _merge_topk(heap_docs, heap_scores, docs, scores, k):
    """Merge candidates into the running top-k, (score desc, doc_id asc)."""
    cd = np.concatenate([heap_docs, docs]) if len(heap_docs) else docs
    cs = np.concatenate([heap_scores, scores]) if len(heap_scores) else scores
    order = np.lexsort((cd, -cs))[:k]
    return cd[order], cs[order]


def _chunk_scorer(score_chunk, k, truncate, chunk_bits, allowed_bc=None,
                  after=None, theta0=0.0, denied_bc=None, excl_terms=None):
    """The one mapInPandas scoring loop; only ``score_chunk`` differs per
    query kind. Input arrives chunk-sorted within the partition
    (sortWithinPartitions upstream); the loop STREAMS complete chunk runs
    off the Arrow batch iterator with a carry for the run spanning a batch
    boundary — the same pattern as build.py's block construction — so
    peak memory is one chunk's blocks plus one Arrow batch, not the
    partition (VERDICT r1 #2). θ improves monotonically for WAND because
    chunks arrive in ascending order.

    Per chunk: the broadcast ``allowed_bc`` set (sorted int64 doc ids) is
    cut to the chunk's doc range, skipping chunks with no allowed doc; the
    MUST_NOT rows (``excl_terms``) are split off, so an excluded term's
    blocks never stand in for a query term; then ``score_chunk(rows,
    theta, allowed)`` matches and scores, given θ = the heap's k-th score
    raised to ``theta0`` (None while neither exists), and returns (docs,
    scores) or None. MUST_NOT docs (doc-id streams only — exclusion never
    scores), tombstones [public: Lucene liveDocs] and the ``after`` keyset
    cursor (D11) are masked pre-heap, so θ only ever grows from returnable
    docs and truncation + WAND stay lossless. ``truncate=False`` keeps
    every match instead of a top-k heap."""
    excl = sorted(excl_terms) if excl_terms else None

    def step(rows: pd.DataFrame, hd, hs):
        allowed = None
        if allowed_bc is not None:
            allowed = allowed_bc.value
            c = int(rows["chunk"].iloc[0])
            lo = np.searchsorted(allowed, np.int64(c) << chunk_bits)
            hi = np.searchsorted(allowed, np.int64(c + 1) << chunk_bits)
            if lo == hi:
                return hd, hs  # no allowed doc in range
            allowed = allowed[lo:hi]
        ex_rows = None
        if excl:
            exm = np.isin(rows["term"].to_numpy(), excl)
            if exm.any():
                ex_rows, rows = rows[exm], rows[~exm]
        theta = hs[-1] if truncate and len(hs) == k else None
        if theta0 > 0.0:
            theta = theta0 if theta is None else max(theta, theta0)
        res = score_chunk(rows, theta, allowed)
        if res is None:
            return hd, hs
        docs, scores = res
        for banned in (None if ex_rows is None
                       else np.unique(_decode_docs(ex_rows)),
                       None if denied_bc is None else denied_bc.value):
            live = _live_mask_arr(docs, banned)
            if live is not None:
                docs, scores = docs[live], scores[live]
        if after is not None:
            # keep docs strictly after the (score desc, doc_id asc) position
            a_s, a_d = float(after[0]), int(after[1])
            keep = (scores < a_s) | ((scores == a_s) & (docs > a_d))
            docs, scores = docs[keep], scores[keep]
        if docs.size == 0:
            return hd, hs
        if not truncate:
            hd.append(docs)
            hs.append(scores)
            return hd, hs
        return _merge_topk(hd, hs, docs, scores, k)

    def scorer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if truncate:
            hd = np.empty(0, dtype=np.int64)
            hs = np.empty(0, dtype=np.float64)
        else:
            hd, hs = [], []
        carry: Optional[pd.DataFrame] = None
        for pdf in batches:
            if pdf.empty:
                continue
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            chunks = pdf["chunk"].to_numpy()
            last_start = int(np.flatnonzero(chunks != chunks[-1]).max() + 1) \
                if chunks[0] != chunks[-1] else 0
            carry = pdf.iloc[last_start:]
            head = pdf.iloc[:last_start]
            for _, rows in head.groupby("chunk", sort=True):
                hd, hs = step(rows, hd, hs)
        if carry is not None and len(carry):
            for _, rows in carry.groupby("chunk", sort=True):
                hd, hs = step(rows, hd, hs)
        if truncate:
            out_d, out_s = hd, hs
        else:
            out_d = np.concatenate(hd) if hd else np.empty(0, np.int64)
            out_s = np.concatenate(hs) if hs else np.empty(0, np.float64)
        yield pd.DataFrame({"doc_id": out_d.astype(np.int64),
                            "score": out_s.astype(np.float64)})

    return scorer


def _make_scorer(terms, idf, k1, b, avg_dl, k, mode, prune, truncate,
                 chunk_bits, allowed_bc=None, after=None, theta0=0.0,
                 denied_bc=None, excl_terms=None, required=None):
    """BM25 term scorer on the _chunk_scorer loop: chunk-grid leapfrog
    intersection (D4) / MaxScore union (D5), exact-dl BM25 (D6), block-max
    WAND chunk skipping (D8). The allowed-set filter applies pre-heap,
    keeping truncation + WAND active (block-max upper bounds over the
    unfiltered corpus stay valid upper bounds). ``avg_dl``: scalar, or
    dict term->avgdl (multi-field per-field normalization — fielded
    postings carry the field's own dl)."""
    terms_sorted = list(terms)  # already sorted unique
    idf_arr = {t: float(idf[t]) for t in terms_sorted}
    avg_of = {t: float(avg_dl[t] if isinstance(avg_dl, dict) else avg_dl)
              for t in terms_sorted}
    m = len(terms_sorted)
    # mixed-occur Boolean query [public: Lucene BooleanQuery MUST+SHOULD]:
    # ``required`` (a strict subset of terms) must ALL match; the rest are
    # optional but still score. mode="AND" is the required==terms special
    # case and keeps its dedicated leapfrog branch below.
    req_sorted = sorted(required) if required else []
    if req_sorted and set(req_sorted) == set(terms_sorted):
        mode, req_sorted = "AND", []

    def tf_norm(tf, dl, avg):
        return tf / (tf + k1 * (1.0 - b + b * dl / avg))

    def decode_term(sel: pd.DataFrame, member):
        """Decode one term's block rows of a chunk. ``member``: optional
        sorted int64 doc set — only blocks whose [first_doc_id,
        last_doc_id] range intersects it are decoded (block-level skipping,
        the MaxScore non-essential-list lookup [public: Turtle & Flood
        1995; Lucene MaxScore]), and decoded postings are filtered to
        membership. Returns (docs, tfs, dls) sorted by doc, or None if
        nothing survives."""
        if member is not None and len(sel):
            fd = sel["first_doc_id"].to_numpy(dtype=np.int64)
            ld = sel["last_doc_id"].to_numpy(dtype=np.int64)
            lo = np.searchsorted(member, fd, side="left")
            lo_c = np.minimum(lo, member.size - 1)
            sel = sel[(lo < member.size) & (member[lo_c] <= ld)]
        if not len(sel):
            return None
        nd = sel["num_docs"].to_numpy(dtype=np.int64)
        d = _decode_docs(sel)
        # blocks of a salted term interleave doc ranges (two salt groups
        # of one term may share a build partition and emit one merged run
        # that skips the middle salt's range) — re-sort after decode.
        order = np.argsort(d)
        d = d[order]
        tf_a = decode_blocks(sel["tfs_enc"].to_numpy(), nd) \
            .astype(np.float64)[order]
        dl_a = decode_blocks(sel["dls_enc"].to_numpy(), nd) \
            .astype(np.float64)[order]
        if member is not None:
            pos = np.searchsorted(member, d)
            pos_c = np.minimum(pos, member.size - 1)
            keep = member[pos_c] == d
            if not keep.any():
                return None
            d, tf_a, dl_a = d[keep], tf_a[keep], dl_a[keep]
        return d, tf_a, dl_a

    def score_chunk(rows: pd.DataFrame, theta, allowed_chunk):
        """rows: the block rows of ONE chunk -> (docs, scores) or None."""
        tarr = rows["term"].to_numpy()
        sel_of = {t: rows[tarr == t] for t in terms_sorted
                  if (tarr == t).any()}
        if mode == "AND" and len(sel_of) < m:
            return None
        # a chunk is a doc-id range, so a doc's postings for EVERY term it
        # contains live in this same chunk: a required term with no blocks
        # here means no doc of the chunk can match
        if any(t not in sel_of for t in req_sorted):
            return None
        ubs = {}
        margin = 0.0
        if prune and theta is not None:
            margin = _PRUNE_EPS * max(1.0, abs(theta))
            ub_sum = 0.0
            for t, sel in sel_of.items():
                mt = sel["max_tf"].to_numpy(dtype=np.float64)
                md = sel["min_dl"].to_numpy(dtype=np.float64)
                ubs[t] = idf_arr[t] * float(np.max(tf_norm(mt, md,
                                                           avg_of[t])))
                ub_sum += ubs[t]
            if ub_sum < theta - margin:
                return None  # block-max WAND skip (D8)

        per_term = {}
        if mode == "AND" or req_sorted:
            # block-skipping leapfrog over the REQUIRED terms (every term
            # in AND mode): decode the term with the fewest blocks first;
            # every later term decodes ONLY blocks whose doc range
            # intersects the running intersection — head terms' blocks
            # outside the rare term's matches are never touched. In a
            # mixed MUST+SHOULD query [public: Lucene BooleanQuery] every
            # OPTIONAL term then decodes lookup-only against the
            # intersection — a doc outside it can never match.
            common = allowed_chunk
            for t in sorted(req_sorted or sel_of,
                            key=lambda u: len(sel_of[u])):
                res = decode_term(sel_of[t], common)
                if res is None or res[0].size == 0:
                    return None
                per_term[t] = res
                # membership-filtered decode => res[0] is the new,
                # smaller intersection
                common = res[0]
            total = np.zeros(common.size, dtype=np.float64)
            for t in terms_sorted:      # frozen accumulation order
                if t in per_term:       # required: defined on all of common
                    d, tf, dl = per_term[t]
                    pos = np.searchsorted(d, common)
                    total += idf_arr[t] * tf_norm(tf[pos], dl[pos],
                                                  avg_of[t])
                    continue
                if t not in sel_of:
                    continue
                res = decode_term(sel_of[t], common)
                if res is None or res[0].size == 0:
                    continue
                d, tf, dl = res        # member-filtered => d ⊆ common
                pos = np.searchsorted(common, d)
                total[pos] += idf_arr[t] * tf_norm(tf, dl, avg_of[t])
            return common, total
        # MaxScore split: the longest ub-ascending prefix whose ub sum
        # stays under theta is NON-ESSENTIAL — a doc matching only those
        # terms cannot reach the heap, so candidates come from essential
        # terms alone and NE terms are lookup-only (their blocks decode
        # only where a candidate lands)
        ne: set = set()
        if ubs and theta is not None:
            cum = 0.0
            for t in sorted(ubs, key=lambda u: ubs[u]):
                if cum + ubs[t] < theta - margin:
                    cum += ubs[t]
                    ne.add(t)
                else:
                    break
        for t in sel_of:
            if t in ne:
                continue
            res = decode_term(sel_of[t], allowed_chunk)
            if res is not None:
                per_term[t] = res
        if not per_term:
            return None
        all_docs = np.unique(np.concatenate(
            [per_term[t][0] for t in per_term]))
        for t in ne:
            res = decode_term(sel_of[t], all_docs)
            if res is not None:
                per_term[t] = res
        total = np.zeros(all_docs.size, dtype=np.float64)
        for t in terms_sorted:  # frozen accumulation order
            if t not in per_term:
                continue
            d, tf, dl = per_term[t]
            pos = np.searchsorted(all_docs, d)
            total[pos] += idf_arr[t] * tf_norm(tf, dl, avg_of[t])
        return all_docs, total

    return _chunk_scorer(score_chunk, k, truncate, chunk_bits,
                         allowed_bc=allowed_bc, after=after, theta0=theta0,
                         denied_bc=denied_bc, excl_terms=excl_terms)


def _make_phrase_scorer(phrase_terms, idf_sum, k1, b, avg_dl, k, slop,
                        prune, truncate, chunk_bits, allowed_bc=None,
                        after=None, theta0=0.0, denied_bc=None,
                        excl_terms=None):
    """Positional phrase scorer on the _chunk_scorer loop: inside a
    chunk the phrase is matched by a BACKWARD key-set chain — S_i =
    positions of term i that start a valid suffix chain — using only
    np.isin on (doc << _POS_BITS | pos) keys, so the cost is O(total
    positions of the query terms in the chunk), no per-doc Python."""
    uniq = sorted(set(phrase_terms))
    m = len(phrase_terms)
    deltas = list(range(1, slop + 2))

    def tf_norm(tf, dl):
        return tf / (tf + k1 * (1.0 - b + b * dl / avg_dl))

    def score_chunk(rows: pd.DataFrame, theta, allowed):
        tarr = rows["term"].to_numpy()
        sel_of = {t: rows[tarr == t] for t in uniq if (tarr == t).any()}
        if len(sel_of) < len(uniq):
            return None  # a required term is absent
        if prune and theta is not None:
            # lossless ub: phrase_tf <= min_t tf_t(d) <= min_t max(max_tf)
            mtf = min(float(sel["max_tf"].max()) for sel in sel_of.values())
            mdl = min(float(sel["min_dl"].min()) for sel in sel_of.values())
            ub = idf_sum * tf_norm(mtf, mdl)
            if ub < theta - _PRUNE_EPS * max(1.0, abs(theta)):
                return None

        # decode each unique term: doc/dl arrays + positional keys
        per_term = {}
        for t, sel in sel_of.items():
            ns = sel["num_docs"].to_numpy(dtype=np.int64)
            d = _decode_docs(sel)
            tf = decode_blocks(sel["tfs_enc"].to_numpy(), ns) \
                .astype(np.int64)
            ls = decode_blocks(sel["dls_enc"].to_numpy(), ns) \
                .astype(np.float64)
            pos = _decode_positions(sel["pos_enc"].to_numpy(), tf, ns)
            per_term[t] = (d, ls, (np.repeat(d, tf) << _POS_BITS) | pos)

        # AND pre-filter: docs containing every unique term
        common = allowed
        for t in uniq:
            d = np.sort(per_term[t][0])
            common = d if common is None else \
                common[np.isin(common, d, assume_unique=True)]
            if common.size == 0:
                return None

        def term_keys(t):
            ks = per_term[t][2]
            return ks[np.isin(ks >> _POS_BITS, common)]

        # backward chain: S holds key positions of phrase_terms[i] that
        # start a valid chain through the phrase suffix
        pos_mask = np.int64(_POS_LIMIT - 1)
        S = term_keys(phrase_terms[-1])
        for i in range(m - 2, -1, -1):
            q = term_keys(phrase_terms[i])
            if q.size == 0 or S.size == 0:
                return None
            match = np.zeros(q.size, dtype=bool)
            for dlt in deltas:
                # q + dlt may wrap across the doc boundary of the packed
                # key (pos near 2^22 makes doc<<22|pos + dlt == the NEXT
                # doc's pos ~0, ADVICE r3) — only probe positions whose
                # shifted key stays inside the same doc
                ok = (q & pos_mask) + dlt < _POS_LIMIT
                match |= ok & np.isin(q + dlt, S)
            S = q[match]
        if S.size == 0:
            return None

        docs_out, ptf = np.unique(S >> _POS_BITS, return_counts=True)
        # dl lookup from any term's decoded run (all matching docs have it)
        d0, dl0, _ = per_term[uniq[0]]
        o = np.argsort(d0)
        dl_m = dl0[o][np.searchsorted(d0[o], docs_out)]
        return docs_out, idf_sum * tf_norm(ptf.astype(np.float64), dl_m)

    return _chunk_scorer(score_chunk, k, truncate, chunk_bits,
                         allowed_bc=allowed_bc, after=after, theta0=theta0,
                         denied_bc=denied_bc, excl_terms=excl_terms)


# ------------------------------------------------------------ spellcheck ---

_SPELL_BUCKETS = 64


def build_spell_table(dict_df: DataFrame, spell_dir: str) -> None:
    """Persist a char-bigram -> term inverted map over the dictionary,
    partitioned by a bigram hash bucket, so a spellcheck query
    Levenshteins ONLY the union of its bigram buckets instead of scanning
    the dict [public: Lucene n-gram spellchecker candidate retrieval].
    Layout: <spell_dir>/bgb=NN/ rows (bg, term, df)."""
    bg = (dict_df.select(
            "term", "df",
            F.explode(F.expr(
                "transform(sequence(1, greatest(length(term) - 1, 1)),"
                " i -> substring(term, i, 2))")).alias("bg"))
          .where(F.length("bg") == 2).distinct()
          .withColumn("bgb", (F.crc32(F.encode(F.col("bg"), "UTF-8"))
                              % _SPELL_BUCKETS).cast("int")))
    CATALOG.write_table(bg, spell_dir, partition_by="bgb")
    # freshness watermark (ADVICE r4): Index.spellcheck uses the table
    # only while the dictionary still has this many terms — an append
    # grows n_terms and flips queries back to the always-fresh dict scan
    # until build_spell_index() is re-run
    CATALOG.write_meta(os.path.join(spell_dir, "_spell_meta.json"),
                       {"n_terms": dict_df.count()})


def _spell_rank(cand: DataFrame, word: str, max_dist: int,
                limit: int) -> DataFrame:
    dist = F.levenshtein(F.col("term"), F.lit(word)).cast("int")
    return (cand
            .where(F.abs(F.length("term") - len(word)) <= max_dist)
            .withColumn("dist", dist)
            .where(F.col("dist") <= max_dist)
            .orderBy("dist", F.desc("df"), F.asc("term"))
            .select("term", "dist", "df").limit(limit))


def spellcheck_table(spark: SparkSession, spell_dir: str, word: str,
                     max_dist: int = 2, limit: int = 5) -> DataFrame:
    """Candidates = dictionary terms within +-max_dist length sharing
    >= 1 char bigram with ``word`` (documented deviation from an
    exhaustive scan: a term with NO shared bigram is never proposed —
    the same candidate semantics as Lucene's n-gram spellchecker),
    fetched by a partition-pruned read of the spell table, then ranked
    (edit distance, df desc, term)."""
    bgs = sorted({word[i:i + 2] for i in range(len(word) - 1)})
    if not bgs:
        return spark.createDataFrame([], "term string, dist int, df long")
    buckets = sorted({zlib.crc32(g.encode("utf-8")) % _SPELL_BUCKETS
                      for g in bgs})
    cand = (CATALOG.read_table(spark, spell_dir)
            .where(F.col("bgb").isin(buckets))
            .where(F.col("bg").isin(bgs))
            .select("term", "df").distinct())
    return _spell_rank(cand, word, max_dist, limit)
