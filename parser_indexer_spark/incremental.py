"""Incremental / streaming indexing (SURVEY.md §2.F) — extension tier.

The reference is batch-only (Solr NRT soft-commit is its only incremental
notion [public: Solr NRT]); the engine adds Structured-Streaming-native
incremental indexing: every micro-batch becomes a NEW SEGMENT (exactly the
Lucene NRT model: flush small segments continuously, compact with the merge
job §2.C10), committed atomically by re-finalizing the manifest, so readers
always see a consistent snapshot.

doc_id allocation stays dense and monotone: each batch's ids start at the
committed manifest's max_doc_id + 1, assigned within the batch by the same
deterministic (conv_id, turn_idx) order as the batch build. The manifest is
the only commit record: it holds the doc-id watermark and the streaming
replay guard (``last_batch_id``), and the next segment id is one above its
highest live segment, so nothing a write does before its commit is visible
to, or remembered by, the next write.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from parser_indexer_spark.build import (
    build_index, finalize_index, tokenize_with_fields, write_segment,
)
from parser_indexer_spark.config import EngineConfig
from parser_indexer_spark.docids import assign_doc_ids
from parser_indexer_spark.manifest import CATALOG, IndexPaths, now


def _replayed(man: dict, batch_id: Optional[int]) -> bool:
    """The replay guard: ``batch_id`` is at or below the snapshot's
    ``last_batch_id``, so its batch is already committed."""
    return batch_id is not None and man.get("last_batch_id") is not None \
        and int(batch_id) <= int(man["last_batch_id"])


def append_segment(spark: SparkSession, root: str, batch: DataFrame,
                   cfg: EngineConfig, input_desc: str = "",
                   batch_id: Optional[int] = None) -> dict:
    """Append one batch of transcript rows as a new segment; returns the
    recommitted manifest. With no committed manifest it bootstraps (or
    resumes a crashed bootstrap) through build_index.

    ``batch_id``: streaming batch id (foreachBatch). A replay whose id is
    at or below the manifest's ``last_batch_id`` is a no-op (ADVICE r2).
    The id, the next doc id and the next segment id all come from the
    loaded snapshot and are committed with it, so a replay after a crash
    before the commit rewrites the same ``seg=N`` doc-store partition and
    segment under the same doc ids (dynamic partition overwrite)."""
    p = IndexPaths(root)
    if not CATALOG.meta_exists(p.manifest):
        return build_index(
            spark, batch, root, cfg, segments=1,
            input_desc=input_desc or "bootstrap batch",
            extra_docs_meta=(None if batch_id is None
                             else {"last_batch_id": int(batch_id)}))
    prior = CATALOG.load_snapshot(root)
    if _replayed(prior, batch_id):
        return prior
    t0 = now()
    base = int(prior["max_doc_id"]) + 1
    live = [s["seg"] for s in prior["segments"]]
    seg = max(live) + 1

    ids = assign_doc_ids(batch, partitions=cfg.build_partitions) \
        .withColumn("doc_id", F.col("doc_id") + F.lit(base))
    ids = ids.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        agg = ids.agg(F.count("*"), F.max("doc_id")).first()
        n_new, max_id = int(agg[0]), agg[1]
        if n_new == 0:
            return prior
        # dynamic partition overwrite: the replay of an uncommitted batch
        # rewrites ONLY its seg=N partition — idempotent per segment
        CATALOG.write_table(ids.withColumn("seg", F.lit(seg)), p.docs,
                            partition_by="seg", dynamic=True)
        write_segment(spark, p, seg, cfg,
                      tokenize_with_fields(
                          ids.select("doc_id", "text", *cfg.fields), cfg),
                      (base, int(max_id)), t0)
    finally:
        ids.unpersist()
    meta = {"n_docs": int(prior["stats"]["n_docs"]) + n_new,
            "max_doc_id": int(max_id),
            "last_batch_id": prior.get("last_batch_id")
            if batch_id is None else batch_id}
    return finalize_index(spark, root, cfg, meta, live + [seg],
                          input_desc=input_desc or f"append seg {seg}",
                          t0=t0, deletes=prior.get("deletes"))


def upsert_segment(spark: SparkSession, root: str, batch: DataFrame,
                   cfg: EngineConfig,
                   key_cols: tuple = ("conv_id", "turn_idx"),
                   input_desc: str = "",
                   batch_id: Optional[int] = None) -> dict:
    """Overwrite-by-uniqueKey update [public: Solr's default add semantics
    (overwrite=true on the uniqueKey); Lucene IndexWriter.updateDocument]:
    batch rows whose ``key_cols`` already exist in the doc store REPLACE
    the old versions — the old doc_ids are tombstoned (deletes.py), the
    whole batch is appended as a fresh segment — while unseen keys are
    plain adds. The next merge/compaction purges the replaced rows
    physically, after which scores equal a from-scratch build on the
    logically-updated corpus (same purge contract as delete_docs).

    Replay safety: the ``batch_id`` guard runs BEFORE the tombstone step —
    replaying a fully-committed batch must not tombstone the batch's OWN
    rows (their keys now match the doc store). Keys match only committed
    doc-store rows (doc_id <= the snapshot's ``max_doc_id``), so the rows
    a crashed attempt wrote before its commit are never tombstoned; a
    crash between the tombstone commit and the segment append replays
    idempotently: the matching keys re-match only already-tombstoned ids
    (union = no-op) and the append proceeds.

    The batch must be key-unique: Solr's silent last-wins would be
    nondeterministic under shuffle, so duplicate keys raise instead."""
    p = IndexPaths(root)
    if not CATALOG.meta_exists(p.manifest):
        return append_segment(spark, root, batch, cfg,
                              input_desc=input_desc or "bootstrap batch",
                              batch_id=batch_id)
    prior = CATALOG.load_snapshot(root)
    if _replayed(prior, batch_id):
        return prior
    kc = list(key_cols)
    agg = batch.agg(F.count("*"), F.count_distinct(*kc)).first()
    if int(agg[0]) != int(agg[1]):
        raise ValueError(
            f"upsert batch has duplicate {tuple(kc)} keys "
            f"({int(agg[0])} rows, {int(agg[1])} distinct); deduplicate "
            "the batch first — silent last-wins would be nondeterministic")
    from parser_indexer_spark.build import read_docs
    from parser_indexer_spark.search import FILTER_BROADCAST_LIMIT, Index
    matched = (read_docs(spark, root)
               .where(F.col("doc_id") <= int(prior["max_doc_id"]))
               .join(F.broadcast(batch.select(*kc).distinct()), on=kc,
                     how="left_semi")
               .select("doc_id").limit(FILTER_BROADCAST_LIMIT + 1)
               .toPandas()["doc_id"])
    if len(matched) > FILTER_BROADCAST_LIMIT:
        raise ValueError(
            "upsert replaces more docs than the tombstone bound "
            f"({FILTER_BROADCAST_LIMIT}); upsert in narrower slices with "
            "compactions between")
    if len(matched):
        Index(spark, root).delete_docs(matched.tolist())
    return append_segment(spark, root, batch, cfg,
                          input_desc=input_desc or "upsert batch",
                          batch_id=batch_id)


def upsert_index_query(stream_df: DataFrame, root: str, cfg: EngineConfig,
                       checkpoint: str,
                       key_cols: tuple = ("conv_id", "turn_idx"),
                       trigger_available_now: bool = True):
    """readStream -> foreachBatch(upsert_segment): streaming updates with
    Solr overwrite semantics — a re-emitted (conv_id, turn_idx) replaces
    its earlier version instead of duplicating it. Same replay guard as
    incremental_index_query, applied before the tombstone step."""
    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        upsert_segment(batch.sparkSession, root, batch, cfg,
                       key_cols=key_cols,
                       input_desc=f"stream upsert batch {batch_id}",
                       batch_id=batch_id)

    w = (stream_df.writeStream.foreachBatch(process)
         .option("checkpointLocation", checkpoint))
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def incremental_index_query(stream_df: DataFrame, root: str,
                            cfg: EngineConfig, checkpoint: str,
                            trigger_available_now: bool = True):
    """readStream -> foreachBatch(append_segment). Returns the (started)
    StreamingQuery; late/duplicate batch replay is idempotent at segment
    granularity: a replayed batch overwrites its postings segment dir AND
    its docs seg=N partition (dynamic partition overwrite above)."""
    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        append_segment(batch.sparkSession, root, batch, cfg,
                       input_desc=f"stream batch {batch_id}",
                       batch_id=batch_id)

    w = (stream_df.writeStream.foreachBatch(process)
         .option("checkpointLocation", checkpoint))
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


# ----------------------------- streaming analytics over transcripts --------

def term_volume_windows(stream_df: DataFrame, window: str = "1 hour",
                        watermark: str = "10 minutes",
                        slide: Optional[str] = None) -> DataFrame:
    """Tumbling/sliding per-term volume with late-data watermark."""

    from pyspark.sql.types import ArrayType, StringType
    from parser_indexer_spark.analyze import tokenize_series

    @F.pandas_udf(ArrayType(StringType()))
    def tok(texts: pd.Series) -> pd.Series:
        return tokenize_series(texts)

    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (stream_df.withWatermark("ts", watermark)
            .select(win.alias("win"), F.explode(tok(F.col("text"))).alias("term"))
            .groupBy("win", "term").agg(F.count("*").alias("n")))


def conversation_sessions(stream_df: DataFrame, gap: str = "30 minutes",
                          watermark: str = "10 minutes") -> DataFrame:
    """Sessionization by conv_id with a session window (gap timeout)."""
    return (stream_df.withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap).alias("session"), "conv_id")
            .agg(F.count("*").alias("n_turns"),
                 F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")))


def streaming_dedup(stream_df: DataFrame) -> DataFrame:
    """Cross-batch exact dedup (training-data pipeline, streaming tier):
    stateful first-seen filter keyed by content hash — a duplicate arriving
    in ANY later micro-batch is dropped because the fingerprint state
    persists across batches (applyInPandasWithState). Emits one row per
    first occurrence with a running duplicate count in state."""

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    withfp = stream_df.select(F.md5(F.col("text")).alias("fp"),
                              "conv_id", "turn_idx")

    def fn(key, pdfs, state: GroupState):
        n_new = 0
        first: Optional[pd.DataFrame] = None
        for pdf in pdfs:
            if len(pdf):
                # deterministic representative (ADVICE r2): the minimal
                # (conv_id, turn_idx) across ALL chunks of the batch, not
                # whichever pandas chunk happened to arrive first — replays
                # of the same data emit the same surviving row.
                cand = pdf.sort_values(["conv_id", "turn_idx"]).iloc[:1]
                if first is None or (
                        (cand["conv_id"].iat[0], int(cand["turn_idx"].iat[0]))
                        < (first["conv_id"].iat[0], int(first["turn_idx"].iat[0]))):
                    first = cand
            n_new += len(pdf)
        seen_before = state.exists
        total = (state.get[0] if seen_before else 0) + n_new
        state.update((total,))
        if not seen_before and first is not None:
            yield first[["fp", "conv_id", "turn_idx"]]

    return withfp.groupBy("fp").applyInPandasWithState(
        fn, "fp string, conv_id string, turn_idx int", "n long",
        "update", GroupStateTimeout.NoTimeout)


def running_turn_counts(stream_df: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-conversation turn counter via
    applyInPandasWithState (update mode)."""

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        cnt = state.get[0] if state.exists else 0
        for pdf in pdfs:
            cnt += len(pdf)
        state.update((cnt,))
        yield pd.DataFrame({"conv_id": [key[0]], "n_turns": [cnt]})

    return (stream_df.groupBy("conv_id")
            .applyInPandasWithState(fn, "conv_id string, n_turns long",
                                    "n_turns long", "update",
                                    GroupStateTimeout.NoTimeout))
