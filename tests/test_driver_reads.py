"""Driver-path queries read their posting blocks with Arrow and start no
Spark job.

A query whose scan fits the driver quota reads the scanned buckets'
parquet files of the handle's live segments through CATALOG.read_arrow
and scores them in this process. Contracts under test: such a query
starts no Spark job from call through collect(); the rows it scores are
the Spark scan's rows, payloads byte for byte; a handle keeps answering
from the snapshot it opened while a writer appends; and the empty answer
is a local relation too. The full-match tails (facets, range/pivot/stats
facets, collapse, sort_by) over a driver-scored match set read their
docs columns with Arrow and aggregate in pandas: no Spark job either.
"""

import itertools

import pandas as pd
import pyspark.sql.functions as F
import pytest

from parser_indexer_spark.build import build_index, read_postings, term_bucket
from parser_indexer_spark.config import EngineConfig
from parser_indexer_spark.incremental import append_segment
from parser_indexer_spark.search import _PHRASE_COLS, _TERM_COLS, Index
from parser_indexer_spark.transcripts import synthesize_pandas

_GROUPS = itertools.count()


def _jobs(spark, run):
    """(rows, jobs): ``run()``'s answer collected, and the Spark jobs
    started from the call through the collect (one job group)."""
    sc = spark.sparkContext
    group = f"driver-reads-{next(_GROUPS)}"
    sc.setJobGroup(group, group, False)
    try:
        rows = run().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


# name -> query on a handle: the driver-path shapes of the job-count test
QUERIES = {
    "or": lambda ix: ix.search("spark join", k=10),
    "and": lambda ix: ix.search("hash agg scan", k=10, mode="AND"),
    "must_not": lambda ix: ix.search("spark join scan", k=10,
                                     must=["spark"], must_not=["window"]),
    "query": lambda ix: ix.query("+spark join -scan", k=10),
    "fuzzy": lambda ix: ix.query("spar~1", k=10),
    "phrase": lambda ix: ix.phrase("spark join", k=10),
    "phrase_slop": lambda ix: ix.phrase("filter window", k=10, slop=2),
    "filter": lambda ix: ix.search("spark join", k=10,
                                   doc_filter="role = 'assistant'"),
    "fields": lambda ix: ix.search_fields({"text": "spark join"},
                                          boosts={"text": 2.0}, k=10),
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_driver_path_starts_no_job(spark, engine, name):
    run = lambda: QUERIES[name](engine)   # noqa: E731
    warm, _ = _jobs(spark, run)   # dictionary, filter broadcast, sidecar
    rows, jobs = _jobs(spark, run)
    assert rows and rows == warm
    assert jobs == 0


def test_page2_cursor_starts_no_job(spark, engine):
    page1 = engine.search("spark join", k=10).collect()
    cursor = (page1[-1]["score"], page1[-1]["doc_id"])
    run = lambda: engine.search("spark join", k=10, after=cursor)  # noqa: E731
    warm, _ = _jobs(spark, run)
    rows, jobs = _jobs(spark, run)
    assert rows and rows == warm
    assert jobs == 0


def test_exchange_path_still_runs_jobs(spark, engine, exchange_path):
    rows, jobs = _jobs(spark, lambda: QUERIES["or"](engine))
    assert rows and jobs >= 1
    assert exchange_path and not exchange_path[-1].driver


# name -> full-match tail of query ``q`` on a handle: each reads its docs
# columns with Arrow and aggregates in pandas when the match set was
# scored on the driver
TAILS = {
    "facets": lambda ix, q: ix.search_facets(q, ["role", "tool"]),
    "facet_range": lambda ix, q: ix.search_facet_range(q, "turn_idx",
                                                       0, 40, 5),
    "facet_pivot": lambda ix, q: ix.search_facet_pivot(q, "role", "tool"),
    "facet_stats": lambda ix, q: ix.search_facet_stats(q, "turn_idx"),
    "collapse": lambda ix, q: ix.search_collapse(q, "role", k=10),
    "sort_by": lambda ix, q: ix.search_sort_by(q, "turn_idx", k=10),
}


@pytest.mark.parametrize("q", ["spark join", "zzzunseen"])
@pytest.mark.parametrize("name", sorted(TAILS))
def test_full_match_tail_starts_no_job(spark, engine, name, q):
    run = lambda: TAILS[name](engine, q)   # noqa: E731
    warm, _ = _jobs(spark, run)
    rows, jobs = _jobs(spark, run)
    assert rows == warm and jobs == 0
    # an absent term matches nothing; its stats are still one row
    assert bool(rows) == (q != "zzzunseen" or name == "facet_stats")


def test_full_match_tails_on_exchange_run_jobs(spark, engine, exchange_path):
    for name, tail in TAILS.items():
        rows, jobs = _jobs(spark, lambda: tail(engine, "spark join"))
        assert rows and jobs >= 1, name
    assert len(exchange_path) == len(TAILS)
    assert not any(p.driver for p in exchange_path)


@pytest.mark.parametrize("run", [
    lambda ix: ix.search("spark zzzunseen", k=10, mode="AND"),
    lambda ix: ix.search("spark join", k=10, must=["zzzunseen"]),
    lambda ix: ix.query("-spark", k=10),
    lambda ix: ix.search("spark", k=10, doc_filter="doc_id < 0"),
    lambda ix: ix.phrase("spark zzzunseen", k=10),
], ids=["and_absent", "must_absent", "pure_negative", "empty_filter",
        "phrase_absent"])
def test_empty_answer_starts_no_job(spark, engine, run):
    _jobs(spark, lambda: run(engine))          # warm the filter broadcast
    rows, jobs = _jobs(spark, lambda: run(engine))
    assert rows == [] and jobs == 0


# ------------------------------------------------ Arrow read == Spark scan --

def _sorted_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    return (pdf.sort_values(["term", "chunk", "first_doc_id"])
            .reset_index(drop=True))


def _spark_rows(spark, ix, segs, terms, columns):
    buckets = sorted({term_bucket(t, ix.cfg.n_buckets) for t in terms})
    return (read_postings(spark, ix.root, segs=segs)
            .where(F.col("bucket").isin(buckets))
            .where(F.col("term").isin(list(terms)))
            .select(*columns).toPandas())


def _arrow_rows(ix, segs, terms, columns):
    buckets = sorted({term_bucket(t, ix.cfg.n_buckets) for t in terms})
    return ix._read_blocks(segs, buckets, terms, columns)


def _assert_same_rows(got: pd.DataFrame, want: pd.DataFrame, columns):
    got, want = _sorted_rows(got), _sorted_rows(want)
    assert list(got.columns) == list(columns) == list(want.columns)
    assert len(got) == len(want) > 0
    for c in columns:
        if c.endswith("_enc"):      # binary payloads, byte for byte
            assert [bytes(v) for v in got[c]] == [bytes(v) for v in want[c]]
        else:
            assert got[c].tolist() == want[c].tolist(), c


def _salted_head_term(engine):
    dfs = engine.term_stats(["spark", "join", "scan", "hash"])
    head = max(dfs, key=dfs.get)
    assert dfs[head] > engine.cfg.salt_df_threshold
    return head


def test_arrow_read_equals_spark_scan(spark, engine):
    segs = [s["seg"] for s in engine.manifest["segments"]]
    assert len(segs) == 2
    head = _salted_head_term(engine)
    assert engine.term_stats(["w1999"])["w1999"] > 0
    for terms, cols in ([["w1999"], _TERM_COLS],        # tail term
                        [[head], _TERM_COLS],           # salted head term
                        [["join", "spark"], _PHRASE_COLS]):
        _assert_same_rows(_arrow_rows(engine, segs, terms, cols),
                          _spark_rows(spark, engine, segs, terms, cols),
                          cols)


def test_arrow_read_prunes_segments_like_spark(spark, engine):
    seg0 = engine.manifest["segments"][0]
    allowed_bc, _ = engine._resolve_filter(f"doc_id <= {seg0['doc_hi']}")
    segs = engine._segs_for_filter(allowed_bc)
    assert segs == [seg0["seg"]]
    terms = ["join", "spark"]
    _assert_same_rows(_arrow_rows(engine, segs, terms, _TERM_COLS),
                      _spark_rows(spark, engine, segs, terms, _TERM_COLS),
                      _TERM_COLS)


# ------------------------------------------------- snapshot-bound handles --

def test_handle_stays_on_its_snapshot(spark, tmp_path):
    cfg = EngineConfig(n_buckets=4, build_partitions=4,
                       salt_df_threshold=300, n_salts=2, chunk_bits=8)
    corpus = synthesize_pandas(400)
    root = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(corpus.iloc[:200]), root, cfg,
                segments=1)
    old = Index(spark, root)
    queries = [lambda ix: ix.search("spark join", k=20),
               lambda ix: ix.phrase("spark join", k=20)]
    # driver-path full-match tails: their docs listing is the handle's
    tails = [lambda ix: ix.search_facets("spark join", ["role", "doc_id"]),
             lambda ix: ix.search_sort_by("spark join", "turn_idx", k=20)]

    def answers(ix):
        return [q(ix).collect() for q in queries] \
            + [sorted(t(ix).collect()) for t in tails]

    before = answers(old)
    assert all(before)
    append_segment(spark, root, spark.createDataFrame(corpus.iloc[200:]),
                   cfg)
    # the old handle reads its own snapshot's segments only
    assert answers(old) == before
    new = Index(spark, root)
    assert len(new.manifest["segments"]) == 2
    first_new = old.manifest["max_doc_id"] + 1
    for q in queries:
        rows = q(new).collect()
        assert any(r["doc_id"] >= first_new for r in rows)
    facets = tails[0](new).collect()
    assert any(int(r["value"]) >= first_new for r in facets
               if r["field"] == "doc_id")
