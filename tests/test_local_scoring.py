"""Small-scan scoring on the driver.

A query whose scanned postings (Σ df over every scanned term) fit one
scoring task's quota is scored at call time on the driver: an Arrow
read of the pruned blocks' parquet files, the query's own chunk scorer,
a local relation back. Contract under test: that path returns the SAME rows with
bit-equal scores as the distributed path (chunk exchange -> mapInPandas
scorer), which the ``exchange_path`` fixture forces with FORCED scoring
tasks, and the executed plans show which path ran. The full-match tails
(facets, range/pivot/stats facets, collapse, sort_by) of a driver-scored
match set aggregate in pandas: their rows and schemas must equal the
Spark tails' over the exchange.
"""

import contextlib
import shutil
from typing import NamedTuple

import numpy as np
import pandas as pd
import pytest

from parser_indexer_spark.incremental import append_segment
from parser_indexer_spark.manifest import load_config
from parser_indexer_spark.search import Index

FORCED = 4   # scoring tasks of the forced distributed path

# (method, args, kwargs): every top-k shape the scorer serves
TOPK_CASES = [
    ("search", ("spark join",), {}),
    ("search", ("hash agg scan",), {"mode": "AND"}),
    ("search", ("spark join scan",), {"must": ["spark"]}),
    ("search", ("spark join",), {"must_not": ["scan"]}),
    ("phrase", ("spark join",), {}),
    ("phrase", ("filter window",), {"slop": 2}),
    ("search", ("spark join",), {"doc_filter": "role = 'assistant'"}),
    ("query", ("+spark join -scan",), {}),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df):
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def _assert_paths(default, forced, exchange=True):
    """``default`` ran on the driver, ``forced`` through the scorer stage
    (``exchange``: the default plan must hold no Exchange either — false
    for answers that aggregate after matching)."""
    p_def, p_forced = _plan(default), _plan(forced)
    assert "MapInPandas" not in p_def and "LocalTableScan" in p_def
    assert "MapInPandas" in p_forced and "Exchange" in p_forced
    if exchange:
        assert "Exchange" not in p_def


def _exchange(request):
    """Turn the exchange_path fixture on with FORCED scoring tasks."""
    log = request.getfixturevalue("exchange_path")
    log.set(tasks=FORCED)
    return log


@pytest.mark.parametrize("method,args,kw", TOPK_CASES)
def test_driver_path_equals_exchange_path(engine, request, method, args, kw):
    run = getattr(engine, method)
    default = run(*args, k=20, **kw)
    log = _exchange(request)
    forced = run(*args, k=20, **kw)
    got, want = _rows(default), _rows(forced)
    assert got == want and got        # same docs, bit-equal scores
    _assert_paths(default, forced)
    assert [p.tasks for p in log] == [FORCED]


def test_after_cursor_driver_equals_exchange(engine, request):
    page1 = _rows(engine.search("spark join", k=10))
    s, d = page1[-1][1], page1[-1][0]
    default = engine.search("spark join", k=10, after=(s, d))
    _exchange(request)
    forced = engine.search("spark join", k=10, after=(s, d))
    got = _rows(default)
    assert got == _rows(forced) and got
    assert not set(x[0] for x in got) & set(x[0] for x in page1)
    _assert_paths(default, forced)


class Case(NamedTuple):
    """A full-match call: an ``ordered`` answer is compared row for row,
    the others as sorted rows; an ``exchange``-free answer's driver plan
    holds no Exchange (one that aggregates after matching may); the
    answer holds at least ``least`` rows."""
    method: str
    args: tuple
    kw: dict = {}
    ordered: bool = False
    exchange: bool = False
    least: int = 1


# every full-match method. The facet fields cover an int (turn_idx), a
# long (doc_id), strings (conv_id, the nullable tool) and a timestamp
# (ts), whose values are Spark's cast(x as string) on both paths
FULL_MATCH_CASES = [
    Case("export_matches", ("spark join",), {"must_not": ["scan"]},
         exchange=True, least=21),
    Case("search_facets", ("spark join", ["role", "tool"])),
    Case("search_facets", ("spark join", ["turn_idx", "doc_id", "conv_id",
                                          "ts"])),
    Case("search_facet_range", ("spark join", "turn_idx", 0, 40, 5)),
    Case("search_facet_pivot", ("spark join", "role", "tool")),
    Case("search_facet_stats", ("hash agg", "turn_idx")),
    Case("search_facet_stats", ("zzzunseen", "turn_idx")),
    Case("search_collapse", ("spark join", "role"), {"k": 10}, True),
    Case("search_collapse", ("spark join", "tool"), {"k": 10}, True),
    Case("search_sort_by", ("spark join", "turn_idx"), {"k": 10}, True),
    Case("search_sort_by", ("spark join", "tool"),
         {"k": 10 ** 6, "ascending": False}, True),
    Case("search_sort_by", ("spark join", "doc_id"), {"k": 10}, True),
]


def _collected(df, ordered):
    rows = [tuple(r) for r in df.collect()]
    return rows if ordered else sorted(rows, key=repr)


def test_full_match_driver_equals_exchange(engine, request):
    """Every full-match method on both paths, the exchange at the
    planner's own task count: the same rows and the same schema. The
    driver's answer is one LocalTableScan (its docs columns read with
    Arrow), and an absent term is answered before any plan."""
    def run_all():
        return [getattr(engine, c.method)(*c.args, **c.kw)
                for c in FULL_MATCH_CASES]

    defaults = run_all()
    asked = request.getfixturevalue("exchange_path")
    for case, default, forced in zip(FULL_MATCH_CASES, defaults, run_all()):
        got = _collected(default, case.ordered)
        assert got == _collected(forced, case.ordered), case
        assert len(got) >= case.least, case
        assert default.schema == forced.schema, case
        if case.args[0] != "zzzunseen":
            _assert_paths(default, forced, exchange=case.exchange)
            assert "Scan parquet" not in _plan(default), case
    planned = [c for c in FULL_MATCH_CASES if c.args[0] != "zzzunseen"]
    assert len(asked) == len(planned) and not any(p.prune for p in asked)


@contextlib.contextmanager
def _time_zone(spark, zone):
    conf = "spark.sql.session.timeZone"
    before = spark.conf.get(conf)
    spark.conf.set(conf, zone)
    try:
        yield
    finally:
        spark.conf.set(conf, before)


def test_timestamp_facets_follow_session_time_zone(spark, engine, request):
    """Spark prints a timestamp in the session time zone; so does the
    driver tail."""
    with _time_zone(spark, "America/Los_Angeles"):
        default = engine.search_facets("spark join", ["ts"])
        request.getfixturevalue("exchange_path")
        forced = engine.search_facets("spark join", ["ts"])
        got = _collected(default, False)
        assert got == _collected(forced, False)
        assert got[0][1].startswith("2023-12-31 16:")


# UTC instants at both ends of Spark's timestamp range (years 0001-9999),
# before Los Angeles kept standard time (local mean time, -7:52:58), and
# with fractions of a second
_EDGE_TS = ["0001-01-01 00:00:00", "1000-06-15 12:00:00.5",
            "1883-11-18 12:00:00", "1970-01-01 00:00:00.000001",
            "2024-01-01 00:00:01", "9999-12-31 23:59:59.999999"]
# Asia/Tokyo prints the last instant in year 10000; GMT+8 and -05:30 are
# fixed offsets
_ZONES = ["UTC", "America/Los_Angeles", "Asia/Tokyo", "GMT+8", "-05:30"]


@pytest.mark.parametrize("zone", _ZONES)
def test_timestamp_strings_equal_spark_cast(spark, engine, zone):
    """Timestamps print as Spark's cast(ts as string) prints them in the
    session time zone, for every year Spark stores; the fraction of a
    second is trimmed of trailing zeros, and left out when zero."""
    ts = pd.Series(np.array([t.replace(" ", "T") for t in _EDGE_TS],
                            "datetime64[us]")).dt.tz_localize("UTC")
    with _time_zone(spark, zone):
        want = [r[0] for r in spark.createDataFrame(
            pd.DataFrame({"ts": ts}), "ts timestamp")
            .selectExpr("cast(ts as string)").collect()]
        assert list(engine._strings(ts, "ts")) == want


def test_edge_timestamps_driver_equals_exchange(spark, index_dir, tmp_path,
                                                request):
    """Doc-store timestamps from all of Spark's range, which Spark writes
    as INT96: the driver reads them with Arrow, and its tails facet,
    pivot, sort and collapse them as the Spark tails do, in the session
    time zone."""
    root = str(tmp_path / "idx")
    shutil.copytree(index_dir, root)
    rows = ", ".join(f"('edge', {i}, 'user', 'spark join', timestamp'{t}')"
                     for i, t in enumerate(_EDGE_TS))
    append_segment(spark, root, spark.sql(
        f"select conv_id, turn_idx, role, text, cast(null as string) tool,"
        f" ts from values {rows} as t(conv_id, turn_idx, role, text, ts)"),
        load_config(root))
    ix = Index(spark, root)
    printed = [lambda: ix.search_facets("spark join", ["ts"]),
               lambda: ix.search_facet_pivot("spark join", "ts", "role")]
    ordered = [lambda: ix.search_sort_by("spark join", "ts", k=8),
               lambda: ix.search_sort_by("spark join", "ts", k=8,
                                         ascending=False),
               lambda: ix.search_collapse("spark join", "ts", k=10 ** 6)]
    zones = _ZONES[:3]

    def run_all():
        out = []
        for zone in zones:
            with _time_zone(spark, zone):
                out += [(df, _collected(df, False))
                        for df in (run() for run in printed)]
        # compared as UTC strings: collect() turns a timestamp into a
        # datetime in the machine's own time zone, which may leave year 1
        return out + [(df, _collected(df.selectExpr(
            "doc_id", "score", "cast(ts as string) ts"), True))
            for df in (run() for run in ordered)]

    defaults = run_all()
    request.getfixturevalue("exchange_path")
    for (default, got), (forced, want) in zip(defaults, run_all()):
        assert got == want and got
        _assert_paths(default, forced, exchange=False)
    utc, tokyo = ({v for _, v, _ in defaults[i][1]} for i in (0, 4))
    assert set(_EDGE_TS) <= utc
    assert "+10000-01-01 08:59:59.999999" in tokyo
    assert defaults[-3][1][0][2] == _EDGE_TS[0]
    assert defaults[-2][1][0][2] == _EDGE_TS[-1]
    ix.close()


def test_full_match_null_semantics(engine):
    """Nulls in the pandas tails: a null collapse value is one group,
    nulls sort last in a descending sort, and the stats of an absent
    term are the one all-null row."""
    groups = [r["tool"] for r in
              engine.search_collapse("spark join", "tool", k=100).collect()]
    assert None in groups and len(groups) == len(set(groups)) > 1
    tools = [r["tool"] for r in engine.search_sort_by(
        "spark join", "tool", k=10 ** 6, ascending=False).collect()]
    first_null = tools.index(None)
    assert first_null > 0 and set(tools[first_null:]) == {None}
    assert [tuple(r) for r in engine.search_facet_stats(
        "zzzunseen", "turn_idx").collect()] == [(0, None, None, None, None)]


def test_tombstoned_handle_driver_equals_exchange(spark, index_dir,
                                                  tmp_path, request):
    root = str(tmp_path / "idx")
    shutil.copytree(index_dir, root)
    ix = Index(spark, root)
    top = [d for d, _ in _rows(ix.search("spark join", k=3))]
    dead = set(top) | {5, 50, 500}
    ix.delete_docs(sorted(dead))

    def run_all():
        return [getattr(ix, method)(*args, k=20, **kw)
                for method, args, kw in TOPK_CASES[:5]]

    defaults = run_all()
    _exchange(request)
    for default, forced in zip(defaults, run_all()):
        got = _rows(default)
        assert got == _rows(forced) and got
        assert not {d for d, _ in got} & dead
        _assert_paths(default, forced)
    ix.close()


def test_tombstoned_full_match_driver_equals_exchange(spark, index_dir,
                                                      tmp_path, request):
    """Facets and collapse on a handle with tombstones: both paths give
    the same rows, and no dead doc is counted or returned."""
    root = str(tmp_path / "idx")
    shutil.copytree(index_dir, root)
    ix = Index(spark, root)
    top = [d for d, _ in _rows(ix.search("spark join", k=3))]
    dead = set(top) | {5, 50, 500}
    ix.delete_docs(sorted(dead))

    def run_all():
        return [ix.search_facets("spark join", ["role", "doc_id"]),
                ix.search_collapse("spark join", "role", k=10)]

    facets, collapse = [_collected(df, False) for df in run_all()]
    _exchange(request)
    assert [_collected(df, False) for df in run_all()] == [
        facets, sorted(collapse, key=repr)]
    ids = {int(v) for f, v, _ in facets if f == "doc_id"}
    assert ids and not ids & dead
    assert sum(n for f, _, n in facets if f == "role") == len(ids)
    assert collapse and not {r[0] for r in collapse} & dead
    ix.close()
