"""Small-scan scoring on the driver.

A query whose scanned postings (Σ df over every scanned term) fit one
scoring task's quota is scored at call time on the driver: an Arrow
read of the pruned blocks' parquet files, the query's own chunk scorer,
a local relation back. Contract under test: that path returns the SAME rows with
bit-equal scores as the distributed path (chunk exchange -> mapInPandas
scorer), which the ``exchange_path`` fixture forces with FORCED scoring
tasks, and the executed plans show which path ran.
"""

import shutil

import pytest

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


def test_full_match_driver_equals_exchange(engine, request):
    """The full-match methods on both paths, the exchange at the
    planner's own task count."""
    def export():
        return engine.export_matches("spark join", must_not=["scan"])

    def facets():
        return engine.search_facets("spark join", ["role", "tool"])

    default_export, default_facets = export(), facets()
    asked = request.getfixturevalue("exchange_path")
    forced_export, forced_facets = export(), facets()
    assert len(asked) == 2 and not any(p.prune for p in asked)

    got = sorted(_rows(default_export))
    assert got == sorted(_rows(forced_export)) and len(got) > 20
    _assert_paths(default_export, forced_export)
    got = sorted(tuple(r) for r in default_facets.collect())
    assert got == sorted(tuple(r) for r in forced_facets.collect()) and got
    _assert_paths(default_facets, forced_facets, exchange=False)


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
