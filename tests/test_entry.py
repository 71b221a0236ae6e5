"""Driver-harness emulation — SURVEY.md §3.3/§5.9: every queries() entry vs
its oracle_sql() DuckDB result on the same parquet tables (sf0.001 in CI for
speed; the driver runs sf0.01). Comparison mirrors the driver: row count +
column names + order-insensitive exact values."""

import math
import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype(str)
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), na_position="last") \
             .reset_index(drop=True)


def _values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


def _all_queries():
    """Driver-facing queries() PLUS the extra_queries() overflow — pytest
    oracle-checks the full set even though the driver report caps at 50."""
    d = dict(entrymod.queries())
    d.update(entrymod.extra_queries())
    return d


def test_driver_report_cap():
    """The driver records only the first 50 queries() entries (r3 evidence:
    CORRECTNESS_r03.json held exactly 50 of 52); stay at or under the cap
    so no operator family is silently unaudited."""
    assert len(entrymod.queries()) <= 50


@pytest.mark.parametrize("name", sorted(_all_queries().keys()))
def test_query_vs_oracle(spark, sf_dir, ddb, name):
    _check_vs_oracle(spark, sf_dir, ddb, name)


# the entries that score over the inverted index (through _documents_index;
# the dictionary and spelling entries and an AND with an absent term never
# reach the scorer)
_NO_SCORER = {"spellcheck", "term_dict_stats", "term_suggest",
              "topk_bm25_and_absent"}
_INDEX_QUERIES = sorted(n for n, fn in _all_queries().items()
                        if "_documents_index" in fn.__code__.co_names
                        and n not in _NO_SCORER)


@pytest.mark.parametrize("name", _INDEX_QUERIES)
def test_index_query_vs_oracle_exchange_path(spark, sf_dir, ddb, name,
                                             exchange_path):
    """The index entries again with the driver path's size gate off, so
    the distributed scorer (the path every scan above one scoring task's
    quota takes) keeps the same oracle check as the default path."""
    _check_vs_oracle(spark, sf_dir, ddb, name)
    assert exchange_path, f"{name} never reached the scorer"


def _check_vs_oracle(spark, sf_dir, ddb, name):
    """Row count + column names + order-insensitive exact values of the
    entry ``name`` against its DuckDB oracle SQL."""
    fn = _all_queries()[name]
    sql = entrymod.oracle_sql().get(name)
    assert sql is not None, f"{name} has no oracle SQL"
    got = _normalize(fn(spark, sf_dir).toPandas())
    exp = _normalize(ddb.execute(sql).fetchdf())
    assert list(got.columns) == list(exp.columns), \
        f"{name}: cols {list(got.columns)} vs {list(exp.columns)}"
    assert len(got) == len(exp), f"{name}: rows {len(got)} vs {len(exp)}"
    mism = []
    for i in range(len(got)):
        for c in got.columns:
            a, b = got.iloc[i][c], exp.iloc[i][c]
            if not _values_equal(a, b):
                mism.append((i, c, a, b))
                if len(mism) > 4:
                    break
        if len(mism) > 4:
            break
    assert not mism, f"{name}: first mismatches {mism}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"doc_id", "score"}


# operator-family coverage map (VERDICT r4 #10): every SURVEY §2 family
# with a SQL-expressible representative must keep at least one entry in
# the DRIVER-FACING queries() (not just extra_queries()) — a future
# overflow shuffle must never silently orphan a family from the report.
_FAMILY_REPRESENTATIVES = {
    "scan-project-filter": ["project_filter"],
    "joins": ["join_broadcast", "join_sortmerge", "join_semi", "join_anti",
              "asof_join"],
    "aggregation": ["agg_stats", "agg_distinct", "cube_lang_source",
                    "facet_count", "facet_percentile"],
    "window": ["window_rank", "window_lag_frame"],
    "sort-topk-paging": ["topk_orders", "topk_orders_page2",
                         "sort_by_search"],
    "setops": ["setop_union"],
    "string-date-json-array": ["str_tokens", "date_trunc_agg",
                               "json_extract", "array_explode_tf"],
    # boosted_search (D25 function-score) is a relevance-family variant:
    # driver-facing cover comes from topk_bm25; the boost path itself is
    # pytest-oracle-checked via extra_queries
    "fulltext-bm25": ["topk_bm25", "topk_bm25_and", "topk_bm25_stop",
                      "boosted_search"],
    "fulltext-boolean": ["topk_bm25_not", "topk_prefix"],
    "phrase": ["topk_phrase", "topk_phrase_slop"],
    "fielded": ["topk_bm25_fielded"],
    "facet-on-search": ["facet_search", "facet_range_search",
                        "facet_stats_search", "facet_pivot_search"],
    "export-full-match": ["export_search"],
    # D12 result grouping: relational rep (driver-facing) + the r5
    # search-path collapse variant
    "result-grouping-collapse": ["window_rank", "collapse_search"],
    "dict-suggest-spell": ["term_dict_stats", "term_suggest", "spellcheck",
                           "more_like_this"],
    "dedup": ["dedup_exact", "dedup_near_pairs", "minhash_signature",
              "simhash8", "simhash64", "dedup_embedding_pairs"],
    "ann": ["ann_cosine", "ann_cosine_lsh", "ann_cosine_lsh_multi",
            "ann_index_lookup"],
    "text-analysis": ["lang_trigram", "quality_score", "token_stats",
                      "token_count_bpe", "fingerprint_rolling"],
    "multimodal": ["media_features"],
    "grouped-udf": ["zscore_grouped", "median_udaf"],
}


def test_every_family_has_a_driver_facing_representative():
    q = set(entrymod.queries())
    orphaned = {fam: reps for fam, reps in _FAMILY_REPRESENTATIVES.items()
                if not (set(reps) & q)}
    assert not orphaned, f"families without a queries() entry: {orphaned}"
    # and the map itself must stay honest: every listed name exists
    allq = set(_all_queries())
    ghost = [n for reps in _FAMILY_REPRESENTATIVES.values()
             for n in reps if n not in allq]
    assert not ghost, f"family map lists unknown queries: {ghost}"
