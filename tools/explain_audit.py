"""Physical-plan audit (SURVEY.md §4) — regenerates PLANS.md.

Verifies, with `.explain("formatted")` output, that the layout delivers what
§4 promises: bucket PartitionFilters + term PushedFilters on the query path,
column pruning on the build scan, broadcast joins where hinted, and
whole-stage codegen everywhere outside the three Arrow stages.

Run: python tools/explain_audit.py  (needs a built t_tiny-style index; it
builds a small one under /tmp if absent).
"""

import contextlib
import io
import os
import sys
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parser_indexer_spark.session import get_spark  # noqa: E402


def cap_explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    import shutil

    import pyspark.sql.functions as F

    from parser_indexer_spark import relops
    from parser_indexer_spark.build import build_index, read_postings
    from parser_indexer_spark.config import EngineConfig
    from parser_indexer_spark.search import Index
    from parser_indexer_spark.transcripts import synthesize_pandas

    spark = get_spark(app="explain", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    idx = "/tmp/explain_audit_index_r4"   # r4: impact sidecars included
    if not os.path.exists(f"{idx}/_manifest.json"):
        shutil.rmtree(idx, ignore_errors=True)
        df = spark.createDataFrame(synthesize_pandas(2000))
        build_index(spark, df, idx,
                    EngineConfig(n_buckets=8, build_partitions=8,
                                 salt_df_threshold=500, chunk_bits=9,
                                 impact_df_threshold=200),
                    segments=2)

    ix = Index(spark, idx)
    sections = []
    planner = Index._plan

    def exchange(**fields):
        """Index._plan patched to score through the chunk exchange — the
        path of a scan above the driver quota — with ``fields`` replaced
        too; this small index would otherwise be scored on the driver
        (section 14)."""
        return mock.patch.object(
            Index, "_plan", lambda self, *a, **kw: planner(
                self, *a, **kw)._replace(driver=False, **fields))

    # 1. query-path postings scan: bucket partition pruning + term pushdown
    from parser_indexer_spark.build import term_bucket
    terms = ["spark", "join"]
    buckets = sorted({term_bucket(t, ix.cfg.n_buckets) for t in terms})
    scan = (read_postings(spark, idx)
            .where(F.col("bucket").isin(buckets))
            .where(F.col("term").isin(terms))
            .select("term", "chunk", "first_doc_id", "num_docs",
                    "max_tf", "min_dl", "docs_enc", "tfs_enc", "dls_enc"))
    sections.append(("Query-path postings scan (D2): expect PartitionFilters "
                     "on bucket + PushedFilters on term + pruned ReadSchema",
                     cap_explain(scan)))

    # 2. full search plan (one chunk shuffle + Arrow scorer + TakeOrdered)
    with exchange(tasks=4):
        full = ix.search("spark join", k=10, mode="AND")
    sections.append(("Full top-k search plan (D3-D8), distributed path "
                     "(exchange planned, 4 tasks)", cap_explain(full)))

    # 3. build scan column pruning: only (doc_id, text) read from docs
    from parser_indexer_spark.analyze import TOKENIZE_TF_SCHEMA, tokenize_tf_batches
    docs_scan = (spark.read.parquet(f"{idx}/docs")
                 .where(F.col("seg") == 0).select("doc_id", "text")
                 .mapInPandas(tokenize_tf_batches, TOKENIZE_TF_SCHEMA))
    sections.append(("Build tokenize scan (C1-C2): expect ReadSchema = "
                     "doc_id,text only + seg PartitionFilters",
                     cap_explain(docs_scan)))

    # 4. broadcast join on the relational path
    sections.append(("join_broadcast (E): expect BroadcastHashJoin",
                     cap_explain(relops.join_broadcast(spark, "/root/testdata/sf0.001"))))
    sections.append(("join_sortmerge (E): expect SortMergeJoin despite small side",
                     cap_explain(relops.join_sortmerge(spark, "/root/testdata/sf0.001"))))
    sections.append(("project_filter (E): expect PushedFilters on lang/n_chars",
                     cap_explain(relops.project_filter(spark, "/root/testdata/sf0.001"))))

    # 5. filtered search: broadcast-into-scorer path must NOT semi-join
    with exchange(tasks=4):
        filtered = ix.search("spark join", k=10,
                             doc_filter="role = 'assistant'")
    sections.append(("Filtered top-k search (D9): allowed set broadcast into "
                     "the scorer — expect NO LeftSemi join, same "
                     "TakeOrderedAndProject shape as the unfiltered plan "
                     "(exchange planned, 4 tasks)",
                     cap_explain(filtered)))

    # 6. LSH near-dup: candidates via equi-joins only — never a cartesian
    ndp = relops.dedup_near_pairs(spark, "/root/testdata/sf0.001")
    sections.append(("dedup_near_pairs (LSH): expect hash/sort-merge "
                     "equi-joins on band+bh and doc ids; NO "
                     "CartesianProduct / BroadcastNestedLoopJoin",
                     cap_explain(ndp)))

    # 7. phrase query: same one-shuffle chunk plan, pos_enc in ReadSchema
    with exchange(tasks=4):
        phrase = ix.phrase("spark join", k=10)
    sections.append(("Phrase top-k plan (D15): same pruned scan + single "
                     "chunk exchange as search(); ReadSchema additionally "
                     "carries pos_enc (positional payload) "
                     "(exchange planned, 4 tasks)",
                     cap_explain(phrase)))

    # 8. r4: multi-table ANN — ONE embeddings scan with an OR predicate
    # (the r3 16-way union was the heaviest bench query; VERDICT r3 #5)
    sections.append(("ann_cosine_lsh_multi (r4): expect exactly ONE "
                     "embeddings parquet scan (OR-of-band-equalities "
                     "predicate), no Union of 16 scans, no distinct "
                     "shuffle before the re-rank",
                     cap_explain(relops.ann_cosine_lsh_multi(
                         spark, "/root/testdata/sf0.001"))))

    # 9. r4: materialized ANN index — partition-pruned bucket read
    from parser_indexer_spark import ann as annmod
    ann_dir = "/tmp/explain_audit_ann"
    if not os.path.exists(f"{ann_dir}/_ann_meta.json"):
        shutil.rmtree(ann_dir, ignore_errors=True)
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        annmod.build_ann_index(spark, emb, ann_dir)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sections.append(("ann_index_lookup (r4): expect PartitionFilters on "
                     "(t, b) of the materialized bucket table + broadcast "
                     "semi-join of the candidate ids into embeddings",
                     cap_explain(annmod.ann_query(spark, emb, ann_dir))))

    # 10. r4: impact-sidecar read — bucket partition pruning + term pushdown
    if ix._impacts_df is not None:
        imp_scan = (ix._impacts_df
                    .where(F.col("bucket").isin(buckets))
                    .where(F.col("term").isin(terms)))
        sections.append(("Impact sidecar read (D17): expect PartitionFilters "
                         "on bucket + PushedFilters on term",
                         cap_explain(imp_scan)))

    # 11. r5: facet over search results — full-match scorer feeding a
    # left-semi join into the doc store and ONE aggregate; nothing sorts.
    # The exchange keeps the planner's task count, as for a scan above one
    # scoring task's share
    with exchange():
        facets = cap_explain(ix.search_facets("spark join",
                                              ["role", "tool"]))
    sections.append(("search_facets (D23, r5): expect the mapInPandas "
                     "scorer -> left-semi join into the docs scan -> one "
                     "partial+final HashAggregate; NO TakeOrderedAndProject,"
                     " NO global Sort (the full-match-set path; exchange "
                     "planned, as for a scan above one scoring task's "
                     "share)", facets))

    # 12. r6: language ID as ONE Arrow/numpy kernel pass — no Generate,
    # no join, no aggregate (the r5 explode+join plan became a single
    # MapInPandas; scores bit-identical, tests/test_r06_optim.py)
    sections.append(("lang_trigram (r6 kernel): expect Scan -> (optional "
                     "RoundRobin Exchange) -> ONE MapInPandas — no "
                     "Generate, no join, no aggregate",
                     cap_explain(relops.lang_trigram(
                         spark, "/root/testdata/sf0.001"))))

    # 13. r6: minhash signatures — same single-kernel shape (was explode
    # + groupBy with 4 md5 aggregates)
    sections.append(("minhash_signature (r6 kernel): expect Scan -> "
                     "RoundRobin Exchange -> ONE MapInPandas — no "
                     "Generate, no HashAggregate",
                     cap_explain(relops.minhash_signature(
                         spark, "/root/testdata/sf0.001"))))

    # 14. small scan scored on the driver: the same query as section 2
    # as planned reads far fewer postings than one scoring task's quota,
    # so its blocks were read with Arrow and scored at call time, and it
    # returned a local relation
    driver = cap_explain(ix.search("spark join", k=10, mode="AND"))
    sections.append(("Small-scan top-k on the driver: expect ONE "
                     "LocalTableScan — no Exchange, no MapInPandas, no "
                     "Scan parquet (the pruned blocks were read with Arrow "
                     "and scored in the driver)",
                     driver))

    # 15. full-match tail on the driver: the section 11 facets as planned
    # — the match set is scored in the driver, its facet columns read
    # from the doc-store files with Arrow and counted in pandas
    driver_facets = cap_explain(ix.search_facets("spark join",
                                                 ["role", "tool"]))
    sections.append(("search_facets on the driver: expect ONE "
                     "LocalTableScan — no Scan parquet, no Exchange, no "
                     "HashAggregate, no MapInPandas (the match set was "
                     "scored in the driver, its docs columns read with "
                     "Arrow and counted in pandas)", driver_facets))

    out = ["# PLANS — physical-plan audit (generated by tools/explain_audit.py)",
           "", "Checks SURVEY.md §4's free-vs-custom claims against the real "
           "Catalyst output. Regenerate after plan-affecting changes.", ""]
    for title, body in sections:
        out += [f"## {title}", "", "```", body.rstrip(), "```", ""]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")

    # quick grep-style assertions so CI can catch regressions
    text = "\n".join(s[1] for s in sections)
    assert "PartitionFilters" in text
    assert "PushedFilters" in text
    assert "BroadcastHashJoin" in sections[3][1]
    assert "SortMergeJoin" in sections[4][1]
    assert "LeftSemi" not in sections[6][1]
    assert "CartesianProduct" not in sections[7][1]
    assert "BroadcastNestedLoopJoin" not in sections[7][1]
    # r4: the multi-table ANN plan must contain exactly ONE embeddings
    # scan — explain("formatted") prints each physical scan twice (tree
    # node + detail section), so one scan == two string occurrences
    assert sections[9][1].count("Scan parquet") == 2, \
        "ann_cosine_lsh_multi should scan embeddings exactly once"
    assert "Union" not in sections[9][1]
    assert "MapInPandas" in sections[1][1] and "Exchange" in sections[1][1]
    assert "MapInPandas" in facets and "LeftSemi" in facets
    assert "LocalTableScan" in driver
    assert "MapInPandas" not in driver and "Exchange" not in driver
    assert "Scan parquet" not in driver
    assert "HashAggregate" in facets
    assert "LocalTableScan" in driver_facets
    for node in ("Scan parquet", "Exchange", "HashAggregate", "MapInPandas"):
        assert node not in driver_facets, node
    print("plan assertions OK")


if __name__ == "__main__":
    main()
