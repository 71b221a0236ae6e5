"""spark-submit entry point (north rule: `run via spark-submit --py-files`).

Usage (cluster):
    zip -r engine.zip parser_indexer_spark
    spark-submit --py-files engine.zip -m parser_indexer_spark.cli build \
        --input <parquet-or-table> --out <index-dir> [--segments N] ...
    spark-submit --py-files engine.zip -m parser_indexer_spark.cli search \
        --index <index-dir> --query "spark join" [--k 10] [--mode OR]
    spark-submit --py-files engine.zip -m parser_indexer_spark.cli query \
        --index <index-dir> --qs '+spark join -scan "sort merge"~2 /s[pc]an/'
    spark-submit --py-files engine.zip -m parser_indexer_spark.cli delete \
        --index <index-dir> --ids 3,17,42        # or --where "role='tool'"
    spark-submit --py-files engine.zip -m parser_indexer_spark.cli upsert \
        --index <index-dir> --input <batch.parquet> [--key-cols conv_id,turn_idx]
    spark-submit --py-files engine.zip -m parser_indexer_spark.cli export \
        --index <index-dir> --query "spark join" --out <parquet> [--columns role]
    spark-submit --py-files engine.zip -m parser_indexer_spark.cli merge \
        --src <index-dir> --dst <index-dir>

Locally the same module runs with plain `python -m parser_indexer_spark.cli`
(the session helper creates a local[N] master when none is configured).
Called in a process that already has an active Spark session
(``main([...])``), it runs on that session and leaves it running.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import sys
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="parser_indexer_spark")
    ap.add_argument("--master", default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build an inverted index")
    b.add_argument("--input", required=True, help="parquet path of transcripts")
    b.add_argument("--out", required=True)
    b.add_argument("--segments", type=int, default=1)
    b.add_argument("--doc-id-col", default=None)
    b.add_argument("--buckets", type=int, default=16)
    b.add_argument("--partitions", type=int, default=32)
    b.add_argument("--salt-threshold", type=int, default=100_000)
    b.add_argument("--no-resume", action="store_true")
    b.add_argument("--stopwords", default=None,
                   help="comma-separated stopword list (analyzer option)")
    b.add_argument("--codec", choices=["for", "varint"], default="for")

    s = sub.add_parser("search", help="top-k BM25 query")
    s.add_argument("--index", required=True)
    s.add_argument("--query", required=True)
    s.add_argument("--k", type=int, default=10)
    s.add_argument("--mode", choices=["OR", "AND"], default="OR")
    s.add_argument("--filter", default=None)
    s.add_argument("--after", default=None,
                   help="deep-paging cursor 'score,doc_id' (from the last "
                        "hit of the previous page)")
    s.add_argument("--facets", default=None,
                   help="comma-separated doc-store fields: also return "
                        "per-value doc counts over the FULL match set "
                        "(Solr facet.field analogue)")
    s.add_argument("--collapse-field", default=None,
                   help="collapse to the best hit per value of this "
                        "field before paging (Solr CollapsingQParser)")
    s.add_argument("--sort-by", default=None,
                   help="'field asc' or 'field desc': order the page by "
                        "a doc-store field over the FULL match set "
                        "instead of relevance (Solr sort param)")
    s.add_argument("--boost-by", default=None,
                   help="SQL expression over doc-store columns: re-rank "
                        "the FULL match set by bm25 * expr (Solr boost= "
                        "function query; null expr = neutral)")

    ex = sub.add_parser("export",
                        help="write EVERY matching doc + exact BM25 score "
                             "to parquet (Solr /export analogue; unordered,"
                             " untruncated)")
    ex.add_argument("--index", required=True)
    ex.add_argument("--query", required=True)
    ex.add_argument("--out", required=True, help="output parquet path")
    ex.add_argument("--mode", choices=["OR", "AND"], default="OR")
    ex.add_argument("--filter", default=None)
    ex.add_argument("--columns", default="",
                    help="comma-separated doc-store columns to include")

    q = sub.add_parser("query",
                       help="Lucene-classic query string (D1 router: "
                            "+must -not \"phrase\"~2 spar* s?a* fuzz~1 "
                            "[a TO b] /regex/ field:term^2)")
    q.add_argument("--index", required=True)
    q.add_argument("--qs", required=True)
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--filter", default=None)

    d = sub.add_parser("delete",
                       help="tombstone docs (Solr deleteById / "
                            "delete-by-query analogue); purged at merge")
    d.add_argument("--index", required=True)
    g = d.add_mutually_exclusive_group(required=True)
    g.add_argument("--ids", help="comma-separated doc_ids")
    g.add_argument("--where", help="SQL predicate over doc-store columns")

    u = sub.add_parser("upsert",
                       help="overwrite-by-uniqueKey update (Solr default "
                            "add semantics): matching keys replaced, new "
                            "keys appended")
    u.add_argument("--index", required=True)
    u.add_argument("--input", required=True, help="parquet batch path")
    u.add_argument("--key-cols", default="conv_id,turn_idx")
    u.add_argument("--buckets", type=int, default=None,
                   help="term-hash partitions of a NEW index (default 16);"
                        " an existing index keeps its own")
    u.add_argument("--partitions", type=int, default=None,
                   help="build shuffle width (default 32, or the existing"
                        " index's)")

    m = sub.add_parser("merge", help="compact segments (C10)")
    m.add_argument("--src", required=True)
    m.add_argument("--dst", required=True)

    args = ap.parse_args(argv)

    # a caller's running session is used as it is (its confs untouched)
    # and outlives the command; only a session made here is stopped
    from pyspark.sql import SparkSession
    from parser_indexer_spark.session import get_spark
    spark = SparkSession.getActiveSession()
    own = spark is None
    if own:
        spark = get_spark(app=f"pis-{args.cmd}", master=args.master)

    if args.cmd == "build":
        from parser_indexer_spark.build import build_index
        from parser_indexer_spark.config import EngineConfig
        cfg = EngineConfig(n_buckets=args.buckets,
                           build_partitions=args.partitions,
                           salt_df_threshold=args.salt_threshold,
                           codec=args.codec,
                           stopwords=tuple(args.stopwords.split(","))
                           if args.stopwords else ())
        df = spark.read.parquet(args.input)
        t0 = time.perf_counter()
        manifest = build_index(spark, df, args.out, cfg,
                               segments=args.segments,
                               input_desc=args.input,
                               resume=not args.no_resume,
                               doc_id_col=args.doc_id_col)
        wall = time.perf_counter() - t0
        print(json.dumps({"built": args.out, "wall_sec": round(wall, 3),
                          "stats": manifest["stats"],
                          "turns_per_sec": round(manifest["stats"]["n_docs"] / wall, 1)}))
    elif args.cmd == "search":
        from parser_indexer_spark.search import Index
        ix = Index(spark, args.index)
        after = None
        if args.after:
            s_str, d_str = args.after.split(",")
            after = (float(s_str), int(d_str))
        if after is not None and (args.collapse_field or args.sort_by
                                  or args.boost_by):
            raise SystemExit("--after pages the relevance-ordered path "
                             "only; drop --collapse-field/--sort-by/"
                             "--boost-by")
        t0 = time.perf_counter()
        if args.collapse_field:
            rows = ix.search_collapse(args.query, args.collapse_field,
                                      k=args.k, mode=args.mode,
                                      doc_filter=args.filter).collect()
        elif args.boost_by:
            rows = ix.search_boosted(args.query, args.boost_by, k=args.k,
                                     mode=args.mode,
                                     doc_filter=args.filter).collect()
        elif args.sort_by:
            fld, _, dirn = args.sort_by.partition(" ")
            rows = ix.search_sort_by(args.query, fld, k=args.k,
                                     ascending=dirn.strip() != "desc",
                                     mode=args.mode,
                                     doc_filter=args.filter).collect()
        else:
            rows = ix.search(args.query, k=args.k, mode=args.mode,
                             doc_filter=args.filter, after=after).collect()
        out = {
            "query": args.query, "mode": args.mode,
            "wall_sec": round(time.perf_counter() - t0, 4),
            "results": [[r.doc_id, r.score] for r in rows],
        }
        if rows and not (args.collapse_field or args.sort_by
                         or args.boost_by):
            # cursor for the next page (cursorMark analogue)
            out["next_after"] = f"{rows[-1].score!r},{rows[-1].doc_id}"
        if args.facets:
            fts = ix.search_facets(args.query, args.facets.split(","),
                                   mode=args.mode,
                                   doc_filter=args.filter).collect()
            out["facets"] = {
                f: {r.value: r.n for r in fts if r.field == f}
                for f in args.facets.split(",")}
        print(json.dumps(out))
    elif args.cmd == "export":
        from parser_indexer_spark.search import Index
        ix = Index(spark, args.index)
        cols = tuple(c for c in args.columns.split(",") if c)
        t0 = time.perf_counter()
        df = ix.export_matches(args.query, columns=cols, mode=args.mode,
                               doc_filter=args.filter)
        df.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({"exported": args.out, "n_docs": n,
                          "wall_sec": round(time.perf_counter() - t0, 3)}))
    elif args.cmd == "query":
        from parser_indexer_spark.search import Index
        ix = Index(spark, args.index)
        t0 = time.perf_counter()
        rows = ix.query(args.qs, k=args.k, doc_filter=args.filter).collect()
        print(json.dumps({
            "qs": args.qs,
            "wall_sec": round(time.perf_counter() - t0, 4),
            "results": [[r.doc_id, r.score] for r in rows],
        }))
    elif args.cmd == "delete":
        from parser_indexer_spark.search import Index
        ix = Index(spark, args.index)
        if args.ids:
            man = ix.delete_docs(int(x) for x in args.ids.split(","))
        else:
            man = ix.delete_by_query(args.where)
        print(json.dumps({"deleted": args.index,
                          "tombstones": man["deletes"]["n"]}))
    elif args.cmd == "upsert":
        from parser_indexer_spark.config import EngineConfig
        from parser_indexer_spark.incremental import upsert_segment
        from parser_indexer_spark.manifest import CATALOG
        # ADVICE r5 (high): when the index exists, the appended segment
        # MUST use the committed config — CLI defaults would tokenize/
        # bucket/encode it differently AND finalize would overwrite the
        # manifest config, silently corrupting queries over old segments.
        try:
            committed = CATALOG.load_snapshot(args.index)["config"]
        except FileNotFoundError:
            committed = None
        if committed is not None:
            cfg = EngineConfig.from_dict(committed)
            if args.buckets not in (None, cfg.n_buckets):
                print(f"upsert: --buckets {args.buckets} ignored; the index "
                      f"keeps its committed n_buckets={cfg.n_buckets}",
                      file=sys.stderr)
            if args.partitions is not None:
                # the build's shuffle width: speed only, not the format
                cfg = dataclasses.replace(cfg,
                                          build_partitions=args.partitions)
        else:
            cfg = EngineConfig(n_buckets=args.buckets or 16,
                               build_partitions=args.partitions or 32)
        batch = spark.read.parquet(args.input)
        t0 = time.perf_counter()
        man = upsert_segment(spark, args.index, batch, cfg,
                             key_cols=tuple(args.key_cols.split(",")),
                             input_desc=args.input)
        print(json.dumps({
            "upserted": args.index,
            "wall_sec": round(time.perf_counter() - t0, 3),
            "n_docs": man["stats"]["n_docs"],
            "tombstones": man.get("deletes", {}).get("n", 0),
        }))
    elif args.cmd == "merge":
        from parser_indexer_spark.merge import merge_index
        manifest = merge_index(spark, args.src, args.dst)
        print(json.dumps({"merged": args.dst, "stats": manifest["stats"]}))
    if own:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
