"""The benchmark's workloads: ``build`` and ``search``.

Each workload is one closed loop driven by a single client thread: the next
call into the engine starts when the previous one has returned and its
result has been collected. Inputs come from the seed alone; the engine sees
only the generated rows and requests. Output checks run after the timed
phase, against the DuckDB mirrors in checks.py.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa

from parser_indexer_spark.analyze import tokenize_arrow
from parser_indexer_spark.build import build_index
from parser_indexer_spark.codec import decode_blocks
from parser_indexer_spark.config import EngineConfig
from parser_indexer_spark.incremental import upsert_segment
from parser_indexer_spark.manifest import IndexPaths, load_manifest
from parser_indexer_spark.merge import compact_segments, select_merges
from parser_indexer_spark.querystring import parse_query
from parser_indexer_spark.search import Index
from parser_indexer_spark.transcripts import synthesize_pandas

import checks

# corpus size of both workloads, in transcript turns
TURNS = 5_000
# the build workload warms up with one build of a small corpus: the first
# build of a process is slow however small its input (JIT, codegen, Python
# workers)
WARMUP_TURNS = 2_000
# share of an update batch that replaces existing (conv_id, turn_idx) keys
REPLACE_SHARE = 0.2
# conv_id offset of the rows an update batch adds; above every base conv
NEW_CONV_OFFSET = 10_000_000


def engine_config(turns: int, cpus: int) -> EngineConfig:
    """bench.py's 200k-turn transcripts config (16 buckets, 8 salts,
    chunk_bits 14), with the two df thresholds scaled to the corpus: terms
    in more than 10% of the docs are salted (20k of 200k), and terms in
    more than ~20% get impact sidecars (the default 4096 of 20k turns),
    which is the ten or so Zipf head terms."""
    return EngineConfig(n_buckets=16, build_partitions=cpus,
                        salt_df_threshold=max(1, turns // 10), n_salts=8,
                        chunk_bits=14,
                        impact_df_threshold=max(1, turns * 4096 // 20_000))


@dataclass
class Run:
    """State of one benchmark run, shared by its workload functions."""
    spark: object
    tracer: object
    tmp: str
    seed: int
    seconds: float
    cpus: int
    t_process: float
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    _dirs: itertools.count = field(default_factory=itertools.count)

    def fresh_dir(self, name: str) -> str:
        return os.path.join(self.tmp, f"{name}-{next(self._dirs)}")

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def make_corpus(run: Run, turns: int) -> tuple[pd.DataFrame, str]:
    """Seeded transcripts, written once as parquet (the build's input)."""
    with run.tracer.span("transcripts.synth", spark_work=False) as sp:
        pdf = synthesize_pandas(turns, seed=run.seed)
        path = os.path.join(run.tmp, f"corpus-{turns}.parquet")
        pdf.to_parquet(path, index=False)
    run.layers["transcripts.synth_s"] = \
        run.layers.get("transcripts.synth_s", 0.0) + sp.dur
    return checks.with_doc_ids(pdf), path


def index_layers(run: Run, root: str) -> None:
    """Storage, manifest and codec metrics of a committed index."""
    p = IndexPaths(root)
    sizes = {
        "docs": _dir_bytes(p.docs),
        "postings": _dir_bytes(p.postings),
        "dict": _dir_bytes(p.dict) + _dir_bytes(p.dict_segs),
        "impacts": _dir_bytes(p.impacts),
    }
    for k, v in sizes.items():
        run.layers[f"manifest.bytes_{k}"] = float(v)
    loads = []
    for _ in range(5):
        t = time.perf_counter()
        man = load_manifest(root)
        loads.append(time.perf_counter() - t)
    run.layers["manifest.load_s"] = _median(loads)
    run.layers["manifest.live_segments"] = float(len(man["segments"]))
    dels = man.get("deletes") or {}
    run.layers["deletes.live_tombstones"] = float(dels.get("n", 0))
    n_post = man["stats"]["n_postings"]
    run.layers["codec.bytes_per_posting"] = sizes["postings"] / max(1, n_post)
    blocks = pd.read_parquet(p.postings, columns=["docs_enc", "num_docs"])
    bufs, ns = blocks["docs_enc"].tolist(), blocks["num_docs"].to_numpy()
    rates = []
    for _ in range(3):
        t = time.perf_counter()
        out = decode_blocks(bufs, ns)
        rates.append(out.size / (time.perf_counter() - t))
    run.layers["codec.decode_postings_per_s"] = _median(rates)


def spark_layers(run: Run, spans, prefix: str, suffix: str = ""):
    """Per-call medians of the Spark totals of ``spans``, plus the mean
    executor time per call by the engine module named in the stage's call
    site."""
    totals = [s.spark for s in spans if s.spark is not None]
    if not totals:
        return
    for attr in ("jobs", "stages", "tasks", "failed_tasks", "task_s",
                 "cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_bytes",
                 "skew_ratio"):
        run.layers[f"{prefix}.{attr}{suffix}"] = _median(
            [float(getattr(t, attr)) for t in totals])
    for t in totals:
        for mod, (_, task_s) in t.by_callsite.items():
            key = f"{prefix}.callsite_{mod}_task_s"
            run.layers[key] = run.layers.get(key, 0.0) + task_s / len(totals)


# ------------------------------------------------------------------ build ---

class Built(NamedTuple):
    root: str
    seconds: float
    manifest: dict
    docs_phase_s: float   # phase A wall time, from the docs marker
    bytes: int


def build_workload(run: Run) -> dict:
    cfg = engine_config(TURNS, run.cpus)
    corpus, src = make_corpus(run, TURNS)
    text_bytes = int(corpus["text"].str.len().sum())  # ASCII corpus
    src_df = run.spark.read.parquet(src)

    def one_build(df, cfg, turns) -> Built:
        out = run.fresh_dir("build")
        with run.tracer.span("build.build_index") as sp:
            man = build_index(run.spark, df, out, cfg, segments=1,
                              input_desc=f"perfbench {turns} turns")
        with open(IndexPaths(out).docs_marker) as f:
            docs_s = json.load(f)["wall_sec"]
        return Built(out, sp.dur, man, docs_s, _dir_bytes(out))

    warm_df = run.spark.read.parquet(make_corpus(run, WARMUP_TURNS)[1])
    warm = one_build(warm_df, engine_config(WARMUP_TURNS, run.cpus),
                     WARMUP_TURNS)
    run.layers["build.warmup_s"] = warm.seconds
    last = warm.root
    t_setup = time.perf_counter() - run.t_process

    # at least two timed builds: one per run left its median 0.22 wide
    # (interquartile range over median) across ten seeds
    builds = []
    t_begin = time.perf_counter()
    while time.perf_counter() - t_begin < run.seconds or len(builds) < 2:
        if run.failed >= 3:
            raise RuntimeError("build_index failed three times")
        run.attempted += 1
        try:
            b = one_build(src_df, cfg, TURNS)
        except Exception:
            traceback.print_exc()
            run.fail("build_index raised")
            continue
        builds.append(b)
        shutil.rmtree(last, ignore_errors=True)
        last = b.root

    # output check: every build's counts equal DuckDB's on the corpus
    con = checks.mirror_db(corpus)
    want = checks.index_counts(con)
    for b in builds:
        got = {k: b.manifest["stats"][k] for k in want}
        if got != want:
            run.fail(f"build stats {got} != mirror {want}")

    op_s = [b.seconds for b in builds]
    run.layers["bench.samples"] = float(len(builds))
    if run.tracer.enabled:
        _build_layers(run, corpus, builds)
        index_layers(run, last)
        update_cycle(run, cfg, corpus, last)
    return {
        "setup_s": t_setup,
        "items_per_s": sum(b.manifest["stats"]["n_docs"] for b in builds)
        / sum(op_s),
        "op_p50_s": _median(op_s),
        "bytes_per_input_byte": _median([b.bytes for b in builds])
        / text_bytes,
    }


def _build_layers(run: Run, corpus, builds) -> None:
    texts = pa.array(corpus["text"].tolist(), type=pa.string())
    ts = []
    for _ in range(3):
        t = time.perf_counter()
        tokenize_arrow(texts)
        ts.append(time.perf_counter() - t)
    run.layers["analyze.tokenize_s"] = _median(ts)
    # wall times the build commits: the docs marker (phase A: doc ids + doc
    # store), the segment rows (phase B: tokenize, invert, write blocks and
    # impacts) and the manifest total; the rest is phase C (dict, stats,
    # commit)
    inv = [sum(s["wall_sec"] for s in b.manifest["segments"])
           for b in builds]
    run.layers["build.docs_phase_s"] = _median(
        [b.docs_phase_s for b in builds])
    run.layers["build.invert_phase_s"] = _median(inv)
    run.layers["build.finalize_phase_s"] = _median(
        [b.manifest["wall_sec_total"] - b.docs_phase_s - i
         for b, i in zip(builds, inv)])
    spark_layers(run, run.tracer.of("build.build_index")[1:], "build")


# ----------------------------------------------------------------- update ---

READS = ("spark join", "w0007 w0042", "hash agg scan")


def update_cycle(run: Run, cfg, corpus: pd.DataFrame, root: str) -> None:
    """One write cycle on a built index, measured in the traced run: upsert
    a batch (a share of it replacing existing keys), delete live docs, run
    the merge policy, then a full compaction. After every commit a fresh
    ``Index`` answers READS, which must return no deleted or replaced doc;
    after the full compaction they must equal the mirror on the logical
    corpus (the contract ``upsert_segment`` states)."""
    spark, tr = run.spark, run.tracer
    rng = np.random.default_rng([run.seed, 1])
    n_batch = TURNS // 10
    n_rep = int(n_batch * REPLACE_SHARE)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    rep_pos = rng.choice(len(corpus), n_rep, replace=False)
    rep = corpus.iloc[rep_pos][cols].copy()
    rep["text"] = rep["text"] + " w0007"
    new = synthesize_pandas(n_batch - n_rep, seed=run.seed + 1,
                            conv_offset=NEW_CONV_OFFSET)
    batch = pd.concat([new[cols], rep], ignore_index=True)
    batch_path = os.path.join(run.tmp, "batch.parquet")
    batch.to_parquet(batch_path, index=False)
    gone = set(corpus["doc_id"].iloc[rep_pos].tolist())
    reads, opens, preloads = [], [], []

    def read_after_commit():
        t0 = time.perf_counter()
        with tr.span("search.open", spark_work=False) as sp:
            ix = Index(spark, root)
        opens.append(sp.dur)
        with tr.span("search.term_stats") as sp:
            ix.term_stats(["spark"])
        preloads.append(sp.dur)
        for i, q in enumerate(READS):
            with tr.span("update.read"):
                rows = ix.search(q, k=50).collect()
            if i == 0:
                reads.append(time.perf_counter() - t0)
            run.attempted += 1
            got = [(int(r["doc_id"]), float(r["score"])) for r in rows]
            if gone & {d for d, _ in got}:
                run.fail(f"read {q!r} returned a deleted or replaced doc")
        return ix

    with tr.span("incremental.upsert_segment") as up:
        upsert_segment(spark, root, spark.read.parquet(batch_path), cfg)
    run.layers["manifest.live_segments"] = float(
        len(load_manifest(root)["segments"]))
    ix = read_after_commit()

    base_live = np.setdiff1d(corpus["doc_id"].to_numpy(),
                             np.fromiter(gone, dtype=np.int64))
    dels = rng.choice(base_live, 100, replace=False)
    with tr.span("search.delete_docs") as sp:
        ix.delete_docs(dels.tolist())
    run.layers["search.delete_s"] = sp.dur
    gone |= set(dels.tolist())
    run.layers["deletes.live_tombstones"] = float(
        load_manifest(root)["deletes"]["n"])
    run.layers["manifest.bytes_deletes"] = float(
        _dir_bytes(os.path.join(root, "deletes")))
    read_after_commit()

    rewritten = 0

    def compact(segs):
        nonlocal rewritten
        p = IndexPaths(root)
        rewritten += sum(_dir_bytes(p.postings_seg(s)) for s in segs)
        with tr.span("merge.compact_segments"):
            compact_segments(spark, root, segs)

    with tr.span("merge.select_merges", spark_work=False) as sp:
        runs = select_merges(root)
    run.layers["merge.select_s"] = sp.dur
    for segs in runs:
        compact(segs)
    # then one full compaction, which purges every tombstone
    live = [s["seg"] for s in load_manifest(root)["segments"]]
    if len(live) > 1:
        compact(live)
    done = tr.of("merge.compact_segments")
    run.layers["merge.compactions"] = float(len(done))
    run.layers["merge.rewritten_bytes"] = float(rewritten)
    run.layers["merge.compact_s"] = sum(s.dur for s in done)
    read_after_commit()

    # logical corpus: base rows not replaced or deleted, plus the batch with
    # the ids an append assigns (max_doc_id + 1 + rank in the batch)
    keep = corpus[~corpus["doc_id"].isin(gone)]
    added = checks.with_doc_ids(batch, first_id=len(corpus))
    con = checks.mirror_db(pd.concat([keep, added], ignore_index=True))
    ix = Index(spark, root)
    for q in READS:
        req = _r(q, "topk", "search", q=q, k=50)
        run.attempted += 1
        got, exp = execute(ix, req, {})[2], checks.expected(con, req)
        if not checks.matches(req.kind, got, exp):
            run.fail(f"read {q!r} after full compaction got {got!r:.300} "
                     f"expected {exp.rows!r:.300}")

    run.layers["incremental.upsert_s"] = up.dur
    run.layers["search.fresh_read_p50_s"] = _median(reads)
    run.layers["search.open_s"] = _median(opens)
    run.layers["search.term_stats_s"] = _median(preloads)
    spark_layers(run, [up], "incremental", "_per_upsert")


# ----------------------------------------------------------------- search ---

@dataclass(eq=False)
class Request:
    name: str
    cls: str
    kind: str
    args: dict


def _r(name, cls, kind, **args) -> Request:
    args.setdefault("k", 10)
    return Request(name, cls, kind, args)


# The 19 request shapes of bench.py's q_* leaves, over head, mixed and tail
# terms of the transcripts vocabulary (Zipf rank 1 = "spark"; w0000..w1999
# are the tail). "sidecar" requests have only head terms, whose df is far
# above impact_df_threshold, so the impact fast path may answer them.
REQUESTS = (
    _r("or_mixed", "topk", "search", q="spark w0420"),
    _r("and_head", "topk", "search", q="hash agg scan", mode="AND"),
    _r("or_tail", "topk", "search", q="w1500 w1999 w0777"),
    _r("head_1", "sidecar", "search", q="spark"),
    _r("head_or", "sidecar", "search", q="spark join"),
    _r("phrase", "phrase", "phrase", q="spark join", slop=0),
    _r("phrase_slop", "phrase", "phrase", q="filter window", slop=2),
    _r("qs_must", "expand", "qs", qs="+spark join scan",
       mirror=dict(terms_sql="'join', 'scan', 'spark'", mode="OR",
                   must=("spark",))),
    _r("qs_not", "expand", "qs", qs="spark join -scan",
       mirror=dict(terms_sql="'join', 'spark'", mode="OR",
                   must_not=("scan",))),
    _r("qs_prefix", "expand", "qs", qs="spar*",
       mirror=dict(terms_sql="", mode="OR", prefix="spar")),
    _r("qs_fuzzy", "expand", "qs", qs="spar~1",
       mirror=dict(terms_sql="", mode="OR", fuzzy=("spar", 1))),
    _r("qs_regexp", "expand", "qs", qs="/s[pc]a[rn].*/",
       mirror=dict(terms_sql="", mode="OR", regex="s[pc]a[rn].*")),
    _r("filter_role", "filtered", "filtered", q="spark join",
       filter="role = 'user'"),
    _r("page2_head", "page", "page", q="spark join", page1="head_or"),
    _r("facets", "fullmatch", "facets", q="spark join",
       fields=("role", "tool")),
    _r("facet_range", "fullmatch", "facet_range", q="spark join",
       field="turn_idx", start=0, end=40, gap=5),
    _r("facet_stats", "fullmatch", "facet_stats", q="hash agg",
       field="turn_idx"),
    _r("export", "fullmatch", "export", q="spark join", columns=("role",)),
    _r("collapse", "fullmatch", "collapse", q="spark join", field="role"),
    _r("sort_by", "fullmatch", "sort_by", q="spark join", field="turn_idx"),
)

def request_round(seed: int, i: int) -> list[Request]:
    """Round ``i`` of the timed sequence: every request once, in a seeded
    order. Each round has the same requests, so the mix is the same for
    every seed; only the order and the corpus change."""
    order = np.random.default_rng([seed, 2, i]).permutation(len(REQUESTS))
    return [REQUESTS[j] for j in order]


def execute(ix: Index, req: Request, cursors: dict):
    """One request: (plan seconds, execute seconds, comparable result).
    ``cursors`` maps a page-2 request to its page-1 (score, doc_id)."""
    a, q, k = req.args, req.args.get("q"), req.args["k"]
    t0 = time.perf_counter()
    if req.kind == "search":
        df = ix.search(q, k=k, mode=a.get("mode", "OR"))
    elif req.kind == "filtered":
        df = ix.search(q, k=k, doc_filter=a["filter"])
    elif req.kind == "page":
        df = ix.search(q, k=k, after=cursors[req.name])
    elif req.kind == "qs":
        df = ix.query(a["qs"], k=k)
    elif req.kind == "phrase":
        df = ix.phrase(q, k=k, slop=a["slop"])
    elif req.kind == "collapse":
        df = ix.search_collapse(q, a["field"], k=k)
    elif req.kind == "sort_by":
        df = ix.search_sort_by(q, a["field"], k=k)
    elif req.kind == "export":
        df = ix.export_matches(q, columns=a["columns"])
    elif req.kind == "facets":
        df = ix.search_facets(q, list(a["fields"]))
    elif req.kind == "facet_range":
        df = ix.search_facet_range(q, a["field"], a["start"], a["end"],
                                   a["gap"])
    elif req.kind == "facet_stats":
        df = ix.search_facet_stats(q, a["field"])
    else:
        raise ValueError(req.kind)
    t1 = time.perf_counter()
    if req.kind == "export":
        out = df.count()
    else:
        rows = df.collect()
        if req.kind == "sort_by":
            out = [int(r["doc_id"]) for r in rows]
        elif req.kind == "facets":
            out = sorted((r["field"], r["value"], int(r["n"])) for r in rows)
        elif req.kind == "facet_range":
            out = sorted((int(r["bucket_lo"]), int(r["n"])) for r in rows)
        elif req.kind == "facet_stats":
            out = tuple(rows[0])
        else:
            out = [(int(r["doc_id"]), float(r["score"])) for r in rows]
    return t1 - t0, time.perf_counter() - t1, out


def search_workload(run: Run) -> dict:
    cfg = engine_config(TURNS, run.cpus)
    corpus, src = make_corpus(run, TURNS)
    text_bytes = int(corpus["text"].str.len().sum())
    root = run.fresh_dir("index")
    with run.tracer.span("build.build_index") as sp:
        build_index(run.spark, run.spark.read.parquet(src), root, cfg,
                    segments=1,
                    input_desc=f"perfbench {TURNS} turns")
    run.layers["build.warmup_s"] = sp.dur
    with run.tracer.span("search.open", spark_work=False) as sp_open:
        ix = Index(run.spark, root)
    with run.tracer.span("search.term_stats") as sp_ts:
        ix.term_stats(["spark"])

    # warm-up: every request once, in pool order (page-1 requests come
    # before the page-2 requests that take their last hit as the cursor)
    first, cursors, broken = {}, {}, set()
    t_warm = time.perf_counter()
    for req in REQUESTS:
        if req.kind == "page":
            page1 = first.get(req.args["page1"])
            if not page1:
                broken.add(req.name)
                continue
            cursors[req.name] = (page1[-1][1], page1[-1][0])
        try:
            first[req.name] = execute(ix, req, cursors)[2]
        except Exception:
            traceback.print_exc()
            broken.add(req.name)
    run.layers["search.warmup_s"] = time.perf_counter() - t_warm
    t_setup = time.perf_counter() - run.t_process

    ops = []                          # (request, plan_s, exec_s, span)
    t_begin = time.perf_counter()
    rounds = 0
    while time.perf_counter() - t_begin < run.seconds:
        for req in request_round(run.seed, rounds):
            run.attempted += 1
            if req.name in broken:
                run.fail(f"request {req.name} failed in the warm-up")
                continue
            try:
                with run.tracer.span("search.request") as sp:
                    plan_s, exec_s, out = execute(ix, req, cursors)
            except Exception:
                traceback.print_exc()
                run.fail(f"request {req.name} raised")
                continue
            if first.setdefault(req.name, out) != out:
                run.fail(f"request {req.name} changed its answer")
                continue
            ops.append((req, plan_s, exec_s, sp))
        rounds += 1
    wall = time.perf_counter() - t_begin
    run.layers["search.repeat_share"] = _repeat_share(set(first), ops)

    # output check: each distinct request once against the mirror
    con = checks.mirror_db(corpus)
    wrong = set()
    for req in REQUESTS:
        if req.name not in first:
            continue
        exp = checks.expected(con, req)
        got = first[req.name]
        if not checks.matches(req.kind, got, exp):
            wrong.add(req.name)
            print(f"perfbench: {req.name} got {got!r:.300} "
                  f"expected {exp!r:.300}", file=sys.stderr)
        elif isinstance(exp, checks.Ranked) and \
                not checks.checker_catches_wrong_answer(got, exp):
            wrong.add(req.name)
            print("perfbench: the check accepted a wrong answer",
                  file=sys.stderr)
    for req, *_ in ops:
        if req.name in wrong:
            run.fail(f"request {req.name} differs from the mirror")

    lat = [p + e for _, p, e, _ in ops]
    run.layers["bench.samples"] = float(len(ops))
    if run.tracer.enabled:
        _search_layers(run, ops, con, cfg, sp_open, sp_ts)
        index_layers(run, root)
    return {
        "setup_s": t_setup,
        "items_per_s": len(ops) / wall,
        "op_p50_s": _median(lat),
        "bytes_per_input_byte": _dir_bytes(root) / text_bytes,
    }


def _repeat_share(warm: set, ops) -> float:
    """Share of timed requests already sent on the same handle."""
    seen, repeats = set(warm), 0
    for req, *_ in ops:
        repeats += req.name in seen
        seen.add(req.name)
    return repeats / max(1, len(ops))


def _search_layers(run: Run, ops, con, cfg, sp_open, sp_ts) -> None:
    L = run.layers
    lat = sorted(p + e for _, p, e, _ in ops)
    L["search.op_p90_s"] = float(np.quantile(lat, 0.9))
    L["search.plan_s"] = _median([p for _, p, _, _ in ops])
    L["search.exec_s"] = _median([e for _, _, e, _ in ops])
    L["search.open_s"] = sp_open.dur
    L["search.term_stats_s"] = sp_ts.dur
    for cls in dict.fromkeys(r.cls for r in REQUESTS):
        L[f"search.{cls}_p50_s"] = _median(
            [p + e for r, p, e, _ in ops if r.cls == cls])
    head = {t for r in REQUESTS if r.cls == "sidecar"
            for t in r.args["q"].split()}
    dfs = checks.doc_freqs(con, sorted(head))
    eligible = {r.name for r in REQUESTS if r.cls == "sidecar" and all(
        dfs[t] > cfg.impact_df_threshold for t in r.args["q"].split())}
    L["search.sidecar_share"] = sum(r.name in eligible for r, *_ in ops) \
        / len(ops)
    L["search.fullmatch_share"] = sum(r.cls == "fullmatch"
                                      for r, *_ in ops) / len(ops)
    parse = []
    for r in REQUESTS:
        if r.kind == "qs":
            t = time.perf_counter()
            for _ in range(100):
                parse_query(r.args["qs"])
            parse.append((time.perf_counter() - t) / 100)
    L["querystring.parse_s"] = _median(parse)
    spark_layers(run, [sp for *_, sp in ops], "search", "_per_op")


WORKLOADS = {"build": build_workload, "search": search_workload}
