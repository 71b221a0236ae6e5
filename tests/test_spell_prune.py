"""Round-4 scale paths: spellcheck bigram prefilter (VERDICT r3 #6),
segment pruning under doc filters (#9), langid profile separation (#8)."""

import os

import numpy as np
import pytest
import pyspark.sql.functions as F


# ----------------------------------------------------- spellcheck prefilter

def test_spell_prefilter_candidate_fraction(spark, tmp_path):
    """100k-term synthetic dict: the bigram-bucket candidate set for a
    5-letter query must be < 5% of the vocabulary (VERDICT r3 #6 'done'
    criterion) while still finding every true near-term."""
    from parser_indexer_spark.search import (build_spell_table,
                                             spellcheck_table)
    rng = np.random.default_rng(5)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = {"".join(rng.choice(letters, size=int(rng.integers(5, 9))))
             for _ in range(110_000)}
    vocab = sorted(vocab)[:100_000]
    # plant known near-misses of 'sparl'
    planted = ["sparl", "spark", "sparle", "spar", "snarl"]
    vocab = sorted(set(vocab) | set(planted))
    d = spark.createDataFrame([(t, 10) for t in vocab], "term string, df long")
    spell_dir = str(tmp_path / "spell")
    build_spell_table(d, spell_dir)

    word = "sparl"
    bgs = sorted({word[i:i + 2] for i in range(len(word) - 1)})
    cand = (spark.read.parquet(spell_dir)
            .where(F.col("bg").isin(bgs)).select("term").distinct())
    frac = cand.count() / len(vocab)
    assert frac < 0.05, f"candidate fraction {frac:.3f} >= 5%"

    got = [r.term for r in
           spellcheck_table(spark, spell_dir, word, limit=10).collect()]
    for t in ["sparl", "spark", "spar", "snarl"]:
        assert t in got, (t, got)


def test_spellcheck_engine_vs_scan(engine):
    """Bucket-pruned spellcheck == the same-candidate dict scan on the
    shared tiny index."""
    engine.build_spell_index()
    got = [(r.term, r.dist) for r in engine.spellcheck("sparl").collect()]
    # the fallback scan path (no spell dir) shares candidate semantics
    import os
    import shutil
    spell = os.path.join(engine.root, "spell")
    shutil.rmtree(spell)
    scan = [(r.term, r.dist) for r in engine.spellcheck("sparl").collect()]
    assert got == scan
    assert got and got[0][0] == "spark"


# ------------------------------------------------------- segment pruning ---

def test_segment_pruning_under_filter(spark, engine, oracle, corpus,
                                     monkeypatch, request):
    """A doc filter whose allowed range misses segment 1 entirely must
    read strictly fewer posting files — with identical results, on the
    driver path (Arrow read) and on the exchange path (Spark scan)."""
    from parser_indexer_spark.manifest import CATALOG
    segs = engine.manifest["segments"]
    assert len(segs) == 2
    lo0, hi0 = segs[0]["doc_lo"], segs[0]["doc_hi"]
    flt = f"doc_id <= {hi0}"
    read = []
    arrow = CATALOG.read_arrow
    monkeypatch.setattr(CATALOG, "read_arrow", lambda paths, *a, **kw: (
        read.append(list(paths)), arrow(paths, *a, **kw))[1])

    def run():
        return [(r.doc_id, r.score) for r in
                engine.search("spark join", k=10, doc_filter=flt).collect()]

    got = run()
    allowed = {d for d in range(lo0, hi0 + 1)}
    exp = [(d, s) for d, s in oracle.search("spark join", k=10 ** 9)
           if d in allowed][:10]
    assert [g[0] for g in got] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], rel=1e-6)
    # the driver path read segment 0's posting files only
    seg0 = f"{os.sep}seg={segs[0]['seg']}{os.sep}"
    assert len(read) == 1 and read[0]
    assert all(seg0 in f for f in read[0])
    # the exchange path built the pruned relation, which reads fewer files
    request.getfixturevalue("exchange_path")
    assert run() == got
    pruned = [v for v in engine._postings_pruned.values() if v is not None]
    assert pruned, "segment pruning did not engage"
    assert len(pruned[0].inputFiles()) < len(engine._postings_df.inputFiles())


def test_segment_pruning_empty_range(spark, engine):
    """A filter allowing no doc id at all short-circuits to empty."""
    n = engine.stats["n_docs"]
    got = engine.search("spark", k=10,
                        doc_filter=f"doc_id > {n + 10}").collect()
    assert got == []


# ---------------------------------------------------------- langid (B5) ---

SAMPLES = {
    "en": ["the quick brown fox jumps over the lazy dog and runs into the"
           " woods with all of them",
           "this is an example of a sentence that should be identified as"
           " english for the test"],
    "de": ["der schnelle braune fuchs springt über den faulen hund und die"
           " kinder sind nicht da",
           "ich habe eine frage und das ist ein einfaches beispiel für die"
           " deutsche sprache"],
    "es": ["el rápido zorro marrón salta sobre el perro perezoso y los"
           " niños están en la casa",
           "esta es una frase de ejemplo que debería ser identificada como"
           " español para la prueba"],
    "fr": ["le rapide renard brun saute par dessus le chien paresseux et"
           " les enfants sont dans la maison",
           "ceci est une phrase qui devrait être identifiée comme du"
           " français pour le test"],
}


def test_lang_trigram_separates_real_languages(spark):
    """The widened rank-weighted profiles classify short real-language
    sentences correctly with a clear margin."""
    from parser_indexer_spark.relops import lang_trigram_df
    rows = [(i, lang, text)
            for i, (lang, texts) in enumerate(
                (lg, t) for lg, ts in sorted(SAMPLES.items()) for t in ts)
            for text in [texts]]
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = lang_trigram_df(d).toPandas().set_index("doc_id")
    truth = {r[0]: r[1] for r in rows}
    score_cols = [c for c in out.columns if c.startswith("score_")]
    for doc_id, lang in truth.items():
        row = out.loc[doc_id]
        assert row["lang_id"] == lang, (doc_id, lang, dict(row))
        own = row[f"score_{lang}"]
        others = [row[c] for c in score_cols if c != f"score_{lang}"]
        assert own > max(others), (doc_id, lang, dict(row))


def test_spell_table_stale_after_append(spark, corpus, tmp_path):
    """ADVICE r4: a persisted spell table built before an append must NOT
    shadow the always-fresh dict-scan fallback — new dictionary terms
    have to be proposable immediately, and again from the table once it
    is rebuilt."""
    import pandas as pd

    from parser_indexer_spark.incremental import append_segment
    from parser_indexer_spark.search import Index
    from test_incremental import CFG

    root = str(tmp_path / "spellstale")
    append_segment(spark, root, spark.createDataFrame(corpus.iloc[:600]),
                   CFG)
    ix = Index(spark, root)
    ix.build_spell_index()
    assert "zzgadget" not in [r.term for r in
                              ix.spellcheck("zzgadgef").collect()]

    batch = corpus.iloc[:1].copy()
    batch["conv_id"] = "c_spell_new"
    batch["text"] = "zzgadget zzgadget calibration"
    append_segment(spark, root, spark.createDataFrame(batch), CFG)

    ix2 = Index(spark, root)           # fresh handle sees the new stats
    got = [r.term for r in ix2.spellcheck("zzgadgef").collect()]
    assert "zzgadget" in got, got      # stale table bypassed (dict scan)
    ix2.build_spell_index()            # rebuilt table is fresh again
    got2 = [r.term for r in ix2.spellcheck("zzgadgef").collect()]
    assert "zzgadget" in got2, got2
