"""Spark tests for linking, annotator facade, conversation ops, dedup/knn."""

import numpy as np
import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark


@pytest.fixture(scope="session")
def spark():
    from texoo_spark.session import get_spark
    s = get_spark("texoo-ops-tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_normalize_alias_jvm_parity(spark):
    """The JVM normalization expression must agree with the Python twin
    on the shapes alias keys actually take: case, runs of mixed unicode
    whitespace (incl. NBSP and the U+001C-U+001F separators that Python's
    str.split treats as whitespace), leading/trailing space, diacritics."""
    from texoo_spark.linking import normalize_alias, normalize_alias_col
    cases = ["Paris", "  NEW   york ", "São Paulo", "a\tb\nc",
             "", "ALL CAPS  PHRASE", "tab\t\tsqueeze", "ümlaut Straße",
             "no\u00a0break\u00a0space", "fs\x1cgs\x1drs\x1eus\x1fend",
             "\x1f lead", "trail \x1c"]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got = [r.n for r in
           df.select(normalize_alias_col(F.col("s")).alias("n")).collect()]
    assert got == [normalize_alias(c) for c in cases]


def test_link_mentions(spark):
    from texoo_spark.linking import link_mentions, rerank_by_context
    mentions = spark.createDataFrame(
        [("c", 0, 0, 5, "Paris", [1.0, 0.0]),
         ("c", 0, 10, 16, "Berlin", [0.0, 1.0]),
         ("c", 1, 0, 4, "Nowhere", [1.0, 1.0])],
        "conv_id string, turn_idx int, begin int, end int, surface string,"
        " context_vec array<float>")
    aliases = spark.createDataFrame(
        [("paris", "Q90", 0.9), ("paris", "Q167646", 0.1),
         ("berlin", "Q64", 0.95)],
        "alias string, entity_id string, prior double")
    cands = link_mentions(mentions, aliases, top_k=2)
    rows = {(r.surface, r.cand_rank): r.entity_id for r in cands.collect()}
    assert rows[("Paris", 1)] == "Q90"
    assert rows[("Paris", 2)] == "Q167646"
    assert rows[("Berlin", 1)] == "Q64"
    assert rows[("Nowhere", 1)] is None

    vecs = {"Q90": np.array([1.0, 0.0]), "Q167646": np.array([0.0, 1.0]),
            "Q64": np.array([0.0, 1.0])}
    linked = rerank_by_context(cands.filter(F.col("entity_id").isNotNull()),
                               vecs)
    best = {r.surface: r.entity_id for r in linked.collect()}
    assert best["Paris"] == "Q90"   # context [1,0] prefers Q90
    assert best["Berlin"] == "Q64"


def test_pipeline_facade(spark):
    from texoo_spark.annotator import extraction_pipeline, gazetteer_annotator
    df = spark.createDataFrame(
        [("c", 0, "user", "Aspirin is a drug. Aspirin works.", None)],
        "conv_id string, turn_idx int, role string, text string, tool string")
    pipe = extraction_pipeline(strip_html=False)
    pipe.stages.append(gazetteer_annotator(["Aspirin", "drug"]))
    out = pipe.run(df).collect()[0]
    assert out.n_sentences == 2
    assert len(out.m_begin) == 3  # Aspirin x2 + drug
    prov = pipe.provenance()
    assert [s["name"] for s in prov["stages"]] == ["extract", "gazetteer"]
    assert prov["code_version"]


def test_rebase_turn_offsets(spark):
    from texoo_spark.conversation import rebase_turn_offsets
    df = spark.createDataFrame(
        [("c", 0, "abcde"), ("c", 1, "fgh"), ("c", 2, "ij"),
         ("d", 0, "xyz")],
        "conv_id string, turn_idx int, extracted_text string")
    rows = {(r.conv_id, r.turn_idx): (r.conv_begin, r.conv_end)
            for r in rebase_turn_offsets(df).collect()}
    # Document.append semantics: next turn starts at prev end + 1
    assert rows[("c", 0)] == (0, 5)
    assert rows[("c", 1)] == (6, 9)
    assert rows[("c", 2)] == (10, 12)
    assert rows[("d", 0)] == (0, 3)


def test_max_overlap_join(spark):
    from texoo_spark.conversation import max_overlap_join
    probes = spark.createDataFrame([(1, 5, 15)], "k int, p_begin int, p_end int")
    cands = spark.createDataFrame(
        [(1, 0, 8), (1, 8, 14), (1, 14, 30)],
        "k int, c_begin int, c_end int")
    row = max_overlap_join(probes, cands, ["k"]).collect()[0]
    assert (row.c_begin, row.c_end, row.overlap) == (8, 14, 6)


def test_exact_dedup(spark):
    from texoo_spark.dedup import dedup_exact, exact_duplicates
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")],
        "doc_id long, text string")
    dups = exact_duplicates(df).collect()
    assert len(dups) == 1
    assert dups[0].n_copies == 2 and dups[0].keep_id == 1
    kept = sorted(r.doc_id for r in dedup_exact(df).collect())
    assert kept == [1, 3]


def test_minhash_jaccard_semantics(spark):
    from texoo_spark.dedup import jaccard, minhash_signature
    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = a + " extra"
    sig_a = minhash_signature(a)
    sig_b = minhash_signature(b)
    est = float(np.mean(sig_a == sig_b))
    true = jaccard(a, b)
    assert abs(est - true) < 0.35  # 64 hashes: coarse but unbiased
    assert jaccard(a, a) == 1.0


def test_simhash_close_texts(spark):
    from texoo_spark.dedup import hamming64, simhash64
    a = "the quick brown fox jumps over the lazy dog " * 4
    b = a + "extra word"
    assert hamming64(simhash64(a), simhash64(b)) <= 8
    assert hamming64(simhash64(a), simhash64("completely different stuff "
                                             "about spark queries")) > 8


def test_brute_force_and_ivf_topk(spark):
    from texoo_spark.knn import brute_force_topk, ivf_assign, ivf_topk
    rng = np.random.RandomState(0)
    vecs = rng.randn(100, 8).astype(np.float32)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>")
    q = vecs[7].tolist()
    exact = [r.vec_id for r in brute_force_topk(df, q, k=5).collect()]
    assert exact[0] == 7  # self is nearest
    with_cells, cents = ivf_assign(df, n_cells=4)
    approx = [r.vec_id for r in
              ivf_topk(with_cells, cents, q, k=5, probes=4).collect()]
    assert approx == exact  # probes = all cells -> exact


def test_ngram_jaccard_pairs(spark):
    from texoo_spark.dedup import ngram_jaccard_pairs
    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog"),
         (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
         (2, "completely different words entirely here now"),
         (3, "the quick brown fox jumps over the lazy dog")],  # exact dup of 0
        "doc_id long, text string")
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in ngram_jaccard_pairs(docs, n=3, min_jaccard=0.3).collect()}
    # exact duplicate: jaccard 1.0
    assert pairs[(0, 3)] == 1.0
    # near dup: 9 words -> 7 grams each; 6 shared -> 6/(7+7-6) = 0.75
    assert pairs[(0, 1)] == 0.75
    assert pairs[(1, 3)] == 0.75
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_bm25_topk_golden(spark):
    """Hand-computed BM25 (k1=1.2, b=0.75, Robertson/Lucene idf):
    N=3, avgdl=3; idf(apple)=ln(8/3), idf(cherry)=ln(1.6)."""
    from texoo_spark.retrieval import bm25_topk
    docs = spark.createDataFrame(
        [(0, "apple banana apple"),
         (1, "banana cherry"),
         (2, "cherry cherry cherry durian")],
        "doc_id long, text string")
    queries = spark.createDataFrame([(0, "apple cherry")],
                                    "query_id long, query_text string")
    rows = bm25_topk(docs, queries, k=3).collect()
    got = {(r.query_id, r.doc_id): (r.rank, round(r.score, 4)) for r in rows}
    # d0: ln(8/3) * 2*2.2/(2+1.2*1.0)            = 1.3486
    # d2: ln(1.6) * 3*2.2/(3+1.2*(0.25+0.75*4/3)) = 0.6893
    # d1: ln(1.6) * 2.2/(1+1.2*(0.25+0.75*2/3))   = 0.5442
    assert got[(0, 0)] == (1, 1.3486)
    assert got[(0, 2)] == (2, 0.6893)
    assert got[(0, 1)] == (3, 0.5442)


def test_route_by_language_dispatch_and_fallback(spark):
    """A3 GenericMentionAnnotator routing: known languages dispatch to
    their annotator, unknown/NULL fall back to the default, every input
    row appears exactly once in the union."""
    from texoo_spark.annotator import Annotator, route_by_language
    df = spark.createDataFrame(
        [(0, "en"), (1, "de"), (2, "fr"), (3, None), (4, "en"), (5, "")],
        "doc_id long, lang string")

    def stamp(name):
        return Annotator(name, lambda d, name=name:
                         d.withColumn("route", F.lit(name)))

    out = route_by_language(df, {"en": stamp("en"), "de": stamp("de")},
                            default_lang="en", lang_col="lang")
    rows = {r.doc_id: r.route for r in out.collect()}
    assert rows == {0: "en", 1: "de", 2: "en", 3: "en", 4: "en", 5: "en"}
    assert out.count() == 6  # no row duplicated or dropped
