"""Spark integration tests: per-turn extraction equality against the pure
Python reference implementation, pipeline resume from manifests, spans.

These need a local SparkSession (session-scoped; slower than the unit
suites, still < 2 min)."""

import os
import shutil

import pytest

from texoo_spark import textops

pytestmark = pytest.mark.spark


@pytest.fixture(scope="session")
def spark():
    from texoo_spark.session import get_spark
    s = get_spark("texoo-tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_turns(spark):
    """Transcript table built from the reference golden strings (F1)."""
    from tests.test_textops import DEMENTIA, DE_TEXT, MED_TEXT, TAB_TEXT
    rows = []
    strings = [
        DEMENTIA, MED_TEXT, DE_TEXT, TAB_TEXT,
        "sentence.\n\nEEG:\nEEG Lorem ipsum dolor",
        "They describe the process in three stages:\n1. Adaptive stage.",
        "Nearing the coast of Mexico, the depression attained its peak "
        "intensity with winds of 35 mph (55 km/h) and a minimum pressure "
        "of 1,007 mbar (29.7 inHg).",
        # first token off offset 0: extracted_text starts at tok_begin[0]
        "  Hello world. Leading spaces shift every offset.",
        "\nLeading newline.\n\nThen a blank line.",
    ]
    for i, text in enumerate(strings):
        rows.append((f"conv-{i % 3}", i, "user", text, None))
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string")


def test_per_turn_text_equality(spark, fixture_turns):
    """THE correctness contract: extracted_text from the Spark pipeline
    equals the pure-Python reference reconstruction for every turn."""
    from texoo_spark.pipeline import extract_turns
    out = extract_turns(fixture_turns, newlines=textops.DISCARD,
                        strip_html_first=False).collect()
    assert len(out) == 9
    for row in out:
        expected = textops.extract_document(row.text, textops.DISCARD)
        assert row.extracted_text == expected.text, row.text[:40]
        assert row.n_sentences == len(expected.sentences)
        assert row.n_tokens == len(expected.tokens)
        # offsets, rebased to the first token, slice the extracted text
        # back to the reference token surfaces (tok_text is JVM-derived)
        base = row.tok_begin[0] if row.tok_begin else 0
        assert row.tok_text == [t.text for t in expected.tokens]
        for t, b, e in zip(row.tok_text, row.tok_begin, row.tok_end):
            assert row.extracted_text[b - base:e - base] == t


def test_extract_keep_mode(spark, fixture_turns):
    from texoo_spark.pipeline import extract_turns
    out = extract_turns(fixture_turns, newlines=textops.KEEP,
                        strip_html_first=False).collect()
    for row in out:
        expected = textops.extract_document(row.text, textops.KEEP)
        assert row.extracted_text == expected.text


def test_html_turns_extracted(spark):
    from texoo_spark.pipeline import extract_turns
    para = ("Several specific diagnostic criteria can be used to diagnose "
            "vascular dementia, including the DSM-IV and ICD-10 criteria.")
    html = (f"<html><body><nav><a href='/x'>nav link text</a></nav>"
            f"<p>{para}</p><footer>copyright</footer></body></html>")
    df = spark.createDataFrame(
        [("c1", 0, "user", html, None)],
        "conv_id string, turn_idx int, role string, text string, tool string")
    row = extract_turns(df).collect()[0]
    assert row.extracted_text == para
    assert "nav link" not in row.extracted_text


def test_spans_long(spark, fixture_turns):
    from texoo_spark.pipeline import extract_turns, spans_long
    spans = spans_long(extract_turns(fixture_turns,
                                     strip_html_first=False))
    rows = spans.collect()
    assert all(r.ann_type == "SENTENCE" for r in rows)
    med_rows = [r for r in rows if r.turn_idx == 1]
    assert len(med_rows) == 2  # medText has 2 sentences
    assert med_rows[0].begin == 0
    assert med_rows[1].begin == 152


def test_run_extraction_resume(spark, fixture_turns, tmp_path_factory):
    """Manifests make the job resumable: a second run processes nothing."""
    from texoo_spark.pipeline import run_extraction
    base = str(tmp_path_factory.mktemp("pipe"))
    inp = os.path.join(base, "input")
    outp = os.path.join(base, "out")
    fixture_turns.withColumn("ts", __import__("pyspark.sql.functions",
                                              fromlist=["F"]).lit(None)
                             .cast("timestamp")) \
        .write.parquet(inp)
    r1 = run_extraction(spark, inp, outp, n_buckets=4, salt_buckets=2)
    assert r1["processed_parts"] >= 1
    assert r1["n_turns"] == 9
    r2 = run_extraction(spark, inp, outp, n_buckets=4, salt_buckets=2)
    assert r2["processed_parts"] == 0
    assert r2["skipped_parts"] == r1["processed_parts"]
    # manifest carries lineage + metrics
    mani = spark.read.parquet(os.path.join(outp, "_manifest")).collect()
    assert all(m.status == "done" for m in mani)
    assert sum(m.n_turns for m in mani) == 9
    assert all(m.input_path == inp for m in mani)
    # typed spans table written alongside (north_rule contract)
    spans = spark.read.parquet(os.path.join(outp, "spans"))
    assert spans.count() > 0
    assert {f.name for f in spans.schema.fields} >= {
        "conv_id", "turn_idx", "span_seq", "ann_type", "source",
        "begin", "end", "confidence"}
    shutil.rmtree(base, ignore_errors=True)


def test_gazetteer_udf_spark(spark):
    from pyspark.sql import functions as F
    from texoo_spark.pipeline import extract_turns
    from texoo_spark.udfs import make_gazetteer_udf
    from tests.test_spans import IMMUNO, TERMS
    df = spark.createDataFrame(
        [("c", 0, "user", IMMUNO, None)],
        "conv_id string, turn_idx int, role string, text string, tool string")
    ext = extract_turns(df, strip_html_first=False)
    gaz = make_gazetteer_udf(TERMS, "CASE_SENSITIVE")
    row = (ext.withColumn("m", gaz(F.col("extracted_text"),
                                   F.col("tok_begin"), F.col("tok_end")))
           .select(F.size("m.m_begin").alias("n")).collect()[0])
    assert row.n == 8  # MatchingAnnotatorTest.testCaseSensitive


def test_arrow_lane_matches_pandas_lane(spark, fixture_turns):
    """Adapter vs adapter: the mapInArrow hot lane (extract_turns_arrow)
    must equal extract_turns (the scalar arrow_udf) on the reference
    fixture strings, row for row, including order preservation."""
    from pyspark.sql import functions as F
    from texoo_spark.arrow_extract import extract_turns_arrow
    from texoo_spark.pipeline import extract_turns, with_part_id
    src = (with_part_id(fixture_turns, n_buckets=4, salt_buckets=2)
           .withColumn("ts", F.lit(None).cast("timestamp")))
    udf_rows = {(r.conv_id, r.turn_idx): r
                for r in extract_turns(src).collect()}
    arrow_rows = extract_turns_arrow(
        src.sortWithinPartitions("conv_id", "turn_idx")).collect()
    assert len(arrow_rows) == len(udf_rows)
    for r in arrow_rows:
        p = udf_rows[(r.conv_id, r.turn_idx)]
        assert r.extracted_text == p.extracted_text
        assert r.n_tokens == p.n_tokens and r.n_sentences == p.n_sentences
        assert r.tok_begin == p.tok_begin and r.tok_end == p.tok_end
        assert r.sent_begin == p.sent_begin and r.sent_end == p.sent_end
        assert (r.sent_tok_start == p.sent_tok_start
                and r.sent_tok_end == p.sent_tok_end)


# rows that break naive offset handling: nulls, empties, leading
# whitespace, newline runs (DISCARD shifts offsets), tabs, NBSP, the
# U+001C-U+001F separators, HTML, non-BMP characters
HOSTILE = [None, "", "   ", "\n\n\n", "  Hello world.", "\nHeader\n\nBody.",
           "a\tb\u00a0c. Next one!", "x\x1cy\x1dz\x1e. w\x1fv",
           "<html><body><p>Main paragraph with enough words to be kept as "
           "content by the boilerplate classifier here.</p></body></html>",
           "emoji \U0001F600 after. \u00e9t\u00e9 \u2014 done",
           "Dr. Smith (b. 1970) said: \"no\"\n\n\n\nEnd."]


@pytest.mark.parametrize("mode", [textops.KEEP, textops.DISCARD])
def test_adapters_match_reference_on_hostile_rows(spark, mode):
    """Both adapters of the extraction kernel on fixed hostile rows: the
    offsets and extracted text equal the reference twin
    (textops.extract_arrays, after the same HTML strip), and the JVM-side
    tok_text of extract_turns equals the reference token surfaces."""
    from pyspark.sql import functions as F
    from texoo_spark.arrow_extract import extract_turns_arrow
    from texoo_spark.html import looks_like_html, strip_html
    from texoo_spark.pipeline import extract_turns
    df = (spark.createDataFrame(
        [("c", i, "user", t, None, 0) for i, t in enumerate(HOSTILE)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, part_id int")
        .withColumn("ts", F.lit(None).cast("timestamp")))
    by_udf = {r.turn_idx: r for r in
              extract_turns(df, newlines=mode).collect()}
    by_map = {r.turn_idx: r for r in
              extract_turns_arrow(df, newlines=mode).collect()}
    assert sorted(by_udf) == sorted(by_map) == list(range(len(HOSTILE)))
    for i, text in enumerate(HOSTILE):
        text = text or ""
        if looks_like_html(text):
            text = strip_html(text)["main_text"]
        toks, begins, ends, sents, extracted = textops.extract_arrays(
            text, mode)
        u, m = by_udf[i], by_map[i]
        assert u.tok_text == toks, i
        for r in (u, m):
            assert r.extracted_text == extracted, i
            assert r.n_tokens == len(toks) and r.n_sentences == len(sents)
            assert r.tok_begin == begins and r.tok_end == ends
            assert [tuple(s) for s in zip(r.sent_begin, r.sent_end,
                                          r.sent_tok_start,
                                          r.sent_tok_end)] == sents


def test_run_extraction_arrow_lane(spark, fixture_turns, tmp_path_factory):
    from pyspark.sql import functions as F
    from texoo_spark.pipeline import run_extraction
    out = str(tmp_path_factory.mktemp("arrow_lane"))
    inp = str(tmp_path_factory.mktemp("arrow_in")) + "/turns"
    (fixture_turns.withColumn("ts", F.lit(None).cast("timestamp"))
     .write.parquet(inp))
    s1 = run_extraction(spark, inp, out, n_buckets=4, salt_buckets=2,
                        use_arrow=True)
    assert s1["n_turns"] == fixture_turns.count()
    s2 = run_extraction(spark, inp, out, n_buckets=4, salt_buckets=2,
                        use_arrow=True)
    assert s2["processed_parts"] == 0 and s2["skipped_parts"] >= 1


def test_salting_spreads_skewed_conversation(spark):
    """A single long conversation must spread over salt_buckets partitions
    in contiguous 64-turn blocks (skew bound), while short conversations
    stay in one bucket (locality)."""
    from pyspark.sql import functions as F
    from texoo_spark.pipeline import with_part_id
    rows = ([("conv-long", i) for i in range(1000)]
            + [("conv-short", i) for i in range(10)])
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int")
    parts = (with_part_id(df, n_buckets=32, salt_buckets=4)
             .groupBy("conv_id")
             .agg(F.countDistinct("part_id").alias("n_parts"))
             .collect())
    got = {r.conv_id: r.n_parts for r in parts}
    assert got["conv-long"] == 4      # bounded spread, not 1, not 32
    assert got["conv-short"] == 1     # short conv keeps locality
    # block contiguity: every 64-turn block lands in exactly one part
    blocks = (with_part_id(df, n_buckets=32, salt_buckets=4)
              .filter(F.col("conv_id") == "conv-long")
              .groupBy(F.floor(F.col("turn_idx") / 64).alias("block"))
              .agg(F.countDistinct("part_id").alias("p"))
              .collect())
    assert all(r.p == 1 for r in blocks)


def test_curation_pipeline(spark, tmp_path_factory):
    """extract -> quality filter -> exact dedup -> near dedup funnel."""
    from pyspark.sql import functions as F
    from texoo_spark import curate
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away to the hills")
    rows = []
    for i in range(6):                      # 6 exact copies -> 1 survivor
        rows.append((f"c{i}", 0, "user", base, None))
    rows.append(("n0", 0, "user", base + " tonight", None))  # near-dup
    rows.append(("q0", 0, "user", "too short", None))        # quality drop
    rows.append(("q1", 0, "user", "1 2 3 4 5 6 7 8 9 10 11", None))  # digits
    rows.append(("k0", 0, "user",
                 "a completely different sentence with the usual stopwords "
                 "that is long enough to keep for training data", None))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string,"
              " tool string").withColumn("ts", F.lit(None).cast("timestamp"))
    inp = str(tmp_path_factory.mktemp("curate_in")) + "/turns"
    out = str(tmp_path_factory.mktemp("curate_out"))
    from texoo_spark.pipeline import with_part_id
    with_part_id(df, n_buckets=4).write.parquet(inp)
    funnel = curate.run(spark, inp, out, min_words=5)
    assert funnel["input"] == 10
    assert funnel["after_quality"] == 8        # 2 quality drops
    assert funnel["after_exact_dedup"] == 3    # 6 copies -> 1
    assert funnel["after_near_dedup"] == 2     # near-dup suppressed
    kept = {r.conv_id for r in
            spark.read.parquet(out + "/curated").collect()}
    assert "k0" in kept and len(kept) == 2
    fun = spark.read.parquet(out + "/_funnel").collect()[0]
    assert fun.after_near_dedup == 2


def test_arrow_lane_edge_rows(spark):
    """Null text, empty text, whitespace-only, giant turn, unicode: the
    hot lane must not drop or corrupt any row."""
    from pyspark.sql import functions as F
    from texoo_spark.arrow_extract import extract_turns_arrow
    from texoo_spark.pipeline import with_part_id
    big = ("word " * 20000).strip()          # ~100k chars single turn
    rows = [("c", 0, "user", None, None),
            ("c", 1, "user", "", None),
            ("c", 2, "user", "   \n\t  ", None),
            ("c", 3, "user", big, None),
            ("c", 4, "user", "héllo wörld — naïve café. Ünicode?", None)]
    df = (spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string,"
              " tool string")
        .withColumn("ts", F.lit(None).cast("timestamp")))
    out = {r.turn_idx: r for r in extract_turns_arrow(
        with_part_id(df, n_buckets=2)
        .sortWithinPartitions("conv_id", "turn_idx")).collect()}
    assert len(out) == 5
    assert out[0].extracted_text == "" and out[0].n_tokens == 0
    assert out[1].extracted_text == "" and out[1].n_tokens == 0
    assert out[2].n_tokens == 0
    assert out[3].n_tokens == 20000
    assert out[3].extracted_text == big
    assert out[4].n_tokens > 0
    r4 = out[4]
    for b, e in zip(r4.tok_begin, r4.tok_end):
        assert 0 <= b < e <= len(r4.extracted_text)


def test_run_extraction_table_log_sink(spark, fixture_turns,
                                       tmp_path_factory):
    """table_log=True: every output committed through the versioned table
    format — one atomic snapshot per run per table, resume reads the
    committed manifest, results identical to the plain-parquet sink."""
    from texoo_spark.pipeline import run_extraction
    from texoo_spark.tablelog import TableLog
    base = str(tmp_path_factory.mktemp("pipetl"))
    inp = os.path.join(base, "input")
    fixture_turns.withColumn("ts", __import__("pyspark.sql.functions",
                                              fromlist=["F"]).lit(None)
                             .cast("timestamp")) \
        .write.parquet(inp)
    plain, versioned = os.path.join(base, "out_p"), os.path.join(base, "out_t")
    rp = run_extraction(spark, inp, plain, n_buckets=4, salt_buckets=2)
    r1 = run_extraction(spark, inp, versioned, n_buckets=4, salt_buckets=2,
                        table_log=True)
    assert r1["n_turns"] == rp["n_turns"] == 9
    turns_t = TableLog(os.path.join(versioned, "turns"))
    # identical rows to the plain sink
    key = ["conv_id", "turn_idx"]
    a = sorted((r.conv_id, r.turn_idx, r.extracted_text) for r in
               turns_t.read(spark).collect())
    b = sorted((r.conv_id, r.turn_idx, r.extracted_text) for r in
               spark.read.parquet(os.path.join(plain, "turns")).collect())
    assert a == b
    # one committed snapshot per table; resume processes nothing and
    # commits nothing new
    assert [h["op"] for h in turns_t.history()] == ["append"]
    r2 = run_extraction(spark, inp, versioned, n_buckets=4, salt_buckets=2,
                        table_log=True)
    assert r2["processed_parts"] == 0
    assert [h["op"] for h in turns_t.history()] == ["append"]
    mani_t = TableLog(os.path.join(versioned, "_manifest"))
    mani = mani_t.read(spark).collect()
    assert all(m.status == "done" for m in mani)
    assert sum(m.n_turns for m in mani) == 9
    assert TableLog(os.path.join(versioned, "spans")).read(spark).count() \
        == spark.read.parquet(os.path.join(plain, "spans")).count()
    shutil.rmtree(base, ignore_errors=True)
