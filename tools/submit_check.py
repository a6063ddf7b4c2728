"""spark-submit --py-files smoke: run the extraction pipeline AND the
real-MaxEnt-model lane with texoo_spark imported ONLY from the zip.

Usage:
    python tools/build_pyfiles.py
    cd /tmp && $SPARK_HOME/bin/spark-submit --master local[4] \
        --py-files /root/repo/texoo_spark.zip /root/repo/tools/submit_check.py
"""
import sys

# the repo root must NOT be importable (texoo_spark only via the zip);
# spark-submit auto-adds the script's own dir (tools/), which is fine
assert not any(p.rstrip("/") == "/root/repo" for p in sys.path), sys.path
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[4]")
         .appName("submit-check")
         .config("spark.sql.shuffle.partitions", "8").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import texoo_spark
assert "texoo_spark.zip" in texoo_spark.__file__, texoo_spark.__file__


# workers zip-import texoo_spark too, and importing it must replace the
# per-task zipimporter.invalidate_caches (texoo_spark/__init__.py)
def _worker_imports(_rows):
    import zipimport
    import texoo_spark
    yield (texoo_spark.__file__, zipimport.zipimporter.invalidate_caches.__module__)


seen = set(spark.sparkContext.parallelize(range(8), 8)
           .mapPartitions(_worker_imports).collect())
assert all("texoo_spark.zip" in f and m == "texoo_spark" for f, m in seen), seen

from texoo_spark.pipeline import run_extraction
import tempfile, os
out = tempfile.mkdtemp(prefix="submit_out_")
inp = os.path.join(out, "input")
spark.range(0, 2000).selectExpr(
    "concat('c', cast(id % 37 as string)) AS conv_id",
    "cast(id as int) AS turn_idx",
    "'user' AS role",
    "concat('Hello world number ', cast(id as string), '. Second sentence here.') AS text",
    "cast(null as string) AS tool",
    "timestamp_seconds(1700000000 + id) AS ts",
).write.parquet(inp)
r = run_extraction(spark, inp, os.path.join(out, "o"),
                   n_buckets=8, salt_buckets=2, use_arrow=True,
                   table_log=True)
assert r["n_turns"] == 2000, r

# real OpenNLP GIS model lane: resources materialized from the zip
from texoo_spark.maxent import maxent_tokenize_pos
toks = maxent_tokenize_pos("Dr. Smith's house-boat, arrived (yesterday).")
assert len(toks) >= 8, toks

# neural lanes must work WITHOUT the reference checkout: every input
# (CoNLL fixture, trigram vocab, annotator.xml, pre-trained weights) is
# bundled in the zip's resources/. Simulate a reference-less host by
# failing any open() under /root/reference.
import builtins
_real_open = builtins.open
def _no_reference_open(path, *a, **kw):
    if isinstance(path, str) and path.startswith("/root/reference"):
        raise FileNotFoundError(f"reference checkout blocked: {path}")
    return _real_open(path, *a, **kw)
builtins.open = _no_reference_open
try:
    from texoo_spark.tagger import train_conll_tagger
    tagger, enc = train_conll_tagger()   # loads bundled npz
    assert enc.size == 244
    spans = tagger.tag_tokens(["EU", "rejects", "German", "call"], [4])
    assert spans, "trained tagger produced no spans on CoNLL opener"
    from texoo_spark.bilstm import load_trigram_vocab, parse_annotator_xml
    assert len(load_trigram_vocab()) == 24665
    assert parse_annotator_xml()["nin"] == 24680
    from texoo_spark.sector import train_fixture_sector
    assert train_fixture_sector().p            # loads bundled npz
    from texoo_spark.bilstm import train_fixture_bilstm
    _m, _f, info = train_fixture_bilstm()     # loads bundled npz (f32)
    assert info["f1"] == 1.0, info
finally:
    builtins.open = _real_open
print("SUBMIT-CHECK-OK", r)
spark.stop()
