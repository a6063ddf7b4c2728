"""The benchmark workloads: inputs, the timed job, its follow-up, output
checks and the cumulative per-layer ledger.

A workload's ``job`` is what a user waits for: from the call until its
output is committed. ``ledger`` returns cumulative prefixes of the same
work, each ending in a ``noop`` sink, so that consecutive differences are
the self times of the layers the job passes through.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.probes import cumulative_ledger
from texoo_spark.annotator import (Pipeline, extract_annotator,
                                   gazetteer_annotator, linker_annotator,
                                   load_pipeline, release_annotator_caches,
                                   save_pipeline)
from texoo_spark.arrow_extract import extract_turns_arrow
from texoo_spark.html import looks_like_html, strip_html
from texoo_spark.linking import normalize_alias
from texoo_spark.pipeline import run_extraction
from texoo_spark.spans import GazetteerMatcher
from texoo_spark.textops import DISCARD, extract_document

# the columns bench.py's hot job writes
OUT_COLUMNS = ["conv_id", "turn_idx", "role", "tool", "ts",
               "extracted_text", "n_sentences", "n_tokens",
               "tok_begin", "tok_end",
               "sent_begin", "sent_end", "sent_tok_start", "sent_tok_end",
               "part_id"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def identity_batches(batches):
    """mapInArrow body that returns its input: isolates the JVM<->Python
    Arrow boundary from the extraction work."""
    yield from batches


def parquet_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f))
                     for f in files if f.endswith(".parquet"))
    return total


def reference_failures(rows: list[tuple[int, dict]], out_rows,
                       key: str) -> int:
    """Compare sampled output rows with the pure-Python reference lane
    (HTML strip, then textops.extract_document) on text and token
    offsets; a sampled row with no output row fails too."""
    got = {r[key]: r for r in out_rows}
    failed = 0
    for i, row in rows:
        r = got.get(i)
        t = row["text"]
        if looks_like_html(t):
            t = strip_html(t)["main_text"]
        exp = extract_document(t, DISCARD)
        ok = (r is not None
              and r.get("conv_id") == row.get("conv_id")
              and r["extracted_text"] == exp.text
              and list(r["tok_begin"]) == [k.begin for k in exp.tokens]
              and list(r["tok_end"]) == [k.end for k in exp.tokens])
        failed += not ok
    return failed


class MixExtract:
    """bench.py's batch job over the four-variant transcript mix: scan ->
    sortWithinPartitions(conv_id, turn_idx) -> extract_turns_arrow ->
    parquet write."""

    name = "mix_extract"
    n = 16000          # input turns
    sample = 200       # turns compared with the reference lane
    micro = 1000       # turns of the in-process microbench

    def __init__(self, work: str):
        self.input = os.path.join(work, "input")
        self.out = os.path.join(work, "out")
        self.ledger_out = os.path.join(work, "ledger_out")
        self.rows: list[dict] = []

    def rows_for(self, seed: int) -> list[dict]:
        return gen.mix_turns(seed, self.n)

    def prepare(self, seed: int) -> None:
        """Seeded input generation (part of set-up)."""
        shutil.rmtree(self.input, ignore_errors=True)
        self.rows = self.rows_for(seed)
        gen.write_table(self.rows, gen.TRANSCRIPT_SCHEMA, self.input)

    def reset(self) -> None:
        """Untimed: remove the previous run's outputs."""
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.rmtree(self.ledger_out, ignore_errors=True)

    def _sorted(self, spark):
        return (spark.read.parquet(self.input)
                .sortWithinPartitions("conv_id", "turn_idx"))

    def _extracted(self, spark):
        return extract_turns_arrow(self._sorted(spark)).select(*OUT_COLUMNS)

    def _write(self, spark, path: str) -> None:
        self._extracted(spark).write.mode("overwrite").parquet(path)

    def job(self, spark) -> None:
        self._write(spark, self.out)

    def follow_up(self, spark, counter=None) -> dict:
        """Untimed work that completes one operation; returns per-layer
        figures and the number of failed checks."""
        return {"failed": 0}

    def job_layers(self, jobs: int, job_s: float, ledger_s: float) -> dict:
        """Per-layer figures derived from the traced job."""
        return {}

    def output_bytes(self) -> int:
        return parquet_bytes(self.out)

    def input_bytes(self) -> int:
        return gen.text_bytes(self.rows)

    def turns_path(self) -> str:
        return self.out

    def check(self, spark) -> tuple[int, int]:
        """(attempted, failed) checks of the last committed output: every
        input turn is there once, and sampled turns equal the reference
        lane."""
        idx = list(range(0, self.n, self.n // self.sample))
        out = spark.read.parquet(self.turns_path())
        got = [r.asDict() for r in out.filter(F.col("turn_idx").isin(idx))
               .select("conv_id", "turn_idx", "extracted_text",
                       "tok_begin", "tok_end").collect()]
        failed = reference_failures([(i, self.rows[i]) for i in idx], got,
                                    "turn_idx")
        keys = sorted(tuple(r) for r in
                      out.select("conv_id", "turn_idx").collect())
        failed += keys != sorted((r["conv_id"], r["turn_idx"])
                                 for r in self.rows)
        return len(idx) + 1, failed

    def ledger(self, spark):
        def identity():
            df = self._sorted(spark)
            return df.mapInArrow(identity_batches, df.schema)

        return [
            ("spark.scan_s", lambda: _noop(spark.read.parquet(self.input))),
            ("spark.sort_s", lambda: _noop(self._sorted(spark))),
            ("arrow_extract.boundary_s", lambda: _noop(identity())),
            ("arrow_extract.extract_s", lambda: _noop(self._extracted(spark))),
            ("spark.write_s", lambda: self._write(spark, self.ledger_out)),
        ]

    def extra_layers(self, spark):
        """Layers measured only in the traced run, apart from the job:
        (per-layer metrics, attempted, failed)."""
        return {}, 0, 0

    def arrow_batches(self, k: int) -> list:
        """The first k input rows as the RecordBatches mapInArrow gets."""
        t = pa.Table.from_pylist(self.rows[:k], gen.TRANSCRIPT_SCHEMA)
        return t.to_batches(max_chunksize=1000)


class ChatCommit(MixExtract):
    """pipeline.run_extraction on the Arrow lane with spans, over short
    single-sentence turns, into a fresh output, followed by a resume call
    that must skip every part. The traced run also measures the annotator
    layers on the same turns."""

    name = "chat_commit"
    n = 5000
    buckets = 4        # ~1250 turns a part at this input size

    def __init__(self, work: str):
        super().__init__(work)
        self.parts = 0
        self.turns_done = 0
        self.annotator = AnnotatorLayers(work)

    def rows_for(self, seed: int) -> list[dict]:
        return gen.chat_turns(seed, self.n)

    def _run(self, spark) -> dict:
        return run_extraction(spark, self.input, self.out,
                              n_buckets=self.buckets, use_arrow=True,
                              write_spans=True)

    def job(self, spark) -> None:
        summary = self._run(spark)
        self.parts = summary["processed_parts"]
        self.turns_done = summary["n_turns"]

    def follow_up(self, spark, counter=None) -> dict:
        if counter is None:
            t0 = time.perf_counter()
            summary = self._run(spark)
            dt, jobs = time.perf_counter() - t0, 0
        else:
            summary, dt, jobs, _stages, _group = counter.run(self._run, spark)
        failed = (self.turns_done != self.n
                  or summary["processed_parts"] != 0
                  or summary["skipped_parts"] != self.parts)
        return {"failed": int(failed), "pipeline.resume_s": dt,
                "pipeline.resume_jobs": jobs,
                "pipeline.skipped_parts_frac":
                    summary["skipped_parts"] / max(self.parts, 1)}

    def job_layers(self, jobs: int, job_s: float, ledger_s: float) -> dict:
        return {"pipeline.run_jobs": jobs,
                "pipeline.commit_s": job_s - ledger_s}

    def turns_path(self) -> str:
        return os.path.join(self.out, "turns")

    def check(self, spark) -> tuple[int, int]:
        attempted, failed = super().check(spark)
        manifest = spark.read.parquet(os.path.join(self.out, "_manifest"))
        failed += manifest.agg(F.sum("n_turns")).first()[0] != self.n
        return attempted + 1, failed

    def extra_layers(self, spark):
        return self.annotator.measure(spark, self.rows)


# the annotator bundle's gazetteer and alias table: terms with and without
# an alias, so linked mentions are a strict share of gazetteer matches
TERMS = ["hash join", "big data", "column vector", "sort order", "spark",
         "stream", "window", "query", "customer"]
ALIASES = [["spark", "E1", 0.9], ["Spark", "E2", 0.1],
           ["hash join", "E3", 0.8], ["stream", "E4", 0.7],
           ["window", "E5", 0.6], ["big data", "E6", 0.5]]


class AnnotatorLayers:
    """The annotator, udfs gazetteer and linking layers: a saved-and-reloaded
    extract -> gazetteer -> linker bundle over chat-sized documents with a
    unique doc_id (the first ``n`` chat turns)."""

    n = 4000
    sample = 200

    def __init__(self, work: str):
        self.input = os.path.join(work, "annotator_input")
        self.out = os.path.join(work, "annotator_out")
        self.bundle = os.path.join(work, "bundle.json")
        self.rows: list[dict] = []
        self.pipeline: Pipeline | None = None

    def _prefix(self, spark, k: int):
        return Pipeline(self.pipeline.stages[:k]).run(
            spark.read.parquet(self.input))

    def _noop_prefix(self, spark, k: int):
        def run():
            _noop(self._prefix(spark, k))
            release_annotator_caches()
        return run

    def measure(self, spark, turns: list[dict]):
        """Returns (per-layer metrics, attempted, failed)."""
        self.rows = [{"doc_id": r["turn_idx"], "text": r["text"]}
                     for r in turns[:self.n]]
        gen.write_table(self.rows, gen.DOCS_SCHEMA, self.input)
        save_pipeline(Pipeline([extract_annotator(),
                                gazetteer_annotator(TERMS),
                                linker_annotator(ALIASES)]), self.bundle)
        self.pipeline = load_pipeline(self.bundle)
        m, _total = cumulative_ledger(
            [(name, self._noop_prefix(spark, k)) for k, name in
             enumerate(["annotator.scan_s", "annotator.extract_s",
                        "annotator.gazetteer_s", "annotator.linker_s"])])
        del m["annotator.scan_s"]
        self._prefix(spark, 3).write.mode("overwrite").parquet(self.out)
        # caches the linker stage still holds after its output was written
        m["annotator.leaked_caches"] = release_annotator_caches()
        out = spark.read.parquet(self.out)
        linked, matched = out.agg(F.sum("n_linked"),
                                  F.sum(F.size("m_begin"))).first()
        m["linking.link_ratio"] = linked / max(matched, 1)
        attempted, failed = self.check(out)
        return m, attempted, failed

    def check(self, out) -> tuple[int, int]:
        """Sampled match and link counts against a pure-Python replay
        (textops.extract_document + spans.GazetteerMatcher + the alias
        keys), plus the reference-lane text and offsets."""
        idx = list(range(0, self.n, self.n // self.sample))
        got = [r.asDict() for r in out.filter(F.col("doc_id").isin(idx))
               .select("doc_id", "extracted_text", "tok_begin", "tok_end",
                       "m_begin", "n_linked").collect()]
        by_id = {r["doc_id"]: r for r in got}
        failed = reference_failures([(i, self.rows[i]) for i in idx], got,
                                    "doc_id")
        matcher = GazetteerMatcher(TERMS)
        keys = {normalize_alias(a) for a, _e, _p in ALIASES}
        for i in idx:
            exp = extract_document(self.rows[i]["text"], DISCARD)
            found = matcher.match(exp.text, [k.begin for k in exp.tokens],
                                  [k.end for k in exp.tokens])
            linked = sum(normalize_alias(exp.text[b:e]) in keys
                         for b, e, _l in found)
            r = by_id.get(i)
            failed += (r is None or len(r["m_begin"]) != len(found)
                       or r["n_linked"] != linked)
        return 2 * len(idx), failed


WORKLOADS = {w.name: w for w in (MixExtract, ChatCommit)}
