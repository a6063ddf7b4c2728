"""The extraction kernel and its mapInArrow adapter.

``extract_batch`` is the one place raw turn text becomes the extraction
columns: fused HTML-strip + sentence/token segmentation per text, with
offset arrays accumulated into flat int32 buffers that become ListArrays
via ListArray.from_arrays (one allocation per batch). Both Spark lanes
call it: ``extract_turns_arrow`` below (a mapInArrow over the transcript
columns, passthrough columns zero-copy) and ``pipeline.extract_turns`` (a
scalar arrow_udf over ``text`` alone).

Row order within each partition is preserved (mapInArrow is a streaming
per-partition map), so sortWithinPartitions(conv_id, turn_idx) BEFORE
extract_turns_arrow yields stably ordered output — the BASELINE ordering
contract.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import IntegerType, StructField, StructType

from texoo_spark import textops
from texoo_spark.html import looks_like_html, strip_html
from texoo_spark.schema import EXTRACT_LEAN_SCHEMA, TRANSCRIPT_SCHEMA

# kernel output columns, in output order
EXTRACT_COLUMNS = EXTRACT_LEAN_SCHEMA.fieldNames()

# transcript columns minus the raw text, plus part_id, then the kernel's
ARROW_EXTRACT_SCHEMA = StructType(
    [f for f in TRANSCRIPT_SCHEMA.fields if f.name != "text"]
    + [StructField("part_id", IntegerType())]
    + EXTRACT_LEAN_SCHEMA.fields)
_PASS = ARROW_EXTRACT_SCHEMA.fieldNames()[:-len(EXTRACT_COLUMNS)]


def extract_batch(texts: pa.Array, newlines: str = textops.DISCARD,
                  strip_html_first: bool = True) -> list[pa.Array]:
    """Segment every text of ``texts`` (null counts as ""); returns the
    EXTRACT_COLUMNS arrays, one row per input text.

    Token and sentence offsets index the (HTML-stripped) input text;
    extracted_text starts at the first token, so token i's surface is
    extracted_text[tok_begin[i] - tok_begin[0]:tok_end[i] - tok_begin[0]].
    """
    extract = textops.extract_arrays_lean
    int32 = pa.int32()
    nrows = len(texts)
    ext_texts: list = [None] * nrows
    ns = np.empty(nrows, np.int32)
    nt = np.empty(nrows, np.int32)
    tb_flat: list[int] = []
    te_flat: list[int] = []
    t_off = np.empty(nrows + 1, np.int32)
    t_off[0] = 0
    sb_flat: list[int] = []
    se_flat: list[int] = []
    sts_flat: list[int] = []
    ste_flat: list[int] = []
    s_off = np.empty(nrows + 1, np.int32)
    s_off[0] = 0
    for i, t in enumerate(texts.to_pylist()):
        t = t or ""
        if strip_html_first and looks_like_html(t):
            t = strip_html(t)["main_text"]
        _, begins, ends, sents, ext = extract(t, newlines)
        ext_texts[i] = ext
        ns[i] = len(sents)
        nt[i] = len(begins)
        tb_flat.extend(begins)
        te_flat.extend(ends)
        t_off[i + 1] = len(tb_flat)
        for s in sents:
            sb_flat.append(s[0])
            se_flat.append(s[1])
            sts_flat.append(s[2])
            ste_flat.append(s[3])
        s_off[i + 1] = len(sb_flat)

    t_offsets = pa.array(t_off, int32)
    s_offsets = pa.array(s_off, int32)

    def lst(offsets, vals):
        return pa.ListArray.from_arrays(
            offsets, pa.array(np.asarray(vals, np.int32), int32))

    return [pa.array(ext_texts, pa.string()),
            pa.array(ns, int32), pa.array(nt, int32),
            lst(t_offsets, tb_flat), lst(t_offsets, te_flat),
            lst(s_offsets, sb_flat), lst(s_offsets, se_flat),
            lst(s_offsets, sts_flat), lst(s_offsets, ste_flat)]


def _make_mapper(newlines: str, strip_html_first: bool):
    def mapper(batches):
        for batch in batches:
            names = batch.schema.names
            arrays = ([batch.column(names.index(nm)) for nm in _PASS]
                      + extract_batch(batch.column(names.index("text")),
                                      newlines, strip_html_first))
            yield pa.RecordBatch.from_arrays(
                arrays, names=_PASS + EXTRACT_COLUMNS)

    return mapper


def extract_turns_arrow(df: DataFrame, newlines: str = textops.DISCARD,
                        strip_html_first: bool = True) -> DataFrame:
    """The extraction kernel as a mapInArrow over transcript rows.

    Input must carry the transcript columns (conv_id, turn_idx, role, text,
    tool, ts) plus part_id; output drops the raw text column (the cleaned
    extracted_text replaces it — the extraction contract) and carries no
    tok_text.
    """
    return df.mapInArrow(_make_mapper(newlines, strip_html_first),
                         ARROW_EXTRACT_SCHEMA)
