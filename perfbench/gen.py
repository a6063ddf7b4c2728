"""Seeded input generation for the benchmark workloads.

Text is drawn the way the repo's ``documents`` test table is built: words
taken uniformly from a 30-word vocabulary, 10 to 100 words per document,
single spaces, no punctuation. The benchmark cannot read test data outside
its checkout, so it regenerates documents of that shape from ``--seed``.

Every generator is a pure function of (seed, size): the same seed gives
byte-identical tables. Structure (variant mix, conversation ids, turn
indices) depends only on the row index, so work per run stays comparable
across seeds while the text changes.
"""

from __future__ import annotations

import datetime
import os
import random
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("part_id", pa.int32()),
])

DOCS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

# transcript layout: hash(conv_id) buckets, long conversations salted over
# adjacent buckets by 64-turn blocks (the shape pipeline.with_part_id gives)
BUCKETS = 16
SALT_BUCKETS = 4
SKEW_EVERY = 7

_NAV = ('<html><head><title>t</title></head><body><nav>'
        '<a href="/a">home</a> <a href="/b">about</a> '
        '<a href="/c">contact</a> <a href="/d">more</a></nav>')
_FOOTER = ('<footer><a href="/i">imprint</a> legal notice'
           '</footer></body></html>')
_EPOCH = datetime.datetime(2023, 11, 14, 22, 13, 20,
                           tzinfo=datetime.timezone.utc)


def document(rng: random.Random, lo: int = 10, hi: int = 100) -> str:
    return " ".join(rng.choices(VOCAB, k=rng.randint(lo, hi)))


def _part_id(conv_id: str, turn_idx: int) -> int:
    base = zlib.crc32(conv_id.encode()) % BUCKETS
    return (base + (turn_idx // 64) % SALT_BUCKETS) % BUCKETS


def _turn_row(i: int, conv_id: str, text: str) -> dict:
    role = ("user", "assistant", "tool")[i % 3]
    return {"conv_id": conv_id, "turn_idx": i, "role": role, "text": text,
            "tool": "browser" if role == "tool" else None,
            "ts": _EPOCH + datetime.timedelta(minutes=i),
            "part_id": _part_id(conv_id, i)}


def mix_turns(seed: int, n: int) -> list[dict]:
    """The four-variant transcript mix: plain, two extra sentences, a
    newline header, HTML-wrapped; every 7th turn joins one long
    ``conv-skew`` conversation."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        text = document(rng)
        variant = i % 4
        if variant == 1:
            text += " end. Stop now."
        elif variant == 2:
            text = "Header line\n" + text
        elif variant == 3:
            text = f"{_NAV}<div><p>{text}</p></div>{_FOOTER}"
        conv = "conv-skew" if i % SKEW_EVERY == 0 else f"conv-{i // 8}"
        rows.append(_turn_row(i, conv, text))
    return rows


def chat_turns(seed: int, n: int) -> list[dict]:
    """Short single-sentence plain turns: no HTML, no newline."""
    rng = random.Random(seed)
    return [_turn_row(i, f"conv-{i // 8}", document(rng, 6, 16))
            for i in range(n)]


def write_table(rows: list[dict], schema: pa.Schema, path: str) -> None:
    """Write rows as BUCKETS parquet files. Transcript rows are clustered
    by part_id (one bucket per file), the layout an ingest job would
    leave, so the extraction job itself needs no shuffle."""
    os.makedirs(path)
    if "part_id" in schema.names:
        groups: list[list[dict]] = [[] for _ in range(BUCKETS)]
        for r in rows:
            groups[r["part_id"]].append(r)
    else:
        step = -(-len(rows) // BUCKETS)
        groups = [rows[k:k + step] for k in range(0, len(rows), step)]
    for k, g in enumerate(groups):
        if g:
            pq.write_table(pa.Table.from_pylist(g, schema),
                           os.path.join(path, f"part-{k:05d}.parquet"))


def text_bytes(rows: list[dict]) -> int:
    return sum(len(r["text"].encode()) for r in rows)
