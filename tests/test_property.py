"""Property-based tests (hypothesis) for the pure operator cores.

These complement the golden-fixture suites with randomized invariants:
reconstruction faithfulness, lean/full equivalence, tag-scheme round trips,
metric bounds, dedup determinism. Seeded and deadline-free for CI stability.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from texoo_spark import textops

# derandomize: the driver's pytest run is a gate — example generation must
# be reproducible, not a fresh fuzz each round (fuzz exploration happens in
# dev runs by flipping this off)
SETTINGS = settings(max_examples=300, deadline=None, derandomize=True)

# text alphabets: plain words, punctuation-heavy, whitespace-heavy, unicode
_plain = st.text(alphabet="abc DEF 123 ", max_size=200)
_punct = st.text(alphabet="ab.?!,;:()[]{}\"'- ", max_size=200)
# every separator class the core handles: newline, CR, tab, VT, FF, the
# U+001C-U+001F controls, NEL, NBSP, LINE SEPARATOR, IDEOGRAPHIC SPACE
_ws = st.text(alphabet="ab \t\n\r\x0b\x0c\x1c\x1d\x1e\x1f\x85\xa0\u2028\u3000",
              max_size=200)
_uni = st.text(max_size=120)
ANY_TEXT = st.one_of(_plain, _punct, _ws, _uni)


@SETTINGS
@given(ANY_TEXT)
def test_reconstruction_keep_is_identity_on_trimmed(text):
    """KEEP-mode reconstruction equals the input between the first and last
    token when whitespace is only spaces/newlines; in general tabs/NBSP map
    to single spaces, so lengths and non-space chars must agree."""
    toks, begins, ends, sents, extracted = textops.extract_arrays(
        text, textops.KEEP)
    if not begins:
        assert extracted == ""
        return
    window = text[begins[0]:ends[-1]]
    assert len(extracted) == len(window)
    for a, b in zip(extracted, window):
        if a != b:
            assert a == " " and b.isspace()  # ws normalization only


@SETTINGS
@given(ANY_TEXT, st.sampled_from([textops.KEEP, textops.DISCARD]))
def test_lean_equals_full(text, mode):
    a = textops.extract_arrays(text, mode)
    b = textops.extract_arrays_lean(text, mode)
    assert (a[1], a[2], a[3], a[4]) == (b[1], b[2], b[3], b[4])


@SETTINGS
@given(ANY_TEXT, st.sampled_from([textops.KEEP, textops.DISCARD]))
def test_offsets_are_sane(text, mode):
    toks, begins, ends, sents, extracted = textops.extract_arrays(text, mode)
    assert len(toks) == len(begins) == len(ends)
    for t, b, e in zip(toks, begins, ends):
        assert 0 <= b < e and e - b == len(t)
    # strictly increasing, non-overlapping
    for i in range(1, len(begins)):
        assert begins[i] >= ends[i - 1]
    # sentence token ranges tile the token list
    assert [s for sp in sents for s in range(sp[2], sp[3])] == list(
        range(len(toks)))
    # tokens slice the reconstruction back out
    base = begins[0] if begins else 0
    for t, b, e in zip(toks, begins, ends):
        assert extracted[b - base:e - base] == t


# batches for the extraction kernel: nulls, empty strings, ASCII control
# separators (U+001C-U+001F, whitespace to Python), newline/tab/NBSP runs
# and HTML-looking turns mixed into the text alphabets above
_hostile = st.text(alphabet="ab. \t\n\xa0\x1c\x1d\x1e\x1f", max_size=120)
_html = st.lists(st.sampled_from(
    ["<p>", "</p>", "<div>", "</div>", "<a href='x'>", "</a>", "<nav>",
     "</nav>", "<br>", "Some words here.", " more text ", "\n", "&amp;",
     "Ünïcode — ok."]), max_size=25).map("".join)
KERNEL_BATCH = st.lists(
    st.one_of(st.none(), st.just(""), ANY_TEXT, _hostile, _html),
    max_size=12)


def _kernel_rows(texts, mode, strip_html_first=True):
    import pyarrow as pa

    from texoo_spark.arrow_extract import EXTRACT_COLUMNS, extract_batch
    arrays = extract_batch(pa.array(texts, pa.string()), mode,
                           strip_html_first)
    return pa.StructArray.from_arrays(arrays,
                                      names=EXTRACT_COLUMNS).to_pylist()


def _reference_row(text, mode, strip_html_first=True):
    """(kernel row, token surfaces) for one text by the reference twin."""
    from texoo_spark.html import looks_like_html, strip_html
    text = text or ""
    if strip_html_first and looks_like_html(text):
        text = strip_html(text)["main_text"]
    toks, begins, ends, sents, extracted = textops.extract_arrays(text, mode)
    return {"extracted_text": extracted, "n_sentences": len(sents),
            "n_tokens": len(toks), "tok_begin": begins, "tok_end": ends,
            "sent_begin": [s[0] for s in sents],
            "sent_end": [s[1] for s in sents],
            "sent_tok_start": [s[2] for s in sents],
            "sent_tok_end": [s[3] for s in sents]}, toks


@SETTINGS
@given(KERNEL_BATCH, st.sampled_from([textops.KEEP, textops.DISCARD]),
       st.booleans())
def test_kernel_matches_reference(texts, mode, strip_html_first):
    """arrow_extract.extract_batch — the one extraction kernel — against
    the reference twin textops.extract_arrays, row by row; token surfaces
    must come back out of extracted_text at offset - tok_begin[0] (the
    recipe extract_turns evaluates on the JVM)."""
    got = _kernel_rows(texts, mode, strip_html_first)
    assert len(got) == len(texts)
    for text, row in zip(texts, got):
        expected, toks = _reference_row(text, mode, strip_html_first)
        assert row == expected
        base = row["tok_begin"][0] if toks else 0
        assert [row["extracted_text"][b - base:e - base]
                for b, e in zip(row["tok_begin"], row["tok_end"])] == toks


@pytest.mark.parametrize("mode", [textops.KEEP, textops.DISCARD])
def test_kernel_has_one_segmentation_path(monkeypatch, mode):
    """The kernel never reaches the reference twin: with extract_arrays
    made to raise, newline-run, CRLF, tab, NBSP, U+001C and HTML rows
    still come out equal to the twin's rows computed beforehand."""
    rows = ["a\n\n\nb. C d.\n\nE", "One.\r\nTwo\r\n\r\nthree",
            "tab\tsep\t\tword.", "nb\xa0sp\xa0\xa0x. Y",
            "unit\x1csep\x1d. Next\x1e\x1fend",
            "<html><body><p>Main paragraph with enough words to be kept as"
            " the main text.</p><p>Second\tparagraph with enough words to"
            " be kept too.</p></body></html>"]
    expected = [_reference_row(t, mode)[0] for t in rows]
    assert all(r["n_tokens"] for r in expected)
    assert expected[-1]["n_sentences"] == 2     # both HTML paragraphs kept

    def twin(*_a, **_k):
        raise AssertionError("kernel reached the reference twin")

    monkeypatch.setattr(textops, "extract_arrays", twin)
    assert _kernel_rows(rows, mode) == expected


@SETTINGS
@given(ANY_TEXT)
def test_tokenize_covers_all_nonspace(text):
    spans = textops.tokenize_pos(text)
    covered = set()
    for b, e in spans:
        covered.update(range(b, e))
    for i, c in enumerate(text):
        assert (i in covered) == (not c.isspace() or c == "\n")


BIO2 = st.lists(st.sampled_from(["B", "I", "O"]), max_size=40)


@SETTINGS
@given(BIO2)
def test_bioes_round_trip(tags):
    from texoo_spark.spans import (bio2_to_bioes, bioes_is_correct,
                                   bioes_to_bio2, decode_bio2)
    # span decode must survive BIO2 -> BIOES -> BIO2 for ANY input
    # (including invalid I-after-O, which decode treats as B)
    bioes = bio2_to_bioes(tags)
    back = bioes_to_bio2(bioes)
    d1 = [(s[0], s[1]) for s in decode_bio2(tags, None, None)]
    d2 = [(s[0], s[1]) for s in decode_bio2(back, None, None)]
    assert d1 == d2
    # validity is only guaranteed for valid BIO2 input (reference parity:
    # BIO2Tag.convertToBIOES is a pairwise map, garbage in garbage out)
    valid_bio2 = all(t != "I" or (i > 0 and tags[i - 1] in ("B", "I"))
                     for i, t in enumerate(tags))
    if valid_bio2:
        assert bioes_is_correct(bioes)


SEGS = st.integers(min_value=1, max_value=6)


@st.composite
def seg_sequences(draw):
    """Non-decreasing 1-based segment-id arrays (positions format)."""
    n = draw(st.integers(min_value=1, max_value=30))
    n_segs = draw(SEGS)
    cuts = sorted(draw(st.lists(st.integers(0, n), min_size=n_segs - 1,
                                max_size=n_segs - 1)))
    out, seg = [], 1
    for i in range(n):
        while cuts and i >= cuts[0]:
            cuts.pop(0)
            seg += 1
        out.append(seg)
    return out


@SETTINGS
@given(seg_sequences(), seg_sequences(), st.integers(2, 8))
def test_pk_wd_bounds_and_identity(ref, hyp, k):
    from texoo_spark.metrics import pk, window_diff
    hyp = (hyp + [hyp[-1]] * len(ref))[:len(ref)]
    assert 0.0 <= pk(ref, hyp, k) <= 1.0
    assert 0.0 <= window_diff(ref, hyp, k) <= 1.0
    assert pk(ref, ref, k) == 0.0
    assert window_diff(ref, ref, k) == 0.0


@SETTINGS
@given(st.text(alphabet="abcde fgh ij ", max_size=300))
def test_minhash_deterministic_and_selfsim(text):
    from texoo_spark.dedup import jaccard, minhash_signature
    a = minhash_signature(text)
    b = minhash_signature(text)
    assert (a == b).all()
    assert jaccard(text, text) == 1.0


@SETTINGS
@given(st.lists(st.text(alphabet="ab c", max_size=10), max_size=15))
def test_words_to_text_round_trip_offsets(words):
    from texoo_spark.textops import tokens_from_tokenized_text
    toks = tokens_from_tokenized_text(" ".join(words))
    recon = textops.tokens_to_text(toks, toks[0].begin if toks else 0)
    # reconstruction must be reproducible from its own re-tokenization
    toks2 = tokens_from_tokenized_text(recon)
    recon2 = textops.tokens_to_text(toks2, toks2[0].begin if toks2 else 0)
    assert recon2 == recon


# ---------------------------------------------------------------------------
# Codec cores: lossless round trips under arbitrary inputs
# ---------------------------------------------------------------------------

@settings(max_examples=100, deadline=None, derandomize=True)
@given(st.binary(min_size=0, max_size=2000),
       st.integers(min_value=2, max_value=8))
def test_lzw_roundtrip_arbitrary_bytes(data, min_code_size):
    """GIF-variant LZW must invert exactly for any byte stream whose
    symbols fit the alphabet (masked into range)."""
    from texoo_spark.gifcodec import lzw_decode, lzw_encode
    symbols = bytes(b % (1 << min_code_size) for b in data)
    assert bytes(lzw_decode(lzw_encode(symbols, min_code_size),
                            min_code_size)) == symbols


@settings(max_examples=60, deadline=None, derandomize=True)
@given(st.lists(st.lists(st.integers(min_value=0, max_value=255),
                         min_size=1, max_size=4),
                min_size=1, max_size=4).filter(
                    lambda rows: len({len(r) for r in rows}) == 1))
def test_jpeg_flat_blocks_roundtrip_exact(grid):
    """Flat-8x8-block images at quality 100 are bit-exact through the
    entropy-coded JPEG round trip — the invariant the media_features
    oracle's closed forms rely on."""
    import numpy as np
    from texoo_spark.jpegcodec import decode_jpeg, make_flat_block_jpeg
    vals = np.asarray(grid, dtype=np.uint8)
    out = decode_jpeg(make_flat_block_jpeg(vals))[:, :, 0]
    np.testing.assert_array_equal(
        out, np.repeat(np.repeat(vals, 8, 0), 8, 1))
