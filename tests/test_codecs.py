"""Codec round-trip + normalization parity (no Spark needed)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from pmocr_spark import codecs

# printable ASCII minus DEL/anchor; newlines added separately
_CHARS = st.characters(min_codepoint=32, max_codepoint=126)
_LINE = st.text(_CHARS, min_size=1, max_size=40)


@st.composite
def media_text(draw):
    """Texts legal for the glyph codec: non-empty first/last lines."""
    lines = draw(st.lists(_LINE, min_size=1, max_size=6))
    return "\n".join(lines)


@given(media_text())
@settings(max_examples=60, deadline=None)
def test_image_roundtrip(text):
    blob = codecs.encode_image(text, "tiff", salt="t")
    assert codecs.decode_blob(blob) == text


@given(st.lists(media_text(), min_size=1, max_size=4))
@settings(max_examples=30, deadline=None)
def test_pdf_roundtrip(pages):
    blob = codecs.encode_pdf(pages, salt="p")
    assert codecs.decode_blob(blob) == "\n".join(pages)


def test_all_image_kinds_roundtrip():
    for kind in codecs.IMAGE_KINDS:
        blob = codecs.encode_image("hello  world", kind, salt=kind)
        assert codecs.decode_blob(blob) == "hello  world"


def test_corrupt_blob_raises():
    with pytest.raises(codecs.CodecError):
        codecs.decode_blob(codecs.encode_corrupt("x"))


def test_truncated_blob_raises():
    blob = codecs.encode_image("abc", "png", salt="s")
    with pytest.raises(codecs.CodecError):
        codecs.decode_blob(blob[: len(blob) // 2])


def test_determinism():
    a = codecs.encode_pdf(["one\ntwo", "three"], salt="z")
    b = codecs.encode_pdf(["one\ntwo", "three"], salt="z")
    assert a == b


def test_binarize_trim_removes_border_only():
    img = codecs.render_page("ab\ncd", salt="q")
    binary = codecs.binarize_trim(img)
    # glyph area: 2 lines -> 2*8+1 rows; anchor + 2 chars -> 3 cols
    assert binary.shape == (2 * codecs.GLYPH_H + 1, 3)


def test_csv_hack_two_plus_spaces():
    # the reference regex matches >=2 spaces (pmocr.sh:2017), not 4+
    assert codecs.csv_hack("a  b   c d") == "a;b;c d"


def test_normalize_text():
    assert codecs.normalize_text("a \t\r\nb  \rc\n\n") == "a\nb\nc"
    assert codecs.normalize_text("keep  interior   runs") == "keep  interior   runs"


@given(media_text(), media_text())
@settings(max_examples=40, deadline=None)
def test_two_column_layout_roundtrip(left, right):
    """A7 layout: decode must re-assemble reading order — ALL left-column
    lines, then all right-column lines — whatever the relative heights."""
    blob = codecs.encode_image_columns([left, right], "tif", salt="c")
    assert codecs.decode_blob(blob) == left + "\n" + right


@given(st.lists(media_text(), min_size=1, max_size=4))
@settings(max_examples=30, deadline=None)
def test_multi_column_reading_order(cols):
    blob = codecs.encode_image_columns(cols, "png", salt="m")
    assert codecs.decode_blob(blob) == "\n".join(cols)


def test_single_column_never_splits():
    """The layout stage's no-op guarantee: a single-column page has no
    full-height paper run (every char inks its column; the longest line
    covers the trimmed width), so segment_columns returns ONE block and
    pre-layout decodes are byte-identical."""
    for text in ("one line", "a\nbb\nccc", "wide line here\nx", "x" * 39 + "\ny"):
        page = codecs.rasterize(codecs.encode_image(text, "tif", salt="s"))[0]
        blocks = codecs.segment_columns(codecs.binarize_trim(page))
        assert len(blocks) == 1, text


def test_corpus_a7_blobs_are_really_two_column():
    """The A7 stride must produce blobs whose trimmed page splits into
    two blocks — and whose decode still equals the span's logical text
    (the invariant that keeps every downstream expectation unchanged)."""
    from pmocr_spark import corpus

    docs, blobs = corpus.generate(n_docs=25, seed=7)
    blob_by_ref = {r["media_ref"]: r["content"] for r in blobs.to_pylist()}
    n_two_col = 0
    for row in docs.to_pylist():
        for s in sorted(row["spans"], key=lambda x: x["offset"]):
            if s["media_ref"] is None or s["kind"] == "pdf":
                continue
            blob = blob_by_ref[s["media_ref"]]
            if blob[:6] != codecs.IMG_MAGIC:
                continue  # poison
            page = codecs.rasterize(blob)[0]
            blocks = codecs.segment_columns(codecs.binarize_trim(page))
            if len(blocks) == 2:
                n_two_col += 1
    assert n_two_col >= 5, f"A7 stride produced only {n_two_col} two-column blobs"


@given(media_text(), media_text(), media_text())
@settings(max_examples=25, deadline=None)
def test_pdf_mixed_layout_roundtrip(p1, left, right):
    """A mixed-layout PDF — single-column page then a two-column page —
    decodes to the pages' reading-order texts joined by newline."""
    blob = codecs.encode_pdf([p1, [left, right]], salt="mx")
    assert codecs.decode_blob(blob) == p1 + "\n" + left + "\n" + right


# ---------------------------------------------------------------- audio codec

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

_ascii_text = st.text(
    alphabet=st.characters(min_codepoint=1, max_codepoint=126).filter(lambda c: c != "\x7f"),
    max_size=200,
)


@settings(max_examples=40, deadline=None)
@given(_ascii_text)
def test_audio_roundtrip_hypothesis(text):
    """decode(encode(x)) == x for any 7-bit payload (codes 0 and the
    0x7f anchor excluded, the image codec's charset convention)."""
    t, rate, n = codecs.decode_audio(codecs.encode_audio(text, salt="h"))
    assert t == text and rate == codecs.AUDIO_RATE
    assert n == len(text.encode()) * codecs.SAMPLES_PER_CHAR


def test_audio_decode_rejects_guard_band_amplitudes():
    """Samples between noise ceiling and tone floor mean the blob is not
    this codec's output — loud CodecError, never a guessed bit."""
    blob = codecs.encode_audio("abc")
    arr = np.frombuffer(blob[16:], dtype="<i2").copy()
    arr[0] = (codecs.AUDIO_NOISE_MAX + codecs.AUDIO_TONE_MIN) // 2
    try:
        codecs.decode_audio(blob[:16] + arr.tobytes())
        raise AssertionError("guard-band amplitude accepted")
    except codecs.CodecError as e:
        assert "guard band" in str(e)


def test_audio_parity_detects_single_bit_flip():
    blob = codecs.encode_audio("parity check")
    arr = np.frombuffer(blob[16:], dtype="<i2").copy().reshape(-1, codecs.SAMPLES_PER_CHAR)
    # flip one CODE bit (sample 0 of frame 0): tone<->noise
    arr[0, 0] = 0 if abs(int(arr[0, 0])) >= codecs.AUDIO_TONE_MIN else 20000
    try:
        codecs.decode_audio(blob[:16] + arr.tobytes())
        raise AssertionError("bit flip not detected")
    except codecs.CodecError as e:
        assert "parity" in str(e)


@settings(max_examples=30, deadline=None)
@given(st.lists(media_text(), min_size=1, max_size=3), st.integers(1, 3))
def test_video_roundtrip_hypothesis(captions, hold):
    """decode_video(encode_video(caps, hold)) yields each caption held
    `hold` consecutive frames; transcription collapses the held scenes
    back to the caption sequence."""
    blob = codecs.encode_video(captions, hold=hold, salt="h")
    texts, fps, n = codecs.decode_video(blob)
    assert fps == codecs.VIDEO_FPS and n == len(captions) * hold
    expect = [c for c in captions for _ in range(hold)]
    assert texts == expect
    transcript, _, _ = codecs.transcribe_video(blob)
    # consecutive-duplicate collapse: equal ADJACENT captions merge too
    want = [c for i, c in enumerate(expect) if i == 0 or c != expect[i - 1]]
    assert transcript == "\n".join(want)


def test_video_decode_blob_dispatch():
    blob = codecs.encode_video(["scene one", "scene two"], hold=2)
    assert codecs.decode_blob(blob) == "scene one\nscene two"


def test_video_poison_paths():
    blob = codecs.encode_video(["ok"], hold=1)
    for bad, msg in [
        (b"XXXX" + blob[4:], "magic"),
        (blob[:8], "header"),
        (blob[:-3], "frame"),
        (blob + b"zz", "trailing"),
    ]:
        with pytest.raises(codecs.CodecError) as e:
            codecs.decode_video(bad)
        assert msg in str(e.value), (msg, str(e.value))


def test_video_frame_corruption_fails_parity():
    """Corruption INSIDE a frame surfaces through the glyph parity
    check — error-as-data upstream, never hallucinated text."""
    blob = codecs.encode_video(["parity scene"], hold=1)
    arr = bytearray(blob)
    # flip a pixel deep inside the frame payload (past both headers)
    arr[-10] = (arr[-10] + 200) % 256
    with pytest.raises(codecs.CodecError):
        codecs.decode_video(bytes(arr))


# ---------------------------------------------------------------- word boxes


def _expected_words(lines_text: str, line_no0: int = 0):
    """Independent string-arithmetic reference for recognize_words:
    word chars [a, b) of line li -> x0 = a+1 (glyph columns start one
    past the anchor), x1 = b+1, y0 = band pitch 9*li block-local."""
    import re

    exp = []
    for bi, line in enumerate(lines_text.split("\n")):
        for wno, m in enumerate(re.finditer(r"[^ ]+", line)):
            exp.append(
                (
                    line_no0 + bi,
                    wno,
                    m.group(0),
                    m.start() + 1,
                    bi * 9,
                    m.end() + 1,
                    bi * 9 + 8,
                )
            )
    return exp


@given(media_text())
@settings(max_examples=40, deadline=None)
def test_recognize_words_matches_string_arithmetic(text):
    blob = codecs.encode_image(text, "tiff", salt="w")
    assert codecs.recognize_words(blob) == _expected_words(text)


def test_recognize_words_two_column_block_local():
    """Multi-block pages: line_no runs globally in reading order, x/y
    are block-local (each block is its own trimmed coordinate frame)."""
    left, right = "ab cd\nef", "ghi j"
    blob = codecs.encode_image_columns([left, right], "tif", salt="w2")
    exp = _expected_words(left) + _expected_words(right, line_no0=2)
    assert codecs.recognize_words(blob) == exp


def test_recognize_words_empty_and_spaces():
    assert codecs.recognize_words(codecs.encode_image("x", "png", salt="e"))[0][2] == "x"
    assert (
        codecs.recognize_words(codecs.encode_image(" lead  mid ", "png", salt="e"))
        == _expected_words(" lead  mid ")
    )


def _parse_hocr(doc: str):
    """Regex hOCR reader: recover (line_no, word_no, word, x0, y0, x1, y1)."""
    import re
    from xml.sax.saxutils import unescape

    out = []
    for m in re.finditer(
        r"<span class='ocrx_word' id='word_(\d+)_(\d+)' "
        r"title='bbox (\d+) (\d+) (\d+) (\d+)'>(.*?)</span>",
        doc,
    ):
        ln, wn, x0, y0, x1, y1, w = m.groups()
        out.append(
            (int(ln), int(wn), unescape(w), int(x0), int(y0), int(x1), int(y1))
        )
    return out


@given(media_text())
@settings(max_examples=30, deadline=None)
def test_hocr_roundtrip(text):
    words = codecs.recognize_words(codecs.encode_image(text, "tif", salt="h"))
    assert _parse_hocr(codecs.to_hocr(words)) == words


def test_hocr_escapes_and_boxes():
    doc = codecs.to_hocr(
        codecs.recognize_words(codecs.encode_image("a<b> &c", "png", salt="h"))
    )
    assert "a&lt;b&gt;" in doc and "&amp;c" in doc
    # line bbox is the union of its words' boxes
    import re

    line = re.search(r"ocr_line' id='line_0' title='bbox (\d+) (\d+) (\d+) (\d+)'", doc)
    assert line.groups() == ("1", "0", "8", "8")  # chars 0..6, anchor-offset x
    page = re.search(r"ocr_page' id='page_1' title='bbox (\d+) (\d+) (\d+) (\d+)'", doc)
    assert page.groups() == ("1", "0", "8", "8")


def test_hocr_empty_words():
    doc = codecs.to_hocr([])
    assert "bbox 0 0 0 0" in doc and "class='ocrx_word'" not in doc


def test_hocr_page_id_escaped():
    doc = codecs.to_hocr([], page_id="o'brien <&> 1")
    assert "id='o&apos;brien &lt;&amp;&gt; 1'" in doc


# ------------------------------------------------------------- table geometry


def _table_cells(text):
    blob = codecs.encode_image(text, "tif", salt="tt")
    return codecs.detect_table(codecs.recognize_words(blob))


def test_detect_table_aligned_grid():
    t = "alpha     beta    gamma\ndd        ee      ff"
    cells = _table_cells(t)
    grid = {(r, c): cell for r, c, cell, *_ in cells}
    assert grid == {
        (0, 0): "alpha", (0, 1): "beta", (0, 2): "gamma",
        (1, 0): "dd", (1, 1): "ee", (1, 2): "ff",
    }
    # on an aligned table the geometric split agrees with the textual
    # csv hack (2+ spaces), the reference's approximation
    for r, line in enumerate(t.split("\n")):
        want = codecs.csv_hack(line).rstrip(";").split(";")
        got = [cell for (rr, c), cell in sorted(grid.items()) if rr == r]
        assert got == want


def test_detect_table_ragged_rows_keep_column_identity():
    """THE case the textual csv hack gets wrong: a row with an empty
    middle cell. Textually 'x         z' splits into two fields and
    'z' lands in column 1; geometrically 'z' stays in column 2."""
    t = "alpha     beta    gamma\nx                 z"
    cells = _table_cells(t)
    grid = {(r, c): cell for r, c, cell, *_ in cells}
    assert grid[(1, 0)] == "x" and grid[(1, 2)] == "z" and (1, 1) not in grid
    # the textual hack demonstrably mis-assigns the same row
    assert codecs.csv_hack("x                 z").split(";")[1] == "z"


def test_detect_table_single_space_does_not_split():
    """min_gap=2 (the csv hack's 2-space rule): single spaces are
    intra-cell, so a two-word cell stays one cell."""
    cells = _table_cells("a b       c\nd e       f")
    grid = {(r, c): cell for r, c, cell, *_ in cells}
    assert grid == {(0, 0): "a b", (0, 1): "c", (1, 0): "d e", (1, 1): "f"}


def test_detect_table_column_spans_are_occupied_unions():
    cells = _table_cells("wide_cell  b\nx          y")
    by_col = {}
    for _, c, _, x0, x1, _, _ in cells:
        by_col.setdefault(c, set()).add((x0, x1))
    assert by_col[0] == {(1, 10)}  # 'wide_cell' spans chars 0-8 -> x 1..10
    assert len(by_col[1]) == 1


def test_detect_table_empty():
    assert codecs.detect_table([]) == []


# ------------------------------------------------------------ deskew (M2)
# pmOCR ships ImageMagick `-deskew 40` in OCR_PREPROCESSOR_ARGS
# (default.conf:97, README.md:115); the codec analog is an integer
# horizontal shear estimated and inverted inside binarize_trim.


@given(media_text(), st.integers(-4, 4))
@settings(max_examples=60, deadline=None)
@example(
    text='1^?!',
    drift=2,
).via('discovered failure')
def test_skewed_roundtrip(text, drift):
    blob = codecs.encode_image_skewed(text, drift, "tiff", salt="sk")
    assert codecs.decode_blob(blob) == text


@given(media_text())
@settings(max_examples=40, deadline=None)
def test_straight_pages_estimate_zero(text):
    img = codecs.render_page(text, "z")
    assert codecs.estimate_drift(img >= codecs.BINARIZE_THRESHOLD) == 0


@given(media_text(), st.integers(-8, 8))
@settings(max_examples=60, deadline=None)
def test_estimate_recovers_exact_drift(text, drift):
    img = codecs.render_page(text, "e")
    max_drift = int(codecs.MAX_SKEW_SLOPE * (img.shape[0] - 1))
    drift = max(-max_drift, min(max_drift, drift))
    sheared = codecs.shear_page(img, drift, "e")
    est = codecs.estimate_drift(sheared >= codecs.BINARIZE_THRESHOLD)
    # single-line pages alias +-3 with +-1 (shift profiles differ by a
    # constant on the 8 ink rows — unidentifiable from the image; the
    # estimator canonically reports the smaller |drift|, and the
    # residual constant shift vanishes at the trim step, so decode is
    # still exact). Multi-line pages are alias-free (enumerated).
    if "\n" not in text and abs(drift) == 3:
        assert est == drift // 3  # +-1, the canonical alias
    else:
        assert est == drift


@given(media_text(), st.integers(-4, 4))
@settings(max_examples=30, deadline=None)
def test_word_boxes_invariant_under_skew(text, drift):
    # deskew restores the EXACT original binary, so hOCR geometry —
    # not just text — is identical to the straight page's
    straight = codecs.recognize_words(codecs.encode_image(text, "tiff", salt="wb2"))
    skewed = codecs.recognize_words(
        codecs.encode_image_skewed(text, drift, "tiff", salt="wb2")
    )
    assert skewed == straight


def test_skew_beyond_threshold_rejected():
    # a 1-line page is 12 rows -> threshold floor(0.4 * 11) = 4
    with pytest.raises(ValueError, match="deskew threshold"):
        codecs.encode_image_skewed("one line", 5)
    # the identical page within the threshold is fine
    assert codecs.decode_blob(codecs.encode_image_skewed("one line", 4)) == "one line"


def test_unshear_inverts_shear_exactly():
    img = codecs.render_page("alpha beta\ngamma delta\nepsilon", "u")
    binary = img >= codecs.BINARIZE_THRESHOLD
    for drift in (-7, -1, 3, 6):
        sheared = codecs.shear_page(img, drift, "u") >= codecs.BINARIZE_THRESHOLD
        undone = codecs.unshear(sheared, drift)
        rows = np.flatnonzero(undone.any(axis=1))
        cols = np.flatnonzero(undone.any(axis=0))
        trimmed = undone[rows[0] : rows[-1] + 1, cols[0] : cols[-1] + 1]
        brows = np.flatnonzero(binary.any(axis=1))
        bcols = np.flatnonzero(binary.any(axis=0))
        assert np.array_equal(
            trimmed, binary[brows[0] : brows[-1] + 1, bcols[0] : bcols[-1] + 1]
        )


def test_deskew_in_multipage_pdf_path():
    # shear one page of a hand-built PDF container: rasterize splits
    # pages, binarize_trim deskews each independently
    import struct

    pages = ["first page text", "second page here"]
    p0 = codecs._pack_image(codecs.render_page(pages[0], "#p0"), "tiff")
    p1 = codecs._pack_image(
        codecs.shear_page(codecs.render_page(pages[1], "#p1"), 3, "pdfskew"), "tiff"
    )
    blob = codecs.PDF_MAGIC + struct.pack("<I", 2)
    for payload in (p0, p1):
        blob += struct.pack("<I", len(payload)) + payload
    assert codecs.decode_blob(blob) == "first page text\nsecond page here"


# ------------------------------------------------------------- XY-cut


def test_xy_cut_manhattan_reading_order():
    """Title band above a two-column pair: xy_cut must Y-cut first
    (an X-first cut would split the title with the left column) and
    return [title, left, right] byte-for-byte."""
    rows = [["title band xy"], ["left col l1\nleft col l2", "right r1\nright r2"]]
    blob = codecs.encode_image_regions(rows, "tif", salt="t1")
    assert codecs.recognize_regions(blob) == [
        "title band xy", "left col l1\nleft col l2", "right r1\nright r2",
    ]


def test_xy_cut_three_band_nested():
    """Three bands, middle one three-column: depth-first reading order."""
    rows = [["header"], ["aa a", "bb b", "cc c"], ["footer line"]]
    blob = codecs.encode_image_regions(rows, "tif", salt="t2")
    assert codecs.recognize_regions(blob) == [
        "header", "aa a", "bb b", "cc c", "footer line",
    ]


def test_xy_cut_degenerates_to_whole_page_and_columns():
    """A single text block is provably uncut (1-row line separators,
    anchor-inked bands); a pure multi-column page yields exactly the
    segment_columns blocks — xy_cut generalizes both."""
    b1 = codecs.encode_image("plain one\nplain two", "tif", salt="p")
    assert codecs.recognize_regions(b1) == [codecs.decode_blob(b1)]
    b2 = codecs.encode_image_columns(["a b c", "d e f"], "tif", salt="c")
    assert codecs.recognize_regions(b2) == ["a b c", "d e f"]


def test_xy_cut_empty_and_blank():
    import numpy as np

    assert codecs.xy_cut(np.zeros((0, 0), dtype=bool)) == []
    assert codecs.xy_cut(np.zeros((5, 5), dtype=bool)) == []
