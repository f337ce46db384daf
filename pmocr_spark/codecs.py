"""Deterministic synthetic media codecs (pure python/numpy, no Spark).

The reference (pmOCR) hands media bytes to external engines — ImageMagick
rasterization (/root/reference/pmocr.sh:1889-1904), preprocessing
(pmocr.sh:1906-1921) and tesseract/abbyy recognition (pmocr.sh:1923-1963).
Real OCR engines are non-deterministic and unavailable at 10^12-doc scale,
so — exactly like pmOCR's pluggable ``OCR_ENGINE`` switch
(pmocr.sh:1825-1852) — the engine here is a deterministic synthetic codec:
``encode_*`` renders known text into noisy grayscale "images" packed into
PDF/TIFF/PNG-like containers, and the decode stages invert it through the
same four phases the BASELINE north star names:

  rasterize (M1, container -> page images)
  -> binarize + trim borders (M2, pmOCR's ImageMagick preprocessor analog)
  -> line-segment (M3a)
  -> recognize (M3b, glyph columns -> characters)

Every byte is derived from a seeded PRNG keyed on the payload text, so
encode/decode round-trips are exactly reproducible on any executor.

Glyph scheme: each character is one image column of ``GLYPH_H`` pixels;
bit *j* of its 7-bit ASCII code set -> pixel *j* is "ink" (>= INK_MIN),
else "paper" noise (< BINARIZE_THRESHOLD). Code 0 columns are padding.
Lines are GLYPH_H-row bands separated by one blank row; a 2-pixel noise
border surrounds the glyph area (removed by the trim stage).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ---------------------------------------------------------------- constants

IMG_MAGIC = b"PMIMG1"
PDF_MAGIC = b"PMPDF1"

GLYPH_H = 8                 # pixel rows per text line (7 ascii bits + parity)
ANCHOR_CODE = 0x7F          # all-ink calibration column at the start of each line
BORDER = 2                  # noise border removed by the trim stage
BINARIZE_THRESHOLD = 128
INK_MIN = 160               # ink pixels are in [INK_MIN, 255]
PAPER_MAX = 100             # paper pixels are in [0, PAPER_MAX]
GUTTER_W = 3                # inter-column gutter width written by render_columns
GUTTER_MIN = 2              # layout analysis: >= this many blank cols = column break
# Deskew threshold: the reference runs ImageMagick `-deskew 40`
# (default.conf:97, README.md:115) — a 40% shear threshold, i.e. the
# preprocessor straightens pages whose edge-to-edge drift is up to
# 0.4 × page height. Same bound here.
MAX_SKEW_SLOPE = 0.4

# pmOCR's input allow-list: default.conf:14 `pdf|tif|tiff|png|jpg|jpeg|bmp|pcx|dcx`
MEDIA_KINDS = ("pdf", "tif", "tiff", "png", "jpg", "jpeg", "bmp", "pcx", "dcx")
IMAGE_KINDS = tuple(k for k in MEDIA_KINDS if k != "pdf")
# audio span kinds (round 5, beyond the reference's image-only list):
# routed through the same fused decode UDF by container magic. ONLY the
# kind this engine can actually decode is allow-listed — admitting
# 'mp3'/'flac' here would flip such docs from done-with-skipped-span to
# failed (decode_blob has no path for them; a deployment that registers
# a real decoder with engines.register_engine should extend this tuple
# alongside).
AUDIO_KINDS = ("wav",)


class CodecError(ValueError):
    """Raised when a blob cannot be decoded (poison pill path, pmocr.sh:1986-2011)."""


def _rng_for(text: str, salt: str) -> np.random.Generator:
    seed = zlib.crc32((salt + "\x00" + text).encode("utf-8"))
    return np.random.default_rng(seed)


# ---------------------------------------------------------------- encoding


def render_page(text: str, salt: str = "") -> np.ndarray:
    """Render text into a noisy grayscale uint8 image (one page).

    Lines of the text become GLYPH_H-row bands; each char one column.
    """
    lines = text.split("\n")
    width = max((len(ln) for ln in lines), default=0) + 1  # +1 anchor column
    h = len(lines) * (GLYPH_H + 1) - 1 if lines else 1
    h = max(h, 1)
    rng = _rng_for(text, "page" + salt)
    # paper noise everywhere
    img = rng.integers(0, PAPER_MAX + 1, size=(h + 2 * BORDER, width + 2 * BORDER), dtype=np.uint8)
    ink_span = 256 - INK_MIN
    bits = np.arange(7, dtype=np.int64)
    for li, line in enumerate(lines):
        top = BORDER + li * (GLYPH_H + 1)
        # anchor column: all-ink (code 0x7F) so trim always lands exactly on
        # the glyph-area bounding box regardless of glyph bit patterns
        img[top : top + GLYPH_H, BORDER] = INK_MIN + (li * 29) % ink_span
        if not line:
            continue
        # vectorized glyph render (round 6, guide §4.2) — byte-identical
        # to the per-char/per-bit loop it replaces: same ink-value
        # arithmetic, same skip rules, evaluated per (bit, char) grid
        codes = np.frombuffer(line.encode("latin-1", "replace"), dtype=np.uint8).astype(np.int64) & 0x7F
        # non-latin-1 chars became ord('?'); recompute those exactly
        if not line.isascii():
            codes = np.array([ord(c) & 0x7F for c in line], dtype=np.int64)
        ci = np.arange(len(line), dtype=np.int64)
        real = (codes != 0) & (codes != ANCHOR_CODE)
        on = ((codes[None, :] >> bits[:, None]) & 1).astype(bool) & real[None, :]  # (7, W)
        vals = (INK_MIN + (codes[None, :] * 37 + bits[:, None] * 11 + ci[None, :]) % ink_span).astype(np.uint8)
        block = img[top : top + 7, BORDER + 1 : BORDER + 1 + len(line)]
        block[on] = vals[on]
        parity = (on.sum(axis=0) % 2 == 1) & real
        pvals = (INK_MIN + (codes * 53 + ci) % ink_span).astype(np.uint8)
        prow = img[top + 7, BORDER + 1 : BORDER + 1 + len(line)]
        prow[parity] = pvals[parity]
    return img


def _pack_image(img: np.ndarray, kind: str) -> bytes:
    h, w = img.shape
    kind_b = kind.encode("ascii")[:4].ljust(4, b"\x00")
    return IMG_MAGIC + kind_b + struct.pack("<II", h, w) + img.tobytes()


def encode_image(text: str, kind: str = "tiff", salt: str = "") -> bytes:
    """Encode text as a single-page image blob (tif/tiff/png/jpg/...)."""
    if kind not in IMAGE_KINDS:
        raise ValueError(f"not an image kind: {kind}")
    return _pack_image(render_page(text, salt), kind)


def _shear_shifts(h: int, drift: int) -> np.ndarray:
    """Per-row horizontal shift of an integer shear: row ``y`` of an
    ``h``-row page moves right by ``round(drift * y / (h-1))`` pixels
    (round-half-away-from-zero, exact integer arithmetic — shared by
    the encoder and the deskew estimator so inversion is pixel-exact).
    ``drift`` is the edge-to-edge displacement: row 0 stays, the last
    row moves by exactly ``drift``."""
    if h <= 1 or drift == 0:
        return np.zeros(h, dtype=np.int64)
    y = np.arange(h, dtype=np.int64)
    mag = (2 * abs(int(drift)) * y + (h - 1)) // (2 * (h - 1))
    return mag if drift > 0 else -mag


def shear_page(img: np.ndarray, drift: int, salt: str = "") -> np.ndarray:
    """Apply an integer horizontal shear to a grayscale page: row ``y``
    shifts by ``_shear_shifts(h, drift)[y]``; the vacated margin fills
    with paper noise (sub-threshold, so binarization erases it)."""
    h, w = img.shape
    shifts = _shear_shifts(h, drift)
    lo, hi = int(shifts.min()), int(shifts.max())
    out_w = w + (hi - lo)
    rng = _rng_for(f"{drift}:{h}x{w}", "shear" + salt)
    out = rng.integers(0, PAPER_MAX + 1, size=(h, out_w), dtype=np.uint8)
    for y in range(h):
        off = int(shifts[y]) - lo
        out[y, off : off + w] = img[y]
    return out


def encode_image_skewed(text: str, drift: int, kind: str = "tiff", salt: str = "") -> bytes:
    """Encode text as a SKEWED single-page image blob — the scanned-
    rotated-page case pmOCR's ImageMagick ``-deskew 40`` preprocessor
    exists for (default.conf:97, README.md:115). ``drift`` is the
    edge-to-edge horizontal displacement in pixels (negative = leans
    the other way); it must be within the decoder's ``-deskew``-
    equivalent threshold (|drift| <= MAX_SKEW_SLOPE × (h-1)) or the
    page would be unrecoverable by design — rejected loudly here."""
    if kind not in IMAGE_KINDS:
        raise ValueError(f"not an image kind: {kind}")
    img = render_page(text, salt)
    max_drift = int(MAX_SKEW_SLOPE * (img.shape[0] - 1))
    if abs(int(drift)) > max_drift:
        raise ValueError(
            f"drift {drift} exceeds deskew threshold {max_drift} for a "
            f"{img.shape[0]}-row page (MAX_SKEW_SLOPE={MAX_SKEW_SLOPE})"
        )
    return _pack_image(shear_page(img, int(drift), salt), kind)


def render_columns(col_texts: list[str], salt: str = "") -> np.ndarray:
    """Render a MULTI-COLUMN page: each text becomes an independent
    column block, blocks are top-aligned and separated by a GUTTER_W
    all-paper gutter (plus each block's own noise border, so the
    effective paper run is wider). Shorter blocks are bottom-padded with
    paper noise. Reading order is left-to-right: the decode side's
    layout-analysis stage (segment_columns) must emit block 0's lines
    first, then block 1's — the classic two-column-article case real
    layout engines exist for."""
    imgs = [render_page(t, f"{salt}#c{i}") for i, t in enumerate(col_texts)]
    h = max(im.shape[0] for im in imgs)
    rng = _rng_for("\x01".join(col_texts), "cols" + salt)
    parts = []
    for i, im in enumerate(imgs):
        if im.shape[0] < h:
            pad = rng.integers(
                0, PAPER_MAX + 1, size=(h - im.shape[0], im.shape[1]), dtype=np.uint8
            )
            im = np.vstack([im, pad])
        parts.append(im)
        if i < len(imgs) - 1:
            parts.append(rng.integers(0, PAPER_MAX + 1, size=(h, GUTTER_W), dtype=np.uint8))
    return np.hstack(parts)


def encode_image_columns(col_texts: list[str], kind: str = "tiff", salt: str = "") -> bytes:
    """Encode texts as one multi-column single-page image blob."""
    if kind not in IMAGE_KINDS:
        raise ValueError(f"not an image kind: {kind}")
    return _pack_image(render_columns(col_texts, salt), kind)


def render_regions(rows: list[list[str]], salt: str = "") -> np.ndarray:
    """Render a Manhattan-layout page: each entry of `rows` is one
    full-width horizontal band — a single text block, or several
    column blocks (via render_columns) — bands right-padded with paper
    to the page width and separated by GUTTER_W all-paper rows (plus
    each band's own noise border, so the effective blank band is
    wider). Reading order is top-to-bottom, then left-to-right inside
    a band: exactly what xy_cut recovers."""
    imgs = [
        render_page(cols[0], f"{salt}#r{i}")
        if len(cols) == 1
        else render_columns(cols, f"{salt}#r{i}")
        for i, cols in enumerate(rows)
    ]
    wmax = max(im.shape[1] for im in imgs)
    rng = _rng_for("\x02".join("\x01".join(c) for c in rows), "regions" + salt)
    parts = []
    for i, im in enumerate(imgs):
        if im.shape[1] < wmax:
            pad = rng.integers(
                0, PAPER_MAX + 1, size=(im.shape[0], wmax - im.shape[1]), dtype=np.uint8
            )
            im = np.hstack([im, pad])
        parts.append(im)
        if i < len(imgs) - 1:
            parts.append(
                rng.integers(0, PAPER_MAX + 1, size=(GUTTER_W, wmax), dtype=np.uint8)
            )
    return np.vstack(parts)


def encode_image_regions(
    rows: list[list[str]], kind: str = "tiff", salt: str = ""
) -> bytes:
    """Encode a Manhattan-layout band/column structure as one page."""
    if kind not in IMAGE_KINDS:
        raise ValueError(f"not an image kind: {kind}")
    return _pack_image(render_regions(rows, salt), kind)


def encode_pdf(page_texts: list[str | list[str]], salt: str = "") -> bytes:
    """Encode a multi-page image-only PDF blob (one image per page).

    A page given as a str renders single-column; a page given as a
    list[str] renders multi-column (render_columns) — the decode side's
    layout analysis restores reading order per page, so mixed-layout
    documents (title page single-column, body two-column) round-trip."""
    out = [PDF_MAGIC, struct.pack("<I", len(page_texts))]
    for i, t in enumerate(page_texts):
        img = (
            render_columns(t, f"{salt}#p{i}")
            if isinstance(t, list)
            else render_page(t, f"{salt}#p{i}")
        )
        payload = _pack_image(img, "tiff")
        out.append(struct.pack("<I", len(payload)))
        out.append(payload)
    return b"".join(out)


def encode_corrupt(seed_text: str) -> bytes:
    """A poison-pill blob: wrong magic, undecodable (fixture archetype A6)."""
    rng = _rng_for(seed_text, "corrupt")
    return b"XXBAD!" + rng.integers(0, 256, size=64, dtype=np.uint8).tobytes()


# ---------------------------------------------------------------- audio codec
#
# The audio twin of the image codec (round-5 verdict item #4 — retires
# the last declared stub): a deterministic synthetic "speech" codec so
# the multimodal audio column has a REAL decode path without container
# libs. Same philosophy as the glyph scheme: each character is one
# fixed-size frame of int16 samples, bit j of its 7-bit code -> sample
# j is a loud tone (|s| >= AUDIO_TONE_MIN), else quiet noise
# (|s| <= AUDIO_NOISE_MAX); sample 7 carries even parity over the code
# bits (exactly the glyph parity row, so corruption is detected, not
# hallucinated through). Every byte derives from a PRNG seeded on the
# payload text — encode/decode round-trips are reproducible on any
# executor. Container: AUDIO_MAGIC + <IQ (sample_rate, n_samples) +
# n_samples little-endian int16 samples; decode_audio validates the
# full payload.

AUDIO_MAGIC = b"PMAU"
AUDIO_RATE = 8000
SAMPLES_PER_CHAR = 8  # 7 code bits + parity, one sample each
AUDIO_TONE_MIN = 12000   # tone samples are in ±[AUDIO_TONE_MIN, 32000)
AUDIO_NOISE_MAX = 4000   # noise samples are in ±[0, AUDIO_NOISE_MAX]


def encode_audio(text: str, salt: str = "", rate: int = AUDIO_RATE) -> bytes:
    """Encode text as a synthetic audio blob (FSK-ish: one 8-sample
    frame per character). Characters are masked to 7-bit like
    render_page, so round-trip equality holds for ASCII payloads."""
    rng = _rng_for(text, "audio" + salt)
    codes = np.frombuffer(text.encode("utf-8", "replace"), dtype=np.uint8)
    # mask to 7 bits AFTER utf-8: multi-byte chars become several frames
    # (decode returns the masked byte stream, the image codec convention)
    codes = codes & 0x7F
    n = codes.size * SAMPLES_PER_CHAR
    samples = rng.integers(-AUDIO_NOISE_MAX, AUDIO_NOISE_MAX + 1, size=n).astype(np.int16)
    bits = (codes[:, None] >> np.arange(7)[None, :]) & 1  # (chars, 7)
    parity = bits.sum(axis=1) % 2
    frames = samples.reshape(-1, SAMPLES_PER_CHAR)
    tone = rng.integers(AUDIO_TONE_MIN, 32000, size=(codes.size, SAMPLES_PER_CHAR))
    sign = rng.integers(0, 2, size=(codes.size, SAMPLES_PER_CHAR)) * 2 - 1
    mask = np.concatenate([bits, parity[:, None]], axis=1).astype(bool)
    frames[mask] = (tone * sign)[mask].astype(np.int16)
    return (
        AUDIO_MAGIC
        + struct.pack("<IQ", rate, n)
        + frames.astype("<i2").tobytes()
    )


def decode_audio(blob: bytes) -> tuple[str, int, int]:
    """Decode a synthetic audio blob -> (text, sample_rate, n_samples).

    Loud CodecError on bad magic, truncated payload, or parity failure
    (the poison-pill path, same discipline as recognize_block)."""
    b = bytes(blob)
    if b[:4] != AUDIO_MAGIC:
        raise CodecError("bad audio magic")
    if len(b) < 16:
        raise CodecError("truncated audio header")
    rate, n = struct.unpack("<IQ", b[4:16])
    payload = b[16:]
    if len(payload) != 2 * n:
        raise CodecError(f"truncated audio payload: {len(payload)} bytes for {n} samples")
    if n % SAMPLES_PER_CHAR != 0:
        raise CodecError(f"sample count {n} not a whole number of frames")
    frames = np.frombuffer(payload, dtype="<i2").reshape(-1, SAMPLES_PER_CHAR)
    amp = np.abs(frames.astype(np.int32))  # one pass; reused by both masks
    loud = amp >= AUDIO_TONE_MIN
    quiet = amp <= AUDIO_NOISE_MAX
    if not np.all(loud | quiet):
        raise CodecError("sample amplitude in the guard band — not this codec's output")
    bits = loud[:, :7].astype(np.uint8)
    codes = (bits * (1 << np.arange(7, dtype=np.uint8))[None, :]).sum(axis=1)
    parity = bits.sum(axis=1) % 2
    if not np.array_equal(parity, loud[:, 7].astype(np.uint8)):
        raise CodecError("audio parity check failed")
    text = codes[codes > 0].astype(np.uint8).tobytes().decode("latin-1")
    return text, int(rate), int(n)


# ---------------------------------------------------------------- video codec
#
# The video twin (round 5, third pass — completes the multimodal column
# story image→audio→video): a deterministic synthetic video container so
# the video column has a REAL decode path without cv2/av. A video is a
# timed frame sequence: each caption renders once (the image codec's
# glyph raster) and is HELD byte-identical for `hold` consecutive frames
# — the static-scene shape that makes frame sampling and transcription
# meaningful. Container: VIDEO_MAGIC + <II (fps, n_frames) + per frame
# <I length + an IMG-container payload (so frames decode through the
# SAME M1→M3 chain as pages). decode_video validates every frame;
# transcription collapses consecutive duplicate frames
# (the held scene transcribes once). Corruption inside any frame fails
# loudly through the glyph parity checks — error-as-data upstream.

VIDEO_MAGIC = b"PMVI"
VIDEO_FPS = 24
#: the one video container the engine decodes natively (the synthetic
#: codec); mp4/mkv need a real decoder (engines.register_engine) and
#: are NOT allow-listed — routing them here would flip docs from
#: done-with-skipped-span to failed.
VIDEO_KINDS = ("avi",)


def encode_video(
    captions: list[str], fps: int = VIDEO_FPS, hold: int = 2, salt: str = ""
) -> bytes:
    """Encode a caption sequence as a synthetic video blob: caption i
    renders once and is held for `hold` byte-identical frames."""
    if hold < 1:
        raise ValueError(f"hold must be >= 1, got {hold}")
    frames: list[bytes] = []
    for i, cap in enumerate(captions):
        payload = _pack_image(render_page(cap, f"{salt}#f{i}"), "tiff")
        frames.extend([payload] * hold)
    out = [VIDEO_MAGIC, struct.pack("<II", fps, len(frames))]
    for p in frames:
        out.append(struct.pack("<I", len(p)))
        out.append(p)
    return b"".join(out)


def decode_video(blob: bytes) -> tuple[list[str], int, int]:
    """Decode a synthetic video blob -> (per-frame texts, fps, n_frames).

    Loud CodecError on bad magic, truncated header/frame table/frame,
    or trailing bytes; per-frame content flows through the full OCR
    chain (rasterize → binarize/trim → layout → recognize), so frame
    corruption surfaces as the same parity CodecError pages raise."""
    b = bytes(blob)
    if b[:4] != VIDEO_MAGIC:
        raise CodecError("bad video magic")
    if len(b) < 12:
        raise CodecError("truncated video header")
    fps, n = struct.unpack("<II", b[4:12])
    off = 12
    texts: list[str] = []
    for _ in range(n):
        if off + 4 > len(b):
            raise CodecError("truncated video frame table")
        (flen,) = struct.unpack("<I", b[off : off + 4])
        off += 4
        frame = b[off : off + flen]
        off += flen
        if len(frame) != flen:
            raise CodecError("truncated video frame")
        img = rasterize(frame)[0]
        binary = binarize_trim(img)
        lines: list[str] = []
        for block in segment_columns(binary):
            lines.extend(recognize_block(segment_lines(block)))
        texts.append("\n".join(lines))
    if off != len(b):
        raise CodecError("trailing bytes after video frames")
    return texts, int(fps), int(n)


def transcribe_video(blob: bytes) -> tuple[str, int, int]:
    """Full video 'transcription': decode every frame, collapse runs of
    consecutive identical frame texts (a held static scene transcribes
    once), join captions by newline -> (transcript, fps, n_frames)."""
    texts, fps, n = decode_video(blob)
    caps = [t for i, t in enumerate(texts) if i == 0 or t != texts[i - 1]]
    return "\n".join(caps), fps, n


# ---------------------------------------------------------------- decode stages


def rasterize(blob: bytes) -> list[np.ndarray]:
    """M1 — container bytes -> list of grayscale page images.

    pmOCR analog: `convert -density $RESOLUTION in.pdf tmp.tif`
    (pmocr.sh:1889-1904); images pass through unchanged.
    """
    if blob[:6] == IMG_MAGIC:
        (h, w) = struct.unpack("<II", blob[10:18])
        arr = np.frombuffer(blob[18 : 18 + h * w], dtype=np.uint8)
        if arr.size != h * w:
            raise CodecError("truncated image payload")
        return [arr.reshape(h, w)]
    if blob[:6] == PDF_MAGIC:
        (npages,) = struct.unpack("<I", blob[6:10])
        pages = []
        off = 10
        for _ in range(npages):
            if off + 4 > len(blob):
                raise CodecError("truncated pdf page table")
            (plen,) = struct.unpack("<I", blob[off : off + 4])
            off += 4
            page = blob[off : off + plen]
            off += plen
            pages.extend(rasterize(page))
        return pages
    raise CodecError(f"bad magic: {blob[:6]!r}")


def _shear_score(ys: np.ndarray, xs: np.ndarray, shifts: np.ndarray) -> int:
    """Column-concentration score of an unshear candidate: sum of
    squared per-column ink counts after shifting each row back. The
    true inverse shear re-merges every glyph column (and the all-ink
    anchor spine) into single pixel columns, maximizing concentration;
    any other shift smears them (Cauchy–Schwarz: total ink is fixed,
    so the split a+b contributes a²+b² < (a+b)²)."""
    x2 = xs - shifts[ys]
    x2 = x2 - x2.min()
    cnt = np.bincount(x2).astype(np.int64)
    return int((cnt * cnt).sum())


def estimate_drift(binary: np.ndarray) -> int:
    """Estimate the integer edge-to-edge shear drift of a binarized
    page (0 = straight). Fast path: every rendered line starts with an
    all-ink anchor column, so on a straight page the per-row leftmost
    ink x is CONSTANT — one vectorized check and no scoring work on
    the (overwhelmingly common) straight page. Slow path: coarse
    least-squares slope of the leftmost-ink spine, then exact
    column-concentration scoring over a ±2 refinement window (ties
    prefer the smaller |drift|, then the smaller drift — deterministic
    on every engine)."""
    h = binary.shape[0] if binary.ndim == 2 else 0
    if h <= 1 or binary.size == 0:
        return 0
    max_drift = int(MAX_SKEW_SLOPE * (h - 1))
    if max_drift == 0:
        return 0
    has_ink = binary.any(axis=1)
    rows = np.flatnonzero(has_ink)
    if rows.size < 2:
        return 0
    minx = binary.argmax(axis=1)[rows]
    if np.all(minx == minx[0]):
        return 0  # vertical anchor spine — straight page
    # Exact path: a PURE shear of a straight page displaces the anchor
    # spine by exactly the shear-shift profile, so the leftmost-ink
    # offsets (minx - min) must EQUAL sh[rows] - min(sh[rows]) for the
    # true drift. A unique profile match is definitive — this is what
    # disambiguates tiny pages where column-concentration scoring can
    # coincidentally prefer a wrong candidate (the '1^?!'/drift=2
    # hypothesis counterexample: score(0)=158 > score(2)=156 on a
    # 12x9 page). Damaged/noisy spines match nothing and fall through
    # to the scoring path below.
    prof = minx - minx.min()
    exact = [
        k
        for k in range(-max_drift, max_drift + 1)
        if k != 0
        and np.array_equal(
            (sr := _shear_shifts(h, k)[rows]) - sr.min(), prof
        )
    ]
    if len(exact) == 1:
        return exact[0]
    yr = rows.astype(np.float64)
    xr = minx.astype(np.float64)
    yc = yr - yr.mean()
    denom = float((yc * yc).sum())
    slope = float((yc * (xr - xr.mean())).sum()) / denom if denom > 0 else 0.0
    coarse = int(np.clip(round(slope * (h - 1)), -max_drift, max_drift))
    ys, xs = np.nonzero(binary)
    cands = {0}
    for k in range(coarse - 2, coarse + 3):
        if -max_drift <= k <= max_drift:
            cands.add(k)
    best_k, best_key = 0, None
    for k in sorted(cands):
        score = _shear_score(ys, xs, _shear_shifts(h, k))
        key = (-score, abs(k), k)
        if best_key is None or key < best_key:
            best_k, best_key = k, key
    return best_k


def unshear(binary: np.ndarray, drift: int) -> np.ndarray:
    """Invert an integer shear on a binary page: shift row ``y`` back
    by ``_shear_shifts(h, drift)[y]``. Width grows by the shift range
    (margins are all-paper and vanish at the trim step); for a page
    produced by shear_page with the same drift this reproduces the
    original binary exactly."""
    if drift == 0 or binary.size == 0:
        return binary
    h, w = binary.shape
    shifts = _shear_shifts(h, drift)
    lo, hi = int(shifts.min()), int(shifts.max())
    out = np.zeros((h, w + hi - lo), dtype=bool)
    for y in range(h):
        off = hi - int(shifts[y])
        out[y, off : off + w] = binary[y]
    return out


def binarize_trim(img: np.ndarray) -> np.ndarray:
    """M2 — threshold to ink/paper, DESKEW, and trim blank borders.

    pmOCR analog: ImageMagick border/trim/deskew preprocessing
    (pmocr.sh:1906-1921, default.conf:96-99 — the reference ships
    ``-deskew 40`` in OCR_PREPROCESSOR_ARGS, default.conf:97 /
    README.md:115: scanned pages arrive rotated and the preprocessor
    straightens them before recognition). Here the skew model is an
    integer horizontal shear (the small-angle rotation approximation,
    exactly invertible pixel-for-pixel), estimated per page by
    estimate_drift and undone by unshear — so a page encoded with
    encode_image_skewed decodes through the SAME downstream stages as
    a straight page, byte-identical text and word-box geometry.
    """
    binary = img >= BINARIZE_THRESHOLD
    drift = estimate_drift(binary)
    if drift:
        binary = unshear(binary, drift)
    rows = np.flatnonzero(binary.any(axis=1))
    cols = np.flatnonzero(binary.any(axis=0))
    if rows.size == 0 or cols.size == 0:
        return np.zeros((0, 0), dtype=bool)
    return binary[rows[0] : rows[-1] + 1, cols[0] : cols[-1] + 1]


def segment_columns(binary: np.ndarray) -> list[np.ndarray]:
    """M2b — page-layout analysis: split a trimmed binary page into
    reading-order column blocks at full-page-height paper gutters
    (runs of >= GUTTER_MIN all-paper pixel columns), then row-trim each
    block to its own ink box (blocks of different heights share the
    page, so the shorter block carries trailing paper rows that would
    otherwise segment into phantom empty lines).

    pmOCR analog: the page-layout step real OCR engines run before
    recognition (tesseract --psm auto column detection; pmOCR passes
    pages whole, pmocr.sh:1923-1963, and inherits the engine's layout).

    Single-column pages are PROVABLY untouched: every rendered char —
    including space — inks at least one pixel in its column, and the
    page's longest line covers every x of the trimmed width, so a
    full-height paper run cannot exist inside a single-column page;
    the gutter written by render_columns is the only thing that splits.
    """
    if binary.size == 0:
        return []
    ink_idx = np.flatnonzero(binary.any(axis=0))
    if ink_idx.size == 0:
        return []
    # gap between consecutive ink columns = diff - 1; split at >= GUTTER_MIN
    splits = np.flatnonzero(np.diff(ink_idx) > GUTTER_MIN)
    starts = np.concatenate([[0], splits + 1])
    ends = np.concatenate([splits, [ink_idx.size - 1]])
    blocks = []
    for s0, e0 in zip(starts, ends):
        blk = binary[:, ink_idx[s0] : ink_idx[e0] + 1]
        rows = np.flatnonzero(blk.any(axis=1))
        blocks.append(blk[rows[0] : rows[-1] + 1])
    return blocks


def xy_cut(binary: np.ndarray, axis: int = 0) -> list[np.ndarray]:
    """M2c — recursive XY-cut page segmentation (Nagy, Seth &
    Viswanathan, the classic top-down layout-analysis algorithm):
    alternately split the ink bounding box at all-paper bands of
    >= GUTTER_MIN rows (Y) or columns (X), recursing into each piece
    with the other axis preferred, until no cut fires; leaves come
    back ink-trimmed, in reading order (top-to-bottom, then
    left-to-right). Y takes priority at every level — the Manhattan-
    layout disambiguation: a full-width title above two columns must
    split title-first, even though the inter-column gutter also spans
    the full page height through the title band's right padding.

    Generalizes segment_columns (a pure multi-column page yields the
    identical blocks); a two-level layout (title band + column pair)
    yields [title, left column, right column]. Single text blocks are
    provably stable: the inter-line separator is 1 all-paper row
    (< GUTTER_MIN) and the anchor column inks every band, so neither
    axis can cut inside a block.

    pmOCR analog: tesseract --psm 1/3 automatic page segmentation;
    pmOCR passes pages whole (pmocr.sh:1923-1963) and inherits the
    engine's reading order."""
    if binary.size == 0:
        return []
    rows = np.flatnonzero(binary.any(axis=1))
    cols = np.flatnonzero(binary.any(axis=0))
    if rows.size == 0:
        return []
    blk = binary[rows[0] : rows[-1] + 1, cols[0] : cols[-1] + 1]
    for ax in (axis, 1 - axis):
        ink_idx = np.flatnonzero(blk.any(axis=1 - ax))
        cuts = np.flatnonzero(np.diff(ink_idx) > GUTTER_MIN)
        if cuts.size:
            starts = np.concatenate([[0], cuts + 1])
            ends = np.concatenate([cuts, [ink_idx.size - 1]])
            out: list[np.ndarray] = []
            for s0, e0 in zip(starts, ends):
                sub = (
                    blk[ink_idx[s0] : ink_idx[e0] + 1, :]
                    if ax == 0
                    else blk[:, ink_idx[s0] : ink_idx[e0] + 1]
                )
                out.extend(xy_cut(sub, axis=1 - ax))
            return out
    return [blk]


def segment_lines(binary: np.ndarray) -> list[np.ndarray]:
    """M3a — split a trimmed binary page into GLYPH_H-row line bands."""
    if binary.size == 0:
        return []
    bands = []
    top = 0
    while top < binary.shape[0]:
        band = binary[top : top + GLYPH_H]
        if band.shape[0] < GLYPH_H:
            pad = np.zeros((GLYPH_H - band.shape[0], binary.shape[1]), dtype=bool)
            band = np.vstack([band, pad])
        bands.append(band)
        top += GLYPH_H + 1  # skip separator row
    return bands


def recognize_block(bands: list[np.ndarray]) -> list[str]:
    """M3b — decode GLYPH_H-row bands back to characters, one string per
    band. ALL of a block's lines decode in one stacked numpy pass —
    per-line numpy dispatch was ~half of whole-blob decode time on
    multi-line pages.

    Rectangularity precondition: segment_lines pads every band to
    GLYPH_H ROWS, but np.stack also needs equal WIDTHS — true only for
    bands cut from the SAME column block (segment_lines of one trimmed
    block). Mixing bands across blocks of different widths is a caller
    bug; checked here so it fails as a CodecError, not an opaque numpy
    shape error."""
    out = [""] * len(bands)
    idx = [i for i, b in enumerate(bands) if b.size > 0]
    if not idx:
        return out
    widths = {bands[i].shape[1] for i in idx}
    if len(widths) > 1:
        raise CodecError(
            f"recognize_block needs same-block (equal-width) bands, got widths {sorted(widths)}"
        )
    stack = np.stack([bands[i] for i in idx])  # (L, GLYPH_H, W)
    bits = stack[:, :7, :].astype(np.uint8)
    codes = (bits * (1 << np.arange(7, dtype=np.uint8))[None, :, None]).sum(axis=1)
    parity = bits.sum(axis=1) % 2
    parity_rows = (
        stack[:, 7, :].astype(np.uint8) if stack.shape[1] > 7 else np.zeros_like(codes)
    )
    real = (codes > 0) & (codes != ANCHOR_CODE)  # skip padding + anchor columns
    if not np.array_equal(parity[real], parity_rows[real]):
        raise CodecError("parity check failed")
    u8 = codes.astype(np.uint8)
    # codes are 7-bit, so latin-1 == chr() per byte — one vectorized
    # decode per line instead of a per-char python loop
    for j, i in enumerate(idx):
        out[i] = u8[j][real[j]].tobytes().decode("latin-1")
    return out


def recognize_words(blob: bytes) -> list[tuple[int, int, str, int, int, int, int]]:
    """M3c — hOCR-style word geometry: decode a media blob and report
    every word with its bounding box in integer pixel coordinates.

    This is the layout output real engines expose next to plain text —
    tesseract's hOCR/TSV modes emit per-word bboxes, and pmOCR forwards
    whatever container the engine writes (the engine output-extension
    plumbing around pmocr.sh:1923-1963); the plain-text targets just
    drop the geometry. Here the synthetic codec makes the boxes exact
    and therefore oracle-checkable.

    Returns (line_no, word_no, word, x0, y0, x1, y1):
      * line_no — global reading-order line index (across column blocks
        and pages);
      * word_no — 0-based within the line; words are maximal space-free
        runs of the recognized string;
      * x0/x1 — ink-column span, BLOCK-LOCAL trimmed coordinates,
        x1 exclusive. The positions come from the IMAGE (flatnonzero
        of the decoded column mask), not from string arithmetic, so a
        segmentation shift moves the boxes and fails the oracle hash;
      * y0/y1 — the line band's rows (bands sit at block-local
        ``band_index * (GLYPH_H + 1)``).
    """
    out: list[tuple[int, int, str, int, int, int, int]] = []
    offset = 0
    for words, n_bands in recognize_words_blocks(blob):
        out.extend(
            (ln + offset, wn, w, x0, y0, x1, y1)
            for ln, wn, w, x0, y0, x1, y1 in words
        )
        offset += n_bands
    return out


def recognize_words_blocks(
    blob: bytes,
) -> list[tuple[list[tuple[int, int, str, int, int, int, int]], int]]:
    """Per-BLOCK view of recognize_words: one (words, n_bands) pair per
    column block in reading order, line_no and x both block-local.
    This is the shape detect_table needs — its whitespace-channel
    column detection is only meaningful within one block's coordinate
    frame (recognize_words' flat output reuses x ranges across
    blocks). n_bands counts wordless (all-space) bands too, so callers
    can reconstruct recognize_words' global line numbering exactly."""
    import re

    pages = rasterize(bytes(blob))
    out: list[tuple[list, int]] = []
    for img in pages:
        binary = binarize_trim(img)
        for block in segment_columns(binary):
            bands = segment_lines(block)
            texts = recognize_block(bands)  # parity-validated
            # the column-code mask in ONE stacked pass for the whole
            # block (recognize_block's own lesson: per-band numpy
            # dispatch was ~half of multi-line decode time), sliced
            # per band below
            nonempty = [b for b in bands if b.size]
            if nonempty:
                stack_bits = np.stack(nonempty)[:, :7, :].astype(np.uint8)
                block_codes = (
                    stack_bits * (1 << np.arange(7, dtype=np.uint8))[None, :, None]
                ).sum(axis=1)
            ne_i = 0
            words: list[tuple[int, int, str, int, int, int, int]] = []
            for bi, (band, text) in enumerate(zip(bands, texts)):
                if band.size:
                    codes = block_codes[ne_i]
                    ne_i += 1
                    cols = np.flatnonzero((codes > 0) & (codes != ANCHOR_CODE))
                else:
                    cols = np.empty(0, dtype=np.int64)
                y0 = bi * (GLYPH_H + 1)
                for wno, m in enumerate(re.finditer(r"[^ ]+", text)):
                    words.append(
                        (
                            bi,
                            wno,
                            m.group(0),
                            int(cols[m.start()]),
                            y0,
                            int(cols[m.end() - 1]) + 1,
                            y0 + GLYPH_H,
                        )
                    )
            out.append((words, len(bands)))
    return out


def detect_table(
    words: list[tuple[int, int, str, int, int, int, int]], min_gap: int = 2
) -> list[tuple[int, int, str, int, int, int, int]]:
    """M3d — GEOMETRIC table reconstruction from word boxes: column
    separators are x-gaps of >= min_gap pixels that no word of ANY
    line crosses (full-height whitespace channels), columns are the
    occupied spans between them, and a cell is the words of one
    (line, column) in x order.

    The layout-true analog of pmOCR's csv hack (pmocr.sh:2017/2031,
    a per-line textual 's/  +/;/' rewrite): the textual form splits
    each row independently and mis-aligns ragged tables; the geometric
    form recovers the actual column structure the way table-aware OCR
    engines do. min_gap=2 matches the csv hack's 2-space rule, so on
    a perfectly aligned space-padded table both agree.

    Input: recognize_words output for ONE block (block-local x).
    Returns (row_no, col_no, cell, x0, x1, y0, y1): row_no/col_no are
    0-based dense indexes over lines-with-words and detected columns;
    x0/x1 the column's occupied span; y0/y1 the line band's rows.
    Cells are emitted only where a word exists (empty cells have no
    geometry to anchor them)."""
    if not words:
        return []
    xmin = min(w[3] for w in words)
    xmax = max(w[5] for w in words)
    occupied = np.zeros(xmax - xmin, dtype=bool)
    for _, _, _, x0, _, x1, _ in words:
        occupied[x0 - xmin : x1 - xmin] = True
    # column spans: occupied islands merged across sub-min_gap gaps
    cols: list[tuple[int, int]] = []  # absolute-x [a, b) spans
    run_start = None
    gap = 0
    for i, occ in enumerate(occupied):
        if occ:
            if run_start is None:
                run_start = i
            elif gap >= min_gap:
                cols.append((run_start + xmin, last_end + xmin))
                run_start = i
            gap = 0
            last_end = i + 1
        elif run_start is not None:
            gap += 1
    cols.append((run_start + xmin, last_end + xmin))
    lines = sorted({w[0] for w in words})
    row_of = {ln: i for i, ln in enumerate(lines)}
    cells: dict[tuple[int, int], list] = {}
    for ln, _, w, x0, y0, x1, y1 in sorted(words, key=lambda t: (t[0], t[3])):
        ci = next(i for i, (a, b) in enumerate(cols) if a <= x0 < b)
        cells.setdefault((row_of[ln], ci), []).append((w, y0, y1))
    return [
        (
            r,
            c,
            " ".join(w for w, _, _ in ws),
            cols[c][0],
            cols[c][1],
            ws[0][1],
            ws[0][2],
        )
        for (r, c), ws in sorted(cells.items())
    ]


def to_hocr(
    words: list[tuple[int, int, str, int, int, int, int]], page_id: str = "page_1"
) -> str:
    """Format recognize_words output as an hOCR document — the actual
    XHTML microformat tesseract emits for its `hocr` output config
    (ocr_page / ocr_line / ocrx_word classes, bbox in the title attr;
    pmOCR forwards the engine's container untouched,
    pmocr.sh:1923-1963). Line and page bboxes are the unions of their
    words'; text AND the caller-supplied page_id are XML-escaped (the
    CLI passes raw media_refs as page ids). Deterministic: element ids
    derive from line/word numbers only."""
    from xml.sax.saxutils import escape

    page_id = escape(page_id, {"'": "&apos;", '"': "&quot;"})

    by_line: dict[int, list] = {}
    for ln, wn, w, x0, y0, x1, y1 in words:
        by_line.setdefault(ln, []).append((wn, w, x0, y0, x1, y1))
    lines_html = []
    page_box = None
    for ln in sorted(by_line):
        ws = sorted(by_line[ln])
        lx0 = min(w[2] for w in ws)
        ly0 = min(w[3] for w in ws)
        lx1 = max(w[4] for w in ws)
        ly1 = max(w[5] for w in ws)
        page_box = (
            (lx0, ly0, lx1, ly1)
            if page_box is None
            else (
                min(page_box[0], lx0),
                min(page_box[1], ly0),
                max(page_box[2], lx1),
                max(page_box[3], ly1),
            )
        )
        spans = "".join(
            f"<span class='ocrx_word' id='word_{ln}_{wn}' "
            f"title='bbox {x0} {y0} {x1} {y1}'>{escape(w)}</span>"
            for wn, w, x0, y0, x1, y1 in ws
        )
        lines_html.append(
            f"<span class='ocr_line' id='line_{ln}' "
            f"title='bbox {lx0} {ly0} {lx1} {ly1}'>{spans}</span>"
        )
    px0, py0, px1, py1 = page_box or (0, 0, 0, 0)
    body = "".join(lines_html)
    return (
        "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n"
        "<html xmlns=\"http://www.w3.org/1999/xhtml\"><head>"
        "<meta name='ocr-system' content='pmocr-spark'/>"
        "<meta name='ocr-capabilities' content='ocr_page ocr_line ocrx_word'/>"
        "</head><body>"
        f"<div class='ocr_page' id='{page_id}' "
        f"title='bbox {px0} {py0} {px1} {py1}'>{body}</div>"
        "</body></html>"
    )


def decode_blob(blob: bytes) -> str:
    """Full per-blob OCR chain M1->M2 (trim + layout)->M3; column blocks
    read in order (left column fully, then the next), page texts joined
    by newline. Audio and video containers (round 5) dispatch on magic
    to their codecs — same content-magic routing the fused UDF applies
    to html, so an interleaved document can carry text + image + html +
    audio + video spans through ONE decode path."""
    b = bytes(blob)
    if b[:4] == AUDIO_MAGIC:
        return decode_audio(b)[0]
    if b[:4] == VIDEO_MAGIC:
        return transcribe_video(b)[0]
    pages = rasterize(bytes(blob))
    page_texts = []
    for img in pages:
        binary = binarize_trim(img)
        lines = []
        for block in segment_columns(binary):
            lines.extend(recognize_block(segment_lines(block)))
        page_texts.append("\n".join(lines))
    return "\n".join(page_texts)


# ---------------------------------------------------------------- text ops


def recognize_regions(blob: bytes) -> list[str]:
    """Layout-analysis decode: rasterize -> binarize_trim -> recursive
    xy_cut -> per-leaf line segmentation + recognition. Returns the
    leaf-block texts (lines joined by newline) in reading order, pages
    concatenated — the structured form of decode_blob for documents
    whose layout matters (title bands, multi-column articles)."""
    out: list[str] = []
    for img in rasterize(bytes(blob)):
        binary = binarize_trim(img)
        for block in xy_cut(binary):
            out.append("\n".join(recognize_block(segment_lines(block))))
    return out


def normalize_text(text: str) -> str:
    """Text-span passthrough normalization (searchable-PDF analog).

    pmOCR passes already-text documents through untouched
    (pmocr.sh:2162-2165); we additionally canonicalize line endings and
    strip trailing whitespace so outputs are platform-stable. Interior
    space runs are preserved (the CSV hack needs them).
    """
    t = text.replace("\r\n", "\n").replace("\r", "\n")
    t = "\n".join(ln.rstrip(" \t") for ln in t.split("\n"))
    return t.rstrip("\n")


def csv_hack(text: str) -> str:
    """pmOCR's CSV rewrite: runs of >=2 spaces -> ';'.

    NB the reference's sed regex `s/   */;/g` (pmocr.sh:2017/2031)
    matches 2+ spaces despite the comment claiming 4+ (SURVEY.md §7.4.5).
    """
    import re

    return re.sub("  +", ";", text)

