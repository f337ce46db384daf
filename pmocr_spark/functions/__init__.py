"""Scalar/string function library (SURVEY.md §2.4).

Catalyst Column expressions (JVM-side, codegen'd — never a Python UDF,
nfc_normalize excepted). Of pmOCR's generic ofunctions.sh helpers only
the ones the engine calls are carried (X1 csv_hack, F7 output_name),
the way pmOCR's merge.sh ships only the library functions its core uses.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def csv_hack(col) -> Column:
    """X1 — runs of >=2 spaces -> ';' (pmocr.sh:2017/2031; the sed regex
    `s/   */;/g` matches 2+, not the comment's claimed 4+)."""
    return F.regexp_replace(col, "  +", ";")


#: query parameters dropped by canonical_url — click-tracking noise that
#: makes syntactically distinct URLs point at identical pages (the
#: CommonCrawl / SURT-style normalization set, public practice).
TRACKING_PARAM_RE = r"^(utm_[^=]*|ref|fbclid|gclid)="


def canonical_url(col) -> Column:
    """URL canonicalization for URL-level dedup (web-pipeline analog of
    the F7/F8 name projections; no pmOCR counterpart — pmOCR never sees
    URLs, this is north-rule-native web-extraction hygiene).

    Rules (SURT/CommonCrawl-style, deterministic, documented order):
      1. scheme lowercased;
      2. userinfo (``user:pass@``) stripped;
      3. host lowercased, leading ``www.`` stripped;
      4. default port dropped (``:80`` for http, ``:443`` for https),
         non-default ports preserved;
      5. path: duplicate ``//`` collapsed, trailing slashes stripped,
         empty path -> ``/`` (case PRESERVED — paths are case-sensitive);
      6. query: split on ``&``, tracking params (``utm_*``, ``ref``,
         ``fbclid``, ``gclid``) and empties dropped, remainder sorted
         lexicographically and rejoined (dropped entirely if none
         survive);
      7. fragment dropped.

    Entirely Catalyst built-ins (regexp/split/filter/array_sort) — one
    codegen'd map expression, no Python, so URL dedup at 10^12 rows is
    scan + one hash aggregate."""
    url = F.col(col) if isinstance(col, str) else col
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(url, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    apq = F.regexp_replace(rest, r"#.*$", "")  # drop fragment
    authority = F.regexp_replace(
        F.regexp_extract(apq, r"^([^/?]*)", 1), r"^[^@]*@", ""
    )
    host = F.regexp_replace(
        F.lower(F.regexp_extract(authority, r"^([^:]*)", 1)), r"^www\.", ""
    )
    port = F.regexp_extract(authority, r":([0-9]+)$", 1)
    keep_port = (port != F.lit("")) & ~(
        ((scheme == F.lit("http")) & (port == F.lit("80")))
        | ((scheme == F.lit("https")) & (port == F.lit("443")))
    )
    raw_path = F.regexp_extract(apq, r"^[^/?]*([^?]*)", 1)
    path = F.regexp_replace(F.regexp_replace(raw_path, r"/{2,}", "/"), r"/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    qparams = F.filter(
        F.split(F.regexp_extract(apq, r"\?(.*)$", 1), "&"),
        lambda p: (p != F.lit("")) & ~p.rlike(TRACKING_PARAM_RE),
    )
    query = F.concat_ws("&", F.array_sort(qparams))
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), query)),
    )


def dehyphenate(col) -> Column:
    """OCR post-processing: repair hyphenated line-break word splits
    (``exam-\\n ple`` -> ``example``).

    Joins a word-internal hyphen sitting immediately before a line
    break with its lowercase/digit continuation on the next line — the
    standard always-join de-hyphenation heuristic OCR pipelines apply
    after page recognition. Mid-line compound hyphens (``well-known``)
    are untouched because no newline follows them; a continuation that
    starts uppercase (likely a genuine compound across the break) is
    also left alone. pmOCR analog: the X1 sed post-processing family
    (pmocr.sh:2013-2043) generalized from CSV repair to OCR text
    repair. One codegen'd regexp — map-only at any scale."""
    target = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(target, "([A-Za-z0-9])-\n[ \t]*([a-z0-9])", "$1$2")


#: reflow's paragraph sentinel — a control byte the document corpus can
#: never contain (test-pinned, like the BPE chr(31) wrapper); runs of
#: >=2 newlines hide behind it while single hard-wraps become spaces.
REFLOW_SENTINEL = "\x00"


def reflow(col) -> Column:
    """OCR post-processing: merge single (hard-wrap) line breaks into
    spaces while PRESERVING blank-line paragraph boundaries.

    Recognized OCR output is line-structured (one string per segmented
    line); downstream text pipelines want paragraph-flow text. Three
    codegen regexps: (1) protect runs of >=2 newlines behind a
    sentinel byte the corpus cannot contain, (2) turn every remaining
    (single) newline into one space, (3) restore each protected run as
    exactly one blank-line paragraph break. Map-only, no Python."""
    target = F.col(col) if isinstance(col, str) else col
    protected = F.regexp_replace(target, "\n{2,}", REFLOW_SENTINEL)
    spaced = F.regexp_replace(protected, "\n", " ")
    return F.regexp_replace(spaced, REFLOW_SENTINEL, "\n\n")


def split_sentences(col) -> Column:
    """Sentence segmentation: split AFTER terminal punctuation
    ([.!?], possibly repeated) followed by whitespace — each sentence
    keeps its punctuation, inter-sentence whitespace is consumed. The
    pre-chunking step LLM pipelines run so context-window splits land
    on sentence boundaries instead of mid-sentence (q46 part='chunk'
    consumes its output shape). One codegen split (Java-regex
    lookbehind), map-only; row amplification bounded by sentence
    count."""
    target = F.col(col) if isinstance(col, str) else col
    return F.split(target, r"(?<=[.!?])\s+")


#: chars outside Latin-1 (> U+00FF) — text containing any cannot be a
#: bytes-misread-as-Latin-1 artifact, so the repair skips it
_NON_LATIN1 = "[^\\x00-\\xff]"


def fix_mojibake(col) -> Column:
    """Repair UTF-8-read-as-Latin-1 mojibake (ftfy's core fix, the
    classic OCR/web-ingest encoding bug): 'hÃ©llo' was 'héllo' whose
    UTF-8 bytes got decoded as Latin-1 once. The inverse is
    re-encoding as Latin-1 and decoding as UTF-8 — applied ONLY when
    (a) every char is Latin-1-representable and (b) the resulting
    bytes are valid UTF-8 (F.is_valid_utf8), both checked lazily
    inside the CASE so Spark 4's MALFORMED_CHARACTER_CODING errors
    can never fire; anything else passes through untouched. Pure
    codegen — encode/decode/rlike, no Python. ASCII text is a fixed
    point of the transform (single-byte UTF-8 == Latin-1), so clean
    corpora are untouched by construction; the known ftfy tradeoff —
    text that legitimately spells 'Ã©' — repairs too, and real
    corpora accept it (such sequences are vanishingly rare outside
    actual mojibake)."""
    c = F.col(col) if isinstance(col, str) else col
    enc = F.encode(c, "ISO-8859-1")
    return F.when(
        ~c.rlike(_NON_LATIN1) & F.is_valid_utf8(enc), F.decode(enc, "UTF-8")
    ).otherwise(c)


def is_mojibake(col) -> Column:
    """1 when fix_mojibake performs a real repair: a multi-byte UTF-8
    sequence collapsed, so the repaired text is strictly shorter (an
    ASCII/no-op pass-through keeps its length)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.length(fix_mojibake(c)) < F.length(c)).cast("long")


def nfc_normalize(col) -> Column:
    """Unicode NFC normalization (UAX #15) — canonical composition so
    'e' + U+0301 and precomposed U+00E9 hash identically. The text-
    hygiene step every multilingual corpus runs before dedup/counting:
    decomposed sequences (common in OCR output and mac-filesystem
    provenance) otherwise split exact-dedup clusters and token counts.

    The ONE function in this module that is not a Catalyst builtin —
    Spark has no NFC expression, so this is the documented Arrow-
    batched exception (pandas UDF over unicodedata; map-only, never
    row-at-a-time Python). Under the driver gate as q40 part='nfc'
    against DuckDB's independent nfc_normalize()."""
    import unicodedata

    _nfc = F.pandas_udf(
        lambda s: s.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        ),
        "string",
    )
    return _nfc(F.col(col) if isinstance(col, str) else col)


def output_name(
    stem_col, job_ts: str, suffix: str = "_OCR", ext: str = ".txt", addition: str | None = None
) -> Column:
    """F7 — output-name projection (pmocr.sh:1880, default.conf:150):
    stem + addition + suffix + ext. The default addition is an ISO-ish
    job timestamp; pmOCR's --text=/--filename-addition= overrides it
    (pmocr.sh:2316-2321). job_ts is a fixed job parameter, never wall
    clock (SURVEY.md §7.4.3); collision resolution (F8) is a window
    row_number at the call site."""
    add = "_" + job_ts if addition is None else addition
    return F.concat(stem_col, F.lit(add), F.lit(suffix), F.lit(ext))
