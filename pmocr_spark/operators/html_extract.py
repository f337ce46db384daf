"""HTML main-content extraction — boilerplate strip via DOM heuristics.

The north rule names "HTML boilerplate strip, PDF/layout parse, DOM
heuristics" as the stages of the main-content extraction pipeline. The
reference (pmOCR) never sees HTML — its allow-list is scanner formats
(default.conf:14) — so this operator is north-rule-native rather than a
reference-parity item: it gives the interleaved-document pipeline an
``html`` span kind whose blobs are web pages, extracted to their main
content the same way media spans are OCR-decoded.

Architecture (Spark-first):

- The extractor is PURE PYTHON over stdlib ``html.parser`` — no bs4 /
  lxml / trafilatura in this container — and runs inside the SAME fused
  Arrow pandas UDF as media decode (udfs.make_ocr_extract): blobs are
  dispatched by CONTENT MAGIC (``<!doctype`` / ``<html``), exactly like
  the codec's ``PMIMG1``/``PMPDF1`` dispatch, so the pipeline plan is
  unchanged — one blob scan, one span join, one UDF pass, and the html
  route works under every OCR engine (the engine seam only ever sees
  genuine media bytes).
- At 10^12-doc scale this is a map-only transformation: html bytes ride
  the existing never-shuffle blob substrate (broadcast-spans / bucketed
  join) and the extractor is CPU-bound per blob with zero cross-row
  state — it scales embarrassingly.

Heuristic (boilerpipe/Arc90-style text-and-link-density scoring):

1. Parse into ATOMIC TEXT BLOCKS — maximal text runs owned by their
   nearest block-level element — tracking per block: visible text,
   anchor-text length, whether the block tag is a paragraph, and
   inherited class/id hints.
2. Drop everything under EXCLUDED elements (nav, header, footer, aside,
   script, style, form, ...): structurally declared boilerplate.
3. Score each block  ``(len * (1 - link_density)^2 + P_BONUS?) * hint``
   where hint is 0.1 for negative class/id ancestry (comment, sidebar,
   ad, menu, ...), 3.0 for positive ancestry (content, article, main,
   post, ...; <article>/<main> tags count), else 1.0. Link-heavy menus
   score ~0 regardless of length; long plain prose dominates.
4. Group blocks by nearest CONTAINER element (article, main, section,
   div, td, body); the container with the highest score sum wins and
   its non-empty block texts, in document order, joined by newline, are
   the main content.

Determinism: pure function of the input string; ties broken by document
order. Malformed HTML never raises — html.parser is tolerant and every
stack operation here is guarded — so the UDF's error-as-data path only
fires for undecodable (non-UTF-8) bytes.

``wrap_boilerplate`` is the inverse fixture generator (the q39/roundtrip
lift): it embeds known text into one of three realistic boilerplate
templates (semantic HTML5, div-soup with class hints, table layout).
For any trimmed payload — including empty — the extractor provably
recovers it exactly, which is what lets plain SQL state the expected
output of the whole html pipeline route (extract(wrap(x)) == x).
"""

from __future__ import annotations

import html as _html
import re
from html.parser import HTMLParser

#: span kinds routed to this extractor (F1 allow-list extension)
HTML_KINDS = ("html", "htm")

_EXCLUDED = frozenset(
    "script style noscript template svg head title nav header footer "
    "aside form button select option iframe".split()
)
_BLOCK = frozenset(
    "p div article main section li td th h1 h2 h3 h4 h5 h6 "
    "blockquote pre tr table ul ol body".split()
)
_CONTAINER = frozenset("article main section div td body".split())
#: paragraph-shaped tags get a small constant bonus so a short (even
#: empty) paragraph outranks residual penalized boilerplate
_P_TAGS = frozenset(("p", "article", "main"))
_P_BONUS = 2.0

_NEG_HINT = re.compile(
    r"comment|sidebar|side-bar|\bad\b|ads\b|advert|menu|nav|footer|"
    r"promo|share|social|breadcrumb|banner|widget|related|popup",
    re.I,
)
_POS_HINT = re.compile(r"content|article|main|post|entry|body|text|story", re.I)
_NEG_FACTOR, _POS_FACTOR = 0.1, 3.0


def sniff_html(blob: bytes | None) -> bool:
    """Content-magic probe: does this blob look like an HTML document?
    Mirrors the codec's PMIMG1/PMPDF1 magic dispatch (codecs.rasterize);
    checked on a bounded head window only so it is O(1) per blob.

    Real-world saved pages often front-load a UTF-8 BOM, an XML prolog
    (XHTML), or license/generator comments before the doctype — all of
    which are skipped here, so allow-listed .html files route to the
    extractor instead of failing the codec with a bad-magic error."""
    if not blob:
        return False
    head = bytes(blob[:1024])
    if head.startswith(b"\xef\xbb\xbf"):
        head = head[3:]
    head = head.lstrip().lower()
    if head.startswith(b"<?xml"):
        end = head.find(b"?>")
        if end == -1:
            return False
        head = head[end + 2 :].lstrip()
    while head.startswith(b"<!--"):
        end = head.find(b"-->")
        if end == -1:
            return False
        head = head[end + 3 :].lstrip()
    return head.startswith((b"<!doctype", b"<html"))


class _Extractor(HTMLParser):
    """One pass over the document building scored atomic blocks grouped
    by nearest container. See module docstring for the model."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        # containers: [ {score, texts:[...]} ] in document order; index 0
        # is the implicit root (text outside any container element)
        self.containers: list[dict] = [{"score": 0.0, "texts": []}]
        # element stack entries: (tag, container_idx_before, neg, pos)
        self._stack: list[tuple[str, int, bool, bool]] = []
        self._container_idx = 0
        self._excl_depth = 0
        self._a_depth = 0
        # current atomic block
        self._parts: list[str] = []
        self._link_len = 0
        self._block_tag = ""
        self._neg = False
        self._pos = False

    # ---------------------------------------------------------- helpers

    def _hints(self, tag: str, attrs) -> tuple[bool, bool]:
        """Inherited hint state after entering `tag` with `attrs`."""
        neg, pos = self._neg, self._pos
        blob = " ".join(v for k, v in attrs if k in ("class", "id") and v)
        if blob:
            neg = neg or bool(_NEG_HINT.search(blob))
            pos = pos or bool(_POS_HINT.search(blob))
        if tag in ("article", "main"):
            pos = True
        return neg, pos

    def _flush(self, p_bonus: bool = False, emit_empty: bool = False) -> None:
        """Close the current atomic block into the current container.

        The paragraph bonus is awarded ONLY at real block closes
        (emit_empty=True callers): a paragraph fragmented by nested or
        excluded elements would otherwise accrue one bonus per interrupt
        flush and inflate its container's score; the single close-time
        flush still grants it exactly once per paragraph — including for
        an empty <p></p>, which must outrank penalized boilerplate."""
        text = "".join(self._parts).strip()
        self._parts.clear()
        link = min(self._link_len, len(text))
        self._link_len = 0
        if not text and not (p_bonus and emit_empty):
            return
        ld = link / len(text) if text else 0.0
        score = len(text) * (1.0 - ld) ** 2
        if p_bonus:
            score += _P_BONUS
        score *= _NEG_FACTOR if self._neg else (_POS_FACTOR if self._pos else 1.0)
        c = self.containers[self._container_idx]
        c["score"] += score
        if text:
            c["texts"].append(text)

    # ---------------------------------------------------- parser events

    def handle_starttag(self, tag, attrs):
        if tag in _EXCLUDED:
            if not self._excl_depth:
                self._flush()
            self._excl_depth += 1
            self._stack.append((tag, self._container_idx, self._neg, self._pos))
            return
        if self._excl_depth:
            self._stack.append((tag, self._container_idx, self._neg, self._pos))
            return
        if tag == "a":
            self._a_depth += 1
        if tag == "br":
            # an explicit line break is text content, not structure:
            # "line1<br>line2" must not fuse into "line1line2"
            self._parts.append("\n")
        if tag in _BLOCK:
            # text before a nested block belongs to the outer block
            # (no bonus: this is an interrupt flush, not the close)
            self._flush()
            self._stack.append((tag, self._container_idx, self._neg, self._pos))
            self._neg, self._pos = self._hints(tag, attrs)
            self._block_tag = tag
            if tag in _CONTAINER:
                self.containers.append({"score": 0.0, "texts": []})
                self._container_idx = len(self.containers) - 1

    def handle_endtag(self, tag):
        # an </a> inside an excluded region never had its open counted
        # (the exclusion branch returns before the <a> increment), so
        # it must not decrement an OUTER anchor's depth
        if tag == "a" and self._a_depth and not self._excl_depth:
            self._a_depth -= 1
        if tag not in _BLOCK and tag not in _EXCLUDED:
            return
        # lenient close: pop to the nearest matching open tag, if any
        if not any(s[0] == tag for s in self._stack):
            return
        while self._stack:
            open_tag, prev_idx, neg, pos = self._stack[-1]
            if open_tag in _EXCLUDED:
                if self._excl_depth:
                    self._excl_depth -= 1
            elif not self._excl_depth:
                # emit even when empty for paragraph tags (P_BONUS keeps
                # an empty <p> ahead of penalized boilerplate)
                self._flush(open_tag in _P_TAGS, emit_empty=True)
                self._container_idx = prev_idx
                self._neg, self._pos = neg, pos
                self._block_tag = next(
                    (s[0] for s in reversed(self._stack[:-1]) if s[0] in _BLOCK), ""
                )
            self._stack.pop()
            if open_tag == tag:
                break

    def handle_data(self, data):
        if self._excl_depth or not data:
            return
        self._parts.append(data)
        if self._a_depth:
            self._link_len += len(data.strip())

    def result(self) -> str:
        self._flush(self._block_tag in _P_TAGS, emit_empty=True)
        best = max(self.containers, key=lambda c: c["score"])
        if best["score"] <= 0.0:
            return ""
        return "\n".join(best["texts"])


def extract_main(doc: str) -> str:
    """Main-content text of an HTML document (see module docstring)."""
    p = _Extractor()
    p.feed(doc)
    p.close()
    return p.result()


def extract_main_blob(blob: bytes) -> str:
    """Blob-level entry used by the fused pipeline UDF: strict UTF-8
    decode (undecodable bytes -> UnicodeDecodeError -> the UDF's
    error-as-data quarantine path, like a truncated media container)."""
    return extract_main(bytes(blob).decode("utf-8"))


# ------------------------------------------------- roundtrip fixture side

_TEMPLATES = (
    # 0: semantic HTML5 — competitors are structurally excluded elements
    "<!DOCTYPE html>\n<html><head><title>Doc {i}</title>"
    "<style>.x{{color:red}}</style><script>var a=1;</script></head>\n<body>\n"
    '<nav><ul><li><a href="/">Home</a></li><li><a href="/blog">Blog</a></li>'
    '<li><a href="/about">About</a></li></ul></nav>\n'
    "<header><h1>Synthetic page {i}</h1></header>\n"
    "<main><article><p>{payload}</p></article></main>\n"
    '<aside class="ads"><p>Limited offer! <a href="/buy">Buy now</a> '
    "and save big today.</p></aside>\n"
    '<footer><p>&copy; 2026 Example Corp &middot; <a href="/terms">Terms</a> '
    '<a href="/privacy">Privacy</a></p></footer>\n</body></html>',
    # 1: div-soup — competitors survive structurally but lose on
    # link-density and negative class hints
    "<!DOCTYPE html>\n<html><body>\n"
    '<div class="menu"><a href="/1">Products</a> <a href="/2">Pricing</a> '
    '<a href="/3">Support</a> <a href="/4">Careers {i}</a></div>\n'
    '<div class="content"><p>{payload}</p></div>\n'
    '<div class="comments">\n'
    '<div class="comment">Nice post! <a href="#r1">reply</a></div>\n'
    '<div class="comment">Thanks for sharing. <a href="#r2">reply</a></div>\n'
    "</div>\n"
    '<div class="bottom-nav"><a href="/about">About</a> '
    '<a href="/contact">Contact</a></div>\n</body></html>',
    # 2: legacy table layout — menu/sidebar cells lose on density+hints
    "<!DOCTYPE html>\n<html><body>\n<table><tr>\n"
    '<td class="leftnav"><a href="/p">Portal</a> <a href="/q">Queue {i}</a> '
    '<a href="/r">Reports</a></td>\n'
    "<td><p>{payload}</p></td>\n"
    '<td class="sidebar">Hot deals <a href="/d">today</a> only.</td>\n'
    "</tr></table>\n</body></html>",
)


def wrap_boilerplate(text: str, doc_id: int = 0, template: int | None = None) -> str:
    """Embed `text` (html-escaped) as the main content of a deterministic
    boilerplate page. template None -> keyed on doc_id so a corpus mixes
    all three layouts. extract_main(wrap_boilerplate(x)) == x for any
    trimmed payload (the q39-style oracle lift; pinned by tests)."""
    t = (doc_id % len(_TEMPLATES)) if template is None else (template % len(_TEMPLATES))
    return _TEMPLATES[t].format(i=doc_id, payload=_html.escape(text))


# ---------------------------------------------- structural markdown view

#: inline tag -> markdown marker (emitted symmetrically open/close)
_MD_INLINE = {"b": "**", "strong": "**", "i": "*", "em": "*", "code": "`"}
_MD_HEADING = {f"h{i}": i for i in range(1, 7)}
#: block-level tags that close the current markdown paragraph
_MD_BLOCK = frozenset("p div section article main body blockquote".split())
_WS_RUN = re.compile(r"\s+")


class _MdBuilder(HTMLParser):
    """HTML -> GitHub-flavored-markdown structural conversion — the
    second extraction OUTPUT FORMAT next to extract_main's plain text
    (LLM pretraining corpora favor markdown because it preserves
    document structure: headings, lists, tables, links, emphasis).

    One tolerant pass, same excluded-element model as _Extractor:
    headings -> ``#``*n, <ul>/<ol> -> ``-`` / ``1.`` items (nested
    lists indent two spaces), <table> -> pipe tables with a ``---``
    separator row, <a> -> ``[text](href)``, <b>/<i>/<code> -> inline
    markers, <pre> -> fenced blocks, <blockquote> -> ``> `` prefixes.
    Blocks join with a blank line. Whitespace runs collapse to one
    space outside <pre>. Deterministic: pure function of the input,
    document order preserved, malformed HTML never raises."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[str] = []
        self.tables: list[list[list[str]]] = []
        self._buf: list[str] = []
        self._excl = 0
        self._heading = 0
        self._quote = 0
        self._pre = 0
        # list stack frames: {"ordered": bool, "n": int, "lines": [...]}
        self._lists: list[dict] = []
        self._hrefs: list[str] = []
        # table stack (nested tables flatten into their own entries):
        # frames of {"rows": [(cells, any_th)], "row": [...]|None}
        self._tstack: list[dict] = []
        self._cell: list[str] | None = None

    # ---------------------------------------------------------- helpers

    def _text(self) -> str:
        out = "".join(self._buf).strip()
        self._buf.clear()
        return out

    def _emit(self, text: str) -> None:
        if not text:
            return
        if self._quote:
            text = "\n".join("> " * self._quote + ln for ln in text.split("\n"))
        self.blocks.append(text)

    def _flush(self) -> None:
        if self._lists:
            self._close_item()
        else:
            self._emit(self._text())

    def _close_item(self) -> None:
        text = self._text()
        if not text:
            return
        fr = self._lists[-1]
        fr["n"] += 1
        marker = f"{fr['n']}. " if fr["ordered"] else "- "
        fr["lines"].append(marker + text)

    # ---------------------------------------------------- parser events

    def handle_starttag(self, tag, attrs):
        if tag in _EXCLUDED:
            self._excl += 1
            return
        if self._excl:
            return
        if self._cell is not None and tag not in ("td", "th", "tr", "table"):
            if tag == "br":
                self._cell.append(" ")
            return  # structure inside a cell flattens into cell text
        if tag in _MD_HEADING:
            self._flush()
            self._heading = _MD_HEADING[tag]
        elif tag in _MD_BLOCK:
            self._flush()
            if tag == "blockquote":
                self._quote += 1
        elif tag == "br":
            self._buf.append("\n")
        elif tag in ("ul", "ol"):
            self._flush()
            self._lists.append({"ordered": tag == "ol", "n": 0, "lines": []})
        elif tag == "li":
            if self._lists:
                self._close_item()
        elif tag == "a":
            self._hrefs.append(dict(attrs).get("href") or "")
            self._buf.append("[")
        elif tag in _MD_INLINE and not self._pre:
            self._buf.append(_MD_INLINE[tag])
        elif tag == "pre":
            self._flush()
            self._pre += 1
        elif tag == "table":
            self._flush()
            self._tstack.append({"rows": [], "row": None})
        elif tag == "tr" and self._tstack:
            self._tstack[-1]["row"] = []
        elif tag in ("td", "th") and self._tstack:
            if self._tstack[-1]["row"] is None:
                self._tstack[-1]["row"] = []
            self._cell = []

    def handle_endtag(self, tag):
        if tag in _EXCLUDED:
            if self._excl:
                self._excl -= 1
            return
        if self._excl:
            return
        if tag in ("td", "th") and self._tstack:
            if self._cell is not None:
                cell = _WS_RUN.sub(" ", "".join(self._cell)).strip()
                self._tstack[-1]["row"].append((cell, tag == "th"))
                self._cell = None
        elif tag == "tr" and self._tstack:
            fr = self._tstack[-1]
            if fr["row"]:
                cells = [c for c, _ in fr["row"]]
                any_th = any(h for _, h in fr["row"])
                fr["rows"].append((cells, any_th))
            fr["row"] = None
        elif tag == "table" and self._tstack:
            fr = self._tstack.pop()
            rows = fr["rows"]
            if rows:
                self.tables.append([cells for cells, _ in rows])
                width = len(rows[0][0])
                lines = ["| " + " | ".join(rows[0][0]) + " |"]
                lines.append("| " + " | ".join(["---"] * width) + " |")
                lines.extend("| " + " | ".join(cells) + " |" for cells, _ in rows[1:])
                self._emit("\n".join(lines))
        elif self._cell is not None:
            return
        elif tag in _MD_HEADING:
            text = self._text()
            self._emit("#" * self._heading + " " + text if text else "")
            self._heading = 0
        elif tag in _MD_BLOCK:
            self._flush()
            if tag == "blockquote" and self._quote:
                self._quote -= 1
        elif tag == "li":
            if self._lists:
                self._close_item()
        elif tag in ("ul", "ol"):
            if self._lists:
                self._close_item()
                fr = self._lists.pop()
                if self._lists:  # nested: indent into the parent item list
                    self._lists[-1]["lines"].extend(
                        "  " + ln for ln in fr["lines"]
                    )
                else:
                    self._emit("\n".join(fr["lines"]))
        elif tag == "a":
            href = self._hrefs.pop() if self._hrefs else ""
            self._buf.append(f"]({href})")
        elif tag in _MD_INLINE and not self._pre:
            self._buf.append(_MD_INLINE[tag])
        elif tag == "pre":
            raw = "".join(self._buf).strip("\n")
            self._buf.clear()
            self._emit(f"```\n{raw}\n```")
            if self._pre:
                self._pre -= 1

    def handle_data(self, data):
        if self._excl or not data:
            return
        if self._cell is not None:
            self._cell.append(data)
        elif self._pre:
            self._buf.append(data)
        else:
            self._buf.append(_WS_RUN.sub(" ", data))

    def result(self) -> str:
        self._flush()
        return "\n\n".join(b for b in self.blocks if b)


def to_markdown(doc: str) -> str:
    """GitHub-flavored-markdown view of an HTML document (see
    _MdBuilder). The structure-preserving twin of extract_main."""
    p = _MdBuilder()
    p.feed(doc)
    p.close()
    return p.result()


def extract_tables(doc: str) -> list[list[list[str]]]:
    """Structured table extraction: every <table> in document order as
    rows x cells of whitespace-normalized text (th/td alike; nested
    tables surface as separate entries, innermost first)."""
    p = _MdBuilder()
    p.feed(doc)
    p.close()
    return p.tables


class _LinkCollector(HTMLParser):
    """Collect <a href> targets in document order (skipping fragment-
    only and javascript: pseudo-links — neither is an outlink)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.links: list[str] = []

    def handle_starttag(self, tag, attrs):
        if tag != "a":
            return
        href = next((v for k, v in attrs if k == "href" and v), None)
        if not href or href.startswith("#") or href.lower().startswith("javascript:"):
            return
        self.links.append(href)


def extract_links(doc: str) -> list[str]:
    """All outlink hrefs of an HTML document, in document order — the
    raw material of the link graph (operators/linkgraph.py). stdlib
    parser, same error tolerance as the other builders here."""
    c = _LinkCollector()
    c.feed(doc or "")
    c.close()
    return c.links

