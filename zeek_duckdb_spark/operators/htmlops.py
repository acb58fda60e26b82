"""HTML -> text extraction and link harvesting — the FIRST stage of a
crawl-to-training-data pipeline (WARC/HTML in, clean text out), which
every downstream operator here (dedup, quality, LM gates, tokenizer
training) assumes has already happened.

``html_to_text`` is a pure-Python reference extractor over the
stdlib's ``html.parser.HTMLParser`` (no lxml/bs4 in this container):
script/style/template/noscript/iframe/svg subtrees are dropped, block
elements break lines, character references decode, and whitespace
collapses per line using the EXPLICIT ASCII class ``[ \\t\\r\\n\\f\\v]``
— not Python's unicode ``\\s`` — so an oracle can restate the collapse
in RE2-based SQL exactly (the same restatability contract as
``textops.normalize_text``'s control-character class).  Unicode
whitespace beyond ASCII is left to ``normalize_text``, the stage that
owns it.

``extract_links`` harvests ``a[href]`` values (optionally resolved
against a base URL with stdlib ``urljoin``) — the crawl-frontier feed
that composes with ``textops.canonicalize_url`` (dedup key) and
``textops.registered_domain`` / ``filter_blocked_domains``
(frontier policy).

The Spark operators (``extract_text_html`` / ``extract_links_html``)
are Arrow-batched ``pandas_udf`` maps: HTML parsing has no JVM/SQL
form, so this is a legitimate Python boundary crossing (the
``textops.compression_features`` argument) — one narrow map, zero
shuffle, NULL passthrough.  The stdlib parser does ~1-5 MB/s/core;
right for the tested path and modest corpora.  At 100 TB inject a
native parser (selectolax/lxml) through the ``extractor=`` seam — the
same pluggable-callback contract as the multimodal ``decoder=`` seam —
and the Spark plumbing (schema, batching, NULL policy) is unchanged.

Malformed-HTML notes (stdlib parser semantics, stated so nobody
mistakes them for bugs): an UNCLOSED ``<script>`` swallows the rest of
the document (the parser stays in CDATA mode, as browsers do);
mismatched/unclosed normal tags are harmless (extraction keys on tag
NAMES, not tree balance); bytes are not sniffed — decode charset
upstream (``spark.read`` already yields str).
"""

from __future__ import annotations

from html.parser import HTMLParser

# module-global so pandas_udf can resolve stringized `pd.Series` type
# hints (future-annotations keeps them strings; pyspark resolves them
# against the defining module's globals)
import pandas as pd  # noqa: F401

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "html_to_text",
    "extract_links",
    "extract_meta",
    "extract_text_html",
    "extract_links_html",
    "native_extractor",
    "extract_meta_html",
]

# subtrees whose text is never content ('title' joins them unless
# keep_title — head/meta/link are void of text, so head itself needn't
# be skipped)
_SKIP_TAGS = frozenset(
    ["script", "style", "noscript", "template", "iframe", "svg", "math"]
)

# tags that terminate the current text line (block-level flow, HTML5
# outline elements, table/list structure, br/hr)
_BLOCK_TAGS = frozenset(
    [
        "address", "article", "aside", "blockquote", "br", "caption",
        "dd", "details", "div", "dl", "dt", "fieldset", "figcaption",
        "figure", "footer", "form", "h1", "h2", "h3", "h4", "h5", "h6",
        "header", "hr", "li", "main", "nav", "ol", "option", "p", "pre",
        "section", "select", "summary", "table", "tbody", "td", "tfoot",
        "th", "thead", "title", "tr", "ul",
    ]
)

# HTML-parsing-spec foreign-content breakout: inside an (unclosed)
# svg/math subtree, a start tag from this list makes browsers
# auto-close the foreign scope ("in foreign content" insertion mode,
# HTML standard 13.2.6.5).  Without it one unclosed <svg> — common in
# crawled HTML — would swallow the rest of the document's text AND
# metadata.  <title>/<link> are deliberately NOT here (they are legal
# foreign content — svg tooltips must stay suppressed); <template>
# scopes never break out (browsers parse template content inertly to
# its close tag).
_FOREIGN_BREAKOUT = frozenset([
    "b", "big", "blockquote", "body", "br", "center", "code", "dd",
    "div", "dl", "dt", "em", "embed", "h1", "h2", "h3", "h4",
    "h5", "h6", "head", "hr", "i", "img", "li", "listing", "menu",
    "meta", "nobr", "ol", "p", "pre", "ruby", "s", "small", "span",
    "strong", "strike", "sub", "sup", "table", "tt", "u", "ul", "var",
])


def _breakout(skip_stack: list, tag: str, attrs=None) -> None:
    """Pop open svg/math scopes when ``tag`` is a breakout start tag
    (template and the CDATA-ish skip tags are never popped).  Per the
    spec, <font> breaks out ONLY with a color/face/size attribute —
    SVG's own <font> element stays foreign content."""
    if tag == "font":
        if not any(
            k in ("color", "face", "size") for k, _v in (attrs or ())
        ):
            return
    elif tag not in _FOREIGN_BREAKOUT:
        return
    while skip_stack and skip_stack[-1] in ("svg", "math"):
        skip_stack.pop()


import re as _re

# EXACTLY the documented 6-char class — not Python's \s or
# str.split(None), both of which also eat \x1c-\x1f and unicode
# whitespace and would silently diverge from the RE2 restatement
_WS_RUN = _re.compile(r"[ \t\r\n\f\v]+")


def _collapse(s: str) -> str:
    """Collapse runs of ASCII whitespace to single spaces and trim —
    the RE2-restatable class only (see module docstring)."""
    return _WS_RUN.sub(" ", s).strip(" ")


class _TextExtractor(HTMLParser):
    def __init__(self, keep_title: bool):
        super().__init__(convert_charrefs=True)
        # a STACK of open skip-tag names, not a counter: crawled HTML
        # is full of stray close tags, and a bare </style> inside an
        # open <template> must NOT terminate the template scope (a
        # counter would leak the subtree into extracted text)
        self._skip_stack: list = []
        self._keep_title = keep_title
        self._cur: list = []
        self._lines: list = []          # (text, raw_len, anchor_len)
        self._in_anchor = False

    def _is_skip(self, tag) -> bool:
        return tag in _SKIP_TAGS or (tag == "title" and not self._keep_title)

    def _flush(self) -> None:
        if self._cur:
            raw = "".join(t for t, _a in self._cur)
            line = _collapse(raw)
            if line:
                # non-whitespace char counts for the link-density
                # ratio, using the SAME 6-char ASCII class as the
                # collapse (str.split would exclude NBSP/\x1c-\x1f
                # from the denominator while they stay in the text)
                nws = lambda s: len(_WS_RUN.sub("", s))
                self._lines.append((
                    line,
                    sum(nws(t) for t, _a in self._cur),
                    sum(nws(t) for t, a in self._cur if a),
                ))
            self._cur = []
        # an anchor does not legally span a block boundary; browsers
        # auto-close it there.  Without this, ONE unclosed <a> (common
        # in crawled HTML — HTMLParser does no HTML5 tree repair)
        # would mark the whole rest of the document as anchor text and
        # max_link_density would drop every later line.
        self._in_anchor = False

    def handle_starttag(self, tag, attrs):
        if self._is_skip(tag):
            self._skip_stack.append(tag)
            return
        if self._skip_stack:
            # unclosed svg/math repair (HTML foreign-content breakout)
            _breakout(self._skip_stack, tag, attrs)
            if self._skip_stack:
                return  # a tag INSIDE a skipped subtree must not leak state
        if tag == "a":
            self._in_anchor = True
        if tag in _BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag):
        if self._is_skip(tag):
            # close only the matching innermost scope; a stray close
            # of a DIFFERENT skip tag is ignored
            if self._skip_stack and self._skip_stack[-1] == tag:
                self._skip_stack.pop()
            return
        if self._skip_stack:
            return
        if tag == "a":
            self._in_anchor = False
        if tag in _BLOCK_TAGS:
            self._flush()

    def handle_startendtag(self, tag, attrs):
        # void form (<br/>, <hr/>) — block break, never a skip scope.
        # The breakout rule applies to START tags regardless of the
        # self-closing flag (XHTML-style <br/> inside an unclosed
        # <svg> must still repair the scope).
        if self._skip_stack:
            _breakout(self._skip_stack, tag, attrs)
        if not self._skip_stack and tag in _BLOCK_TAGS:
            self._flush()

    def handle_data(self, data):
        if not self._skip_stack and data:
            self._cur.append((data, self._in_anchor))

    def text(self, max_link_density=None) -> str:
        self._flush()
        if max_link_density is None:
            return "\n".join(t for t, _r, _a in self._lines)
        return "\n".join(
            t
            for t, raw, anch in self._lines
            if raw == 0 or anch / raw <= max_link_density
        )


def html_to_text(
    doc: str,
    keep_title: bool = False,
    max_link_density: float | None = None,
) -> str:
    """HTML -> plain text: one line per block-level run, character
    references decoded, script/style/etc subtrees dropped, per-line
    ASCII-whitespace collapse.  ``keep_title`` keeps the document
    title as its own (usually first) line.  Plain text with no markup
    passes through modulo the whitespace collapse — note that the
    block-break newlines THIS function emits are themselves whitespace
    to a second application (which would fold the lines to one), so
    run extraction once, on HTML.

    ``max_link_density`` (the jusText/boilerpipe heuristic): drop
    lines whose ANCHOR-text fraction exceeds it — navigation bars,
    footers, 'related articles' boxes and tag clouds are nearly 100%
    link text, while prose with inline links sits well below.  0.5 is
    a reasonable crawl default; None (the default) keeps everything,
    including standalone link lines.  The fraction counts raw
    non-whitespace data characters before collapsing."""
    if doc is None:
        raise ValueError("html_to_text: doc is None")
    if max_link_density is not None and not 0.0 <= max_link_density <= 1.0:
        raise ValueError("html_to_text: max_link_density must be in [0, 1]")
    p = _TextExtractor(keep_title)
    p.feed(doc)
    p.close()
    return p.text(max_link_density)


class _LinkExtractor(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.hrefs: list = []

    def handle_starttag(self, tag, attrs):
        if tag == "a":
            for k, v in attrs:
                if k == "href" and v:
                    self.hrefs.append(v)

    def handle_startendtag(self, tag, attrs):
        self.handle_starttag(tag, attrs)


def extract_links(doc: str, base_url: str | None = None) -> list:
    """``a[href]`` values in document order (duplicates kept — the
    frontier dedups on the canonicalized form).  ``base_url`` resolves
    relative hrefs with stdlib ``urljoin``; fragment-only and
    javascript:/mailto: hrefs are dropped either way."""
    if doc is None:
        raise ValueError("extract_links: doc is None")
    p = _LinkExtractor()
    p.feed(doc)
    p.close()
    out = []
    for h in p.hrefs:
        h = h.strip()
        if not h or h.startswith("#"):
            continue
        low = h.lower()
        if low.startswith(("javascript:", "mailto:", "data:")):
            continue
        if base_url is not None:
            from urllib.parse import urljoin

            h = urljoin(base_url, h)
        out.append(h)
    return out


def extract_text_html(
    df: DataFrame,
    html_col: str = "html",
    out_col: str = "text",
    keep_title: bool = False,
    max_link_density: float | None = None,
    extractor=None,
) -> DataFrame:
    """Add ``out_col`` = extracted text of ``html_col`` — ONE
    Arrow-batched map, zero shuffle, NULL html -> NULL text.
    ``max_link_density`` drops navigation-like lines (see
    :func:`html_to_text`).

    ``extractor``: optional ``fn(html: str) -> str`` replacing the
    stdlib extractor (inject selectolax/lxml for the 100 TB path; the
    callback is cloudpickled into the UDF closure like the multimodal
    ``decoder=`` seam)."""
    if max_link_density is not None and not 0.0 <= max_link_density <= 1.0:
        raise ValueError(
            "extract_text_html: max_link_density must be in [0, 1]"
        )
    kt, mld = keep_title, max_link_density
    fn = extractor if extractor is not None else (
        lambda h: html_to_text(h, keep_title=kt, max_link_density=mld)
    )

    @F.pandas_udf("string")
    def _ex(s: pd.Series) -> pd.Series:
        return s.map(lambda h: None if h is None else fn(h))

    return df.withColumn(out_col, _ex(F.col(html_col)))


def native_extractor(prefer: tuple = ("selectolax", "lxml")):
    """Build an ``extract_text_html(extractor=...)`` callback from an
    installed native HTML parser — the documented 100 TB throughput
    seam, resolved through an import ladder.  Tries ``prefer`` in order
    (``selectolax``'s lexbor engine first — the faster of the two —
    then ``lxml``) and raises ImportError naming both when neither is
    installed, so callers/benches can print an honest "skipped:
    package absent" instead of silently falling back.

    Contract difference, stated: the native extractors drop the same
    non-content subtrees (script/style/noscript/template/iframe/svg/
    math/title) and collapse whitespace with the SAME 6-char ASCII
    class, but their line/block segmentation follows the native
    parser's tree, not ``html_to_text``'s block-tag list — use them
    for throughput at scale; keep oracle/contract work on the stdlib
    path.  The callback is cloudpickled into the UDF closure, so the
    package must be installed on executors too."""
    _DROP = (
        "script", "style", "noscript", "template", "iframe", "svg",
        "math", "title",
    )
    errs = []
    for name in prefer:
        if name == "selectolax":
            try:
                from selectolax.parser import HTMLParser as _SxParser
            except ImportError as exc:
                errs.append(str(exc))
                continue

            def _sx(h: str) -> str:
                tree = _SxParser(h)
                tree.strip_tags(list(_DROP))
                txt = tree.text(separator="\n", strip=False)
                return "\n".join(
                    ln for ln in (_collapse(p) for p in txt.split("\n")) if ln
                )

            return _sx
        if name == "lxml":
            try:
                import lxml.html as _lx
            except ImportError as exc:
                errs.append(str(exc))
                continue

            import re as _nre

            _xml_decl = _nre.compile(r"^\s*<\?xml[^>]*\?>")

            def _lxml(h: str) -> str:
                # crawl-reality guards, same policy as the stdlib path:
                # one page must not kill the job.  lxml refuses str
                # input carrying an XML encoding declaration (XHTML
                # pages) and raises on empty/comment-only documents —
                # strip the former, map the latter to no text.
                h = _xml_decl.sub("", h)
                if not h.strip():
                    return ""
                try:
                    doc = _lx.fromstring(h)
                except Exception:
                    return ""
                # snapshot: mutating under a live iterator skips nodes
                for el in list(doc.iter(*_DROP)):
                    # keep tail text — removing the node verbatim would
                    # drop the text that follows it in the parent
                    parent = el.getparent()
                    if parent is None:
                        continue
                    if el.tail:
                        prev = el.getprevious()
                        if prev is not None:
                            prev.tail = (prev.tail or "") + el.tail
                        else:
                            parent.text = (parent.text or "") + el.tail
                    parent.remove(el)
                txt = doc.text_content()
                return "\n".join(
                    ln for ln in (_collapse(p) for p in txt.split("\n")) if ln
                )

            return _lxml
        raise ValueError(f"native_extractor: unknown parser {name!r}")
    raise ImportError(
        "native_extractor: no native HTML parser installed — "
        f"pip install selectolax or lxml (tried {', '.join(prefer)})"
    )


def extract_links_html(
    df: DataFrame,
    html_col: str = "html",
    out_col: str = "links",
    base_url_col: str | None = None,
) -> DataFrame:
    """Add ``out_col`` = array of hrefs from ``html_col`` (see
    :func:`extract_links`) — the crawl-frontier feed.  With
    ``base_url_col`` (e.g. the page's own URL), relative hrefs resolve
    per row.  One Arrow-batched map, zero shuffle; compose with
    ``textops.canonicalize_url`` + ``filter_blocked_domains`` for
    frontier policy."""
    if base_url_col is None:

        @F.pandas_udf("array<string>")
        def _links(s: pd.Series) -> pd.Series:
            return s.map(lambda h: None if h is None else extract_links(h))

        return df.withColumn(out_col, _links(F.col(html_col)))

    @F.pandas_udf("array<string>")
    def _links_based(s: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if h is None else extract_links(h, base_url=u)
                for h, u in zip(s, b)
            ]
        )

    return df.withColumn(
        out_col, _links_based(F.col(html_col), F.col(base_url_col))
    )


# subtrees whose <title>/<meta>/<link> are NOT document metadata: an
# svg/math <title> is a tooltip, a <template> is inert content
_META_SKIP_TAGS = frozenset(["svg", "math", "template"])


class _MetaExtractor(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.title_parts: list = []
        self._in_title = False
        self._title_done = False
        # a STACK like _TextExtractor's, not a counter — a stray
        # close tag inside an open <template> must not end its scope
        self._skip_stack: list = []
        self.description = None
        self.lang = None
        self.canonical = None
        self.noindex = False

    def handle_starttag(self, tag, attrs):
        if tag in _META_SKIP_TAGS:
            self._skip_stack.append(tag)
            return
        if self._skip_stack:
            # unclosed svg/math repair (HTML foreign-content breakout)
            _breakout(self._skip_stack, tag, attrs)
            if self._skip_stack:
                # an svg tooltip <title> (or template'd meta/link) that
                # PRECEDES the head title must not become the document
                # title — browsers only read metadata outside these
                # subtrees
                return
        a = dict(attrs)
        if tag == "html" and self.lang is None:
            self.lang = a.get("lang") or a.get("xml:lang")
        elif tag == "title" and not self._title_done:
            # FIRST title element only (browser rule)
            self._in_title = True
        elif tag == "meta":
            name = (a.get("name") or a.get("property") or "").lower()
            content = a.get("content")
            if content is None:
                return
            if self.description is None and name in (
                "description", "og:description"
            ):
                self.description = content
            elif name == "robots" and "noindex" in content.lower():
                self.noindex = True
        elif tag == "link":
            rels = (a.get("rel") or "").lower().split()
            if "canonical" in rels and self.canonical is None:
                href = (a.get("href") or "").strip()
                if href:
                    self.canonical = href

    def handle_endtag(self, tag):
        if tag in _META_SKIP_TAGS:
            # only the matching innermost scope closes (stray close
            # tags of a different skip tag are ignored)
            if self._skip_stack and self._skip_stack[-1] == tag:
                self._skip_stack.pop()
            return
        if self._skip_stack:
            return
        if tag == "title" and self._in_title:
            self._in_title = False
            self._title_done = True

    def handle_startendtag(self, tag, attrs):
        # a self-closing <svg/> opens no scope — route through
        # start+end so the stack stays balanced
        if tag in _META_SKIP_TAGS:
            return
        self.handle_starttag(tag, attrs)
        # <title/> void form: nothing to capture
        if tag == "title":
            self._in_title = False

    def handle_data(self, data):
        if self._in_title and not self._skip_stack:
            self.title_parts.append(data)


def extract_meta(doc: str) -> dict:
    """HTML -> document metadata dict: ``title`` (whitespace-collapsed),
    ``description`` (meta description / og:description, first wins),
    ``lang`` (the ``<html lang>`` attribute, unvalidated — compare
    against ``textops.lang_id`` on the extracted text to catch lying
    headers), ``canonical`` (``<link rel=canonical>`` href — pages
    declaring the SAME canonical are the same logical document, the
    dedup key that collapses syndicated/mirrored copies before any
    content hashing), and ``noindex`` (meta robots — pages the SITE
    says not to index are usually pages you don't want to train on
    either).  Missing pieces are None/False."""
    if doc is None:
        raise ValueError("extract_meta: doc is None")
    p = _MetaExtractor()
    p.feed(doc)
    p.close()
    title = _collapse("".join(p.title_parts)) or None
    return {
        "title": title,
        "description": p.description,
        "lang": p.lang,
        "canonical": p.canonical,
        "noindex": p.noindex,
    }


_META_TYPE = (
    "struct<title:string,description:string,lang:string,"
    "canonical:string,noindex:boolean>"
)


def extract_meta_html(
    df: DataFrame,
    html_col: str = "html",
    out_col: str = "meta",
) -> DataFrame:
    """Add ``out_col`` = metadata struct of ``html_col`` (see
    :func:`extract_meta`) — ONE Arrow-batched map, zero shuffle, NULL
    html -> NULL struct.  Crawl uses: dedup on
    ``coalesce(meta.canonical, url)`` to collapse syndicated copies
    BEFORE content hashing, filter ``NOT meta.noindex``, and
    cross-check ``meta.lang`` against ``textops.lang_id``."""

    @F.pandas_udf(_META_TYPE)
    def _meta(s: pd.Series) -> pd.DataFrame:
        rows = [
            {"title": None, "description": None, "lang": None,
             "canonical": None, "noindex": None}
            if h is None else extract_meta(h)
            for h in s
        ]
        return pd.DataFrame(rows)

    return df.withColumn(out_col, _meta(F.col(html_col)))
