"""Deterministic HTML boilerplate stripping (rebuild-only stage).

The reference has no HTML stage (it ingests FAQ text directly), but the
web-scale corpus is ``web_pages(url, warc_ts, html:binary, text, lang)``
(BASELINE.json input_hint) and the north star requires a boilerplate-strip
extractor whose output is byte-identical per url across runs. This module
IS that extractor spec: pure ``re``-based (no parser dependency), versioned
(EXTRACTOR_VERSION), and executed inside the build's one Python pass
per page (pipeline.py:_page_pass). Determinism over cleverness: same bytes in, same text
out, on every executor, forever.

Pipeline: decode utf-8 (replace) → drop <script>/<style>/<noscript>
blocks and comments → drop boilerplate containers (<nav> <header> <footer>
<aside>) → block-level tags become newlines, the rest are stripped →
unescape the common entities → collapse whitespace (runs of blank lines to
one \\n, runs of spaces/tabs to one space) → strip.
"""

from __future__ import annotations

import re

EXTRACTOR_VERSION = 1

_DROP_BLOCKS = re.compile(
    r"<(script|style|noscript|nav|header|footer|aside|template)\b[^>]*>"
    r".*?</\1\s*>",
    re.IGNORECASE | re.DOTALL,
)
_COMMENTS = re.compile(r"<!--.*?-->", re.DOTALL)
_BLOCK_TAGS = re.compile(
    r"</?(p|div|br|li|ul|ol|h[1-6]|tr|table|section|article|blockquote|"
    r"pre|form|dl|dt|dd)\b[^>]*>",
    re.IGNORECASE,
)
_ANY_TAG = re.compile(r"<[^>]+>")
_ENTITIES = {
    "&amp;": "&", "&lt;": "<", "&gt;": ">", "&quot;": '"',
    "&#39;": "'", "&apos;": "'", "&nbsp;": " ",
}
_ENTITY_RE = re.compile("|".join(re.escape(e) for e in _ENTITIES))
_NUM_ENTITY_RE = re.compile(r"&#(\d{1,7});")
_SPACES = re.compile(r"[ \t\r\f\v]+")
_BLANK_LINES = re.compile(r"\n\s*\n+")


def extract_text(html: bytes | str | None) -> str:
    """Boilerplate-strip HTML bytes to plain text. Deterministic."""
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="replace")
    s = _COMMENTS.sub(" ", html)
    s = _DROP_BLOCKS.sub(" ", s)
    s = _BLOCK_TAGS.sub("\n", s)
    s = _ANY_TAG.sub(" ", s)
    s = _ENTITY_RE.sub(lambda m: _ENTITIES[m.group(0)], s)
    # lone UTF-16 surrogates (0xD800-0xDFFF) are valid chr() inputs but
    # cannot be UTF-8-encoded — Arrow/parquet would fail the whole task on
    # one malformed &#55296; in web HTML — so they map to ' ' like
    # out-of-range ordinals (ADVICE r1 item 5).
    s = _NUM_ENTITY_RE.sub(
        lambda m: (
            chr(n)
            if (n := int(m.group(1))) < 0x110000 and not (0xD800 <= n <= 0xDFFF)
            else " "
        ),
        s,
    )
    s = _SPACES.sub(" ", s)
    lines = [ln.strip() for ln in s.split("\n")]
    s = "\n".join(ln for ln in lines if ln)
    return s.strip()
