"""HTML boilerplate stripping via text-to-tag-ratio / tag-density heuristics.

Not present in the reference (which only ever sees OCR output); mandated by
the target spec for ``kind='text'`` spans of interleaved documents.  The
heuristic follows the classic text-to-tag-ratio family of content-extraction
algorithms: kill the always-boilerplate containers, split the markup into
block-level segments, score each block by visible-text-to-tag ratio and link
density, and keep high-ratio blocks.

Pure function of the input string (no parser dependency, deterministic), so
the same code serves the executor-side pandas UDF and the test oracle.
"""

from __future__ import annotations

import html
import re

# Containers that are boilerplate by construction.
_KILL_CONTAINERS = re.compile(
    r"<(script|style|nav|footer|header|aside|noscript)\b[^>]*>.*?</\1\s*>",
    re.IGNORECASE | re.DOTALL,
)
# An UNCLOSED code container (truncated span, malformed markup) would leak
# its entire body as high-ratio "visible" text — JS/CSS has many chars and
# ~no tags.  After the closed-container pass, kill any remaining opening
# through end-of-string.  Only the truly-invisible code containers: an
# unclosed <nav>/<header> often wraps the rest of a real document, and
# killing to EOF there would destroy content.
_KILL_UNCLOSED_CODE = re.compile(
    r"<(?:script|style|noscript)\b[^>]*>.*$", re.IGNORECASE | re.DOTALL
)
# Block tags INSIDE a closed anchor would split the anchor across blocks
# before _ANCHOR can see it (no </a> in the fragment -> its text counts 0
# toward link density -> link-heavy boilerplate evades the filter).
# Flatten them to spaces within each anchor span first.
_ANCHOR_WHOLE = re.compile(r"<a\b[^>]*>.*?</a\s*>", re.IGNORECASE | re.DOTALL)
_COMMENT = re.compile(r"<!--.*?-->", re.DOTALL)
# Block-level boundaries used to segment the document.
_BLOCK_SPLIT = re.compile(
    r"</?(?:p|div|br|li|ul|ol|h[1-6]|table|tr|td|th|section|article|main|"
    r"form|blockquote|pre)\b[^>]*/?>",
    re.IGNORECASE,
)
_TAG = re.compile(r"<[^>]+>")
# Markup detector for routing: a real tag opens with a letter, '/' or '!'
# immediately after '<' ("x < y and y > z" must stay plain text; browsers
# treat "< y" as text too).
_MARKUP = re.compile(r"</?[A-Za-z!][^>]*>")
_ANCHOR = re.compile(r"<a\b[^>]*>(.*?)</a\s*>", re.IGNORECASE | re.DOTALL)
_WS = re.compile(r"\s+")

# A block survives when visible text per tag exceeds this many characters
# and anchors contribute under half of its visible text.
TEXT_TO_TAG_THRESHOLD = 10.0
LINK_DENSITY_THRESHOLD = 0.5


def _unescape(text: str) -> str:
    # stdlib html.unescape: a hand-rolled replace table double-unescaped
    # ('&amp;lt;' became '<' instead of the literal '&lt;').
    return html.unescape(text)


def _collapse(text: str) -> str:
    return _WS.sub(" ", text).strip()


def strip_boilerplate(text: str | None) -> str | None:
    """Return the main visible text of an HTML-ish span; plain text passes
    through with whitespace normalized.  ``None`` stays ``None``."""
    if text is None:
        return None
    # Route to the HTML path only when actual markup is present: a bare
    # '<' in plain text (comparisons, code fragments) must not subject the
    # span to the block-ratio filter, which destroys short content.
    if not _MARKUP.search(text):
        return _collapse(text)

    doc = _COMMENT.sub(" ", text)
    # Iterate: kill-containers may nest (e.g. a <style> inside a <header>).
    prev = None
    while prev != doc:
        prev = doc
        doc = _KILL_CONTAINERS.sub(" ", doc)
    doc = _KILL_UNCLOSED_CODE.sub(" ", doc)
    if "<a" in doc or "<A" in doc:
        doc = _ANCHOR_WHOLE.sub(
            lambda m: _BLOCK_SPLIT.sub(" ", m.group(0)), doc
        )

    kept: list[str] = []
    for block in _BLOCK_SPLIT.split(doc):
        if not block or not block.strip():
            continue
        # one pass strips tags AND counts them (subn's n == len(findall))
        no_tags, tag_count = _TAG.subn(" ", block)
        visible = _collapse(_unescape(no_tags))
        if not visible:
            continue
        # anchors need their own regex scan only when one can open at all
        # (the _ANCHOR pattern is anchored on a literal '<a'/'<A')
        if "<a" in block or "<A" in block:
            # unescape the numerator like the denominator: raw '&amp;'
            # counts 5 chars vs 1 in `visible`, overstating link density
            # (it could even exceed 1.0) and dropping borderline content
            anchor_text_len = sum(
                len(_collapse(_unescape(_TAG.sub(" ", m))))
                for m in _ANCHOR.findall(block)
            )
        else:
            anchor_text_len = 0
        ratio = len(visible) / (1.0 + tag_count)
        link_density = anchor_text_len / max(1, len(visible))
        if ratio >= TEXT_TO_TAG_THRESHOLD and link_density < LINK_DENSITY_THRESHOLD:
            kept.append(visible)

    return _collapse(" ".join(kept))


# Vectorization note (measured): this operator is regex-bound, not
# interpreter-bound.  Batch twins over pandas ``Series.str`` (per-element
# Python loops on object dtype: 0.76x) and Arrow/RE2 compute kernels
# (~120 MB/s per replace pass here: 0.75-1.0x) were built, held
# golden-equal on the fixture corpus, and benchmarked SLOWER than this
# scalar loop at 4000 spans/batch, so the scalar loop (plus the subn and
# '<a'-prefilter wins above, +8%) stays the executor path.  At sf0.1 the
# whole strip stage is ~1% of suite wall — not a profile hot spot.
