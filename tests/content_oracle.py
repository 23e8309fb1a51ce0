"""Reference implementation of HTML main-content recovery: the regex form
that ``xponents_spark.textract.extract_main_content`` replaced.  Tests
compare the production scan against it; it is quadratic on unclosed
markup, so only feed it small inputs."""

from __future__ import annotations

import html as _html
import re

from xponents_spark.textract import is_htmlish


def _squeeze(text: str) -> str:
    return " ".join(text.split())


# containers stripped wholesale: non-content by construction
_DROP_BLOCKS = re.compile(
    r"<(script|style|head|nav|header|footer|aside|noscript|svg|form|iframe)\b[^>]*>.*?</\1\s*>",
    re.I | re.S)
_COMMENTS = re.compile(r"<!--.*?-->", re.S)
# id/class naming that marks boilerplate even in generic divs
_BOILER_ATTR = re.compile(r'(?:id|class)\s*=\s*["\'][^"\']*'
                          r'(?:nav|menu|footer|sidebar|banner|breadcrumb|advert|cookie|share|social)',
                          re.I)
_BLOCK_SPLIT = re.compile(r"<(?:p|div|td|th|li|article|section|main|h[1-6]|blockquote|pre|tr|br)\b[^>]*/?>", re.I)
_TAG = re.compile(r"<[^>]+>")
_ANCHOR_TEXT = re.compile(r"<a\b[^>]*>(.*?)</a\s*>", re.I | re.S)
_FLAGGED_OPEN = re.compile(r"<([a-z][a-z0-9]*)\b[^>]*>", re.I)


def extract_main_content_oracle(text: str) -> str:
    if not text:
        return ""
    if not is_htmlish(text):
        return _squeeze(text)

    doc = _COMMENTS.sub(" ", text)
    # iterate: nested same-name blocks need repeated passes (regex is non-nesting)
    prev = None
    while prev != doc:
        prev = doc
        doc = _DROP_BLOCKS.sub(" ", doc)

    # drop generic elements whose id/class flags boilerplate (non-nested scan)
    doc = _drop_flagged_elements(doc)

    kept: list[str] = []
    for block in _BLOCK_SPLIT.split(doc):
        if not block or not block.strip():
            continue
        anchor_len = sum(len(_TAG.sub("", m)) for m in _ANCHOR_TEXT.findall(block))
        visible = _squeeze(_html.unescape(_TAG.sub(" ", block)))
        if not visible or len(visible) < 3:
            continue
        link_density = anchor_len / max(1, len(visible))
        if link_density >= 0.5:
            continue
        kept.append(visible)
    return _squeeze(" ".join(kept))


def _drop_flagged_elements(doc: str) -> str:
    """Remove elements whose open tag carries a boilerplate id/class.
    Single linear scan balancing same-name tags."""
    out = []
    i = 0
    n = len(doc)
    while i < n:
        m = _FLAGGED_OPEN.search(doc, i)
        if not m:
            out.append(doc[i:])
            break
        if not _BOILER_ATTR.search(m.group(0)):
            out.append(doc[i:m.end()])
            i = m.end()
            continue
        out.append(doc[i:m.start()])
        name = m.group(1).lower()
        depth = 1
        j = m.end()
        pat = re.compile(rf"<(/?){name}\b[^>]*>", re.I)
        while depth and (m2 := pat.search(doc, j)):
            depth += -1 if m2.group(1) else 1
            j = m2.end()
        i = j if depth == 0 else m.end()
    return "".join(out)
