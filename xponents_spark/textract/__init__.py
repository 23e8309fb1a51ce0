"""Main-content extraction — the XText-equivalent stage (SURVEY.md §2.1 S1).

The reference wraps Tika for file conversion and exposes an HTML scrubber
(``XText.enableHTMLScrubber``, usage at ``/root/reference/Examples/src/main/
java/org/opensextant/examples/BasicGeoTemporalProcessing.java:135-157``).
Per the build's north rule this stage is a fresh design: the input is
already a text column, so "conversion" means

1. charset repair for byte payloads (:func:`decode_bytes`),
2. HTML boilerplate removal via a block-level tag/link-density heuristic
   (the boilerpipe family: Kohlschütter et al., "Boilerplate Detection
   using Shallow Text Features", WSDM 2010),
3. whitespace canonicalization (``squeeze_whitespace``).

Boilerplate removal costs one forward scan per stage, linear in the text
on any markup: every tag ends at a ``>``, so no pattern reads past the
last one; each container's close search resumes from a per-name offset
that only moves forward; a flagged element's end comes from one bracket
match over its tag name's events.  ASCII text is scanned as a ``.lower()``
copy with case-sensitive patterns; other text runs the same code with
``re.I`` patterns on the text itself (``re.I`` also folds ``ſ``/``K``/
``İ``, which a lowered copy would not).

Everything is pure-Python over single strings; the Spark pipeline maps it
over pandas batches inside ``mapInPandas`` (no per-row Python UDFs).
"""

from __future__ import annotations

import html as _html
import re
from bisect import bisect_left

from ..functions.textnorm import squeeze_whitespace

_HTML_HINT = re.compile(r"<\s*(?:html|body|div|p|br|span|head|nav|table|h[1-6])\b", re.I)
# containers stripped wholesale: non-content by construction
_CONTAINERS = ("script", "style", "head", "nav", "header", "footer", "aside",
               "noscript", "svg", "form", "iframe")
# id/class naming that marks boilerplate even in generic divs
_BOILER_WORDS = ("(?:nav|menu|footer|sidebar|banner|breadcrumb|advert|cookie"
                 "|share|social)")
_TAG = re.compile(r"<[^>]+>")
# sre's backreference rule for a container close: "</SCRIPT>" closes
# "<script>", "</script>" does not close "<ſcript>"
_SAME_NAME = re.compile(r"(\w+)\x00\1", re.I)


class _Grammar:
    """The scrubber's patterns in one case mode: ``flags=0`` over
    ``text.lower()`` of an ASCII text (exactly ``re.I`` there), or
    ``re.I`` over the text itself."""

    def __init__(self, flags: int, anchor_hints: tuple[str, ...]):
        names = "|".join(_CONTAINERS)
        self.flags = flags
        self.container = re.compile(rf"<({names})\b", flags)
        self.close = {n: re.compile(rf"</({n})\s*>", flags) for n in _CONTAINERS}
        self.close_head = re.compile(rf"</(?:{names})\s*", flags)
        self.boiler = re.compile(r'(?:id|class)\s*=\s*["\'][^"\']*' + _BOILER_WORDS, flags)
        # the part of a boiler match from its '=' on, within one tag: a
        # literal first char makes this scan cheap where the full one is not
        self.boiler_value = re.compile(r'=\s*["\'][^"\'>]*' + _BOILER_WORDS, flags)
        self.open_tag = re.compile(r"<([a-z][a-z0-9]*)\b[^>]*>", flags)
        self.block = re.compile(r"<(?:p|div|td|th|li|article|section|main|h[1-6]"
                                r"|blockquote|pre|tr|br)\b[^>]*/?>", flags)
        self.anchor_hints = anchor_hints
        self.anchor_open = re.compile(r"<a\b[^>]*>", flags)
        self.anchor_close = re.compile(r"</a\s*>", flags)

    def container_name(self, key: str) -> str:
        """The container name an open tag's name text ``key`` matched."""
        if key in self.close:
            return key
        return next(n for n in _CONTAINERS if re.fullmatch(n, key, self.flags))


_ASCII = _Grammar(0, ("<a",))
# only "A" folds to "a" under re.I
_UNICODE = _Grammar(re.I, ("<a", "<A"))


def is_htmlish(text: str) -> bool:
    return _HTML_HINT.search(text) is not None


def extract_main_content(text: str) -> str:
    """Turn text -> extracted main content.

    Plain text passes through whitespace-squeezed.  HTML-ish text is scrubbed:
    comments and script/style/head/nav/header/footer/aside/noscript/svg/
    form/iframe elements drop, so do elements whose id/class names
    boilerplate; the remaining markup splits into blocks, and each block
    is kept if its link density < 0.5 and it carries real text (len >= 3
    after tag strip).  Survivors join with single spaces.  Deterministic;
    tested for exact recovery of wrapped content and, on generated markup,
    for equality with the regex form it replaced.
    """
    if not text:
        return ""
    if not is_htmlish(text):
        return squeeze_whitespace(text)
    doc = _drop_comments(text)
    g, low = (_ASCII, doc.lower()) if doc.isascii() else (_UNICODE, doc)
    doc, low = _drop_flagged(*_drop_containers(doc, low, g), g)
    cuts = [0]
    for m in g.block.finditer(low, 0, low.rfind(">") + 1):
        cuts += m.span()
    cuts.append(len(doc))
    anchors = any(h in low for h in g.anchor_hints)
    kept: list[str] = []
    for bs, be in zip(cuts[::2], cuts[1::2]):
        block = doc[bs:be]
        if not block or block.isspace():
            continue
        visible = squeeze_whitespace(_html.unescape(_strip_tags(block, " ")))
        # link density = anchor chars / visible chars, kept below 0.5
        if len(visible) >= 3 and not (
                anchors and 2 * _anchor_chars(doc, low, bs, be, g) >= len(visible)):
            kept.append(visible)
    # kept blocks are squeezed and non-empty: the join is squeezed too
    return " ".join(kept)


def _strip_tags(s: str, repl: str) -> str:
    """``_TAG.sub(repl, s)`` over the span from the first ``<`` to the
    last ``>`` only: no tag starts before the one or ends after the other
    (and a ``<`` after the last ``>`` is never rescanned)."""
    i = s.find("<")
    j = s.rfind(">") + 1
    if i < 0 or j <= i:
        return s
    if s.find(">", i) == j - 1:            # one '>': the span is one tag
        return s[:i] + repl + s[j:] if j - i > 2 else s
    return s[:i] + _TAG.sub(repl, s[i:j]) + s[j:]


def _splice(doc: str, low: str, cuts: list[tuple[int, int]], repl: str):
    """``(doc, low)`` with each span in ``cuts`` (sorted, disjoint)
    replaced by ``repl``."""
    out, lout, last = [], [], 0
    for s, e in cuts:
        out.append(doc[last:s])
        lout.append(low[last:s])
        last = e
    out.append(doc[last:])
    lout.append(low[last:])
    new = repl.join(out)
    return new, (new if low is doc else repl.join(lout))


def _drop_comments(text: str) -> str:
    """``<!--.*?-->`` (dotall) -> one space each, leftmost first.  An
    unclosed ``<!--`` ends the search: no later one can close either."""
    s = text.find("<!--")
    if s < 0:
        return text
    out, last = [], 0
    while s >= 0:
        e = text.find("-->", s + 4)
        if e < 0:
            break
        out += (text[last:s], " ")
        last = e + 3
        s = text.find("<!--", last)
    out.append(text[last:])
    return "".join(out)


def _drop_containers(doc: str, low: str, g: _Grammar) -> tuple[str, str]:
    """Each container element -> one space: the fixed point of the
    leftmost-first substitution ``<(name)\\b[^>]*>.*?</\\1\\s*>``.

    A pass scans the opens left to right.  An open ends at the first
    ``>`` after its name (one pointer, only moving forward), and its close
    is the first ``</name\\s*>`` after that; each name's last close search
    is cached, so an unclosed open costs one failed search, not a rescan
    to the end.  A later pass can only match through a close whose
    ``\\s*`` a replacement made (``</script<nav>..</nav>>``), so a pass
    runs again only after a replacement right behind ``</name\\s*``."""
    while True:
        end = low.rfind(">") + 1          # no tag reaches past the last '>'
        cuts: list[tuple[int, int]] = []
        closes: dict[str, tuple[int, int]] = {}
        pos, gt, again = 0, -1, False
        while (m := g.container.search(low, pos, end)) is not None:
            if gt < m.end():
                gt = low.find(">", m.end(), end)
            key = m.group(1)
            hit = closes.get(key)
            if hit is None or 0 <= hit[0] <= gt:
                hit = closes[key] = _close_after(
                    low, g.close[g.container_name(key)], key, gt + 1)
            if hit[0] < 0:
                pos = m.start() + 1
                continue
            s = m.start()
            if not again:
                b = low.rfind("</", 0, s)
                again = b >= 0 and g.close_head.fullmatch(low, b, s) is not None
            cuts.append((s, hit[1]))
            pos = hit[1]
        if not cuts:
            return doc, low
        doc, low = _splice(doc, low, cuts, " ")
        if not again:
            return doc, low


def _close_after(low: str, close, key: str, pos: int) -> tuple[int, int]:
    """Span of the first close of the element named ``key`` at or after
    ``pos``, or ``(-1, -1)``."""
    c = close.search(low, pos)
    while c is not None and c.group(1) != key and \
            _SAME_NAME.fullmatch(key + "\x00" + c.group(1)) is None:
        c = close.search(low, c.end())
    return c.span() if c is not None else (-1, -1)


def _drop_flagged(doc: str, low: str, g: _Grammar) -> tuple[str, str]:
    """Remove each element whose open tag carries a boilerplate id/class,
    through its balancing same-name close; an unbalanced one loses only
    its open tag.  Open tags are visited left to right, resuming after a
    removed element.

    Only tags holding a ``boiler_value`` match are examined.  ``pos`` is
    always a token boundary (0, just after a ``>``, or a tag's start), so
    the tag holding a candidate is the first one at or after the last
    ``>`` before it; every scan resumes where the last one stopped."""
    end = low.rfind(">") + 1
    cuts: list[tuple[int, int]] = []
    nests: dict[str, _Nesting] = {}
    pos, tag = 0, None
    for c in g.boiler_value.finditer(low, 0, end):
        q = c.start()
        if q < pos:
            continue
        gt = low.rfind(">", pos, q)
        if gt >= 0:
            pos = gt + 1
        if tag is None or tag.start() < pos:
            tag = g.open_tag.search(low, pos, end)
            if tag is None:
                break
        s = tag.start()
        if s > q:                        # q is not inside a tag
            pos = s
            continue
        pos = tag.end()
        if g.boiler.search(low, s, pos) is None:
            continue
        name = tag.group(1).lower()
        nest = nests.get(name)
        if nest is None:
            nest = nests[name] = _Nesting(low, name, g.flags, pos, end)
        j = nest.close_end(pos)
        if j >= 0:
            pos = j
        cuts.append((s, pos))
    if not cuts:
        return doc, low
    return _splice(doc, low, cuts, "")


class _Nesting:
    """The open/close events of one tag name, read left to right on
    demand from the first query: an element opened just before ``pos``
    ends with the first event after which the nesting depth falls below
    its depth at ``pos``.  Each event is read once per document."""

    __slots__ = ("_events", "starts", "ends", "depth", "closer", "_open")

    def __init__(self, low: str, name: str, flags: int, pos: int, end: int):
        self._events = re.compile(rf"<(/?){name}\b[^>]*>", flags).finditer(low, pos, end)
        self.starts: list[int] = []
        self.ends: list[int] = []
        self.depth = [0]        # depth[i]: before event i
        self.closer = [-1]      # closer[i]: first t > i with depth[t] < depth[i]
        self._open = [0]        # depth indices still waiting for their closer

    def close_end(self, pos: int) -> int:
        """End of the element whose open tag ends at ``pos``; -1 if it
        never closes."""
        while (not self.starts or self.starts[-1] < pos) and self._read():
            pass
        i = bisect_left(self.starts, pos)
        while self.closer[i] < 0 and self._read():
            pass
        t = self.closer[i]
        return self.ends[t - 1] if t > 0 else -1

    def _read(self) -> bool:
        e = next(self._events, None)
        if e is None:
            return False
        self.starts.append(e.start())
        self.ends.append(e.end())
        d = self.depth[-1] + (-1 if e.group(1) else 1)
        t = len(self.depth)
        self.depth.append(d)
        self.closer.append(-1)
        while self._open and self.depth[self._open[-1]] > d:
            self.closer[self._open.pop()] = t
        self._open.append(t)
        return True


def _anchor_chars(doc: str, low: str, bs: int, be: int, g: _Grammar) -> int:
    """Total tag-stripped length of the anchor texts in ``doc[bs:be]``:
    ``<a\\b[^>]*>(.*?)</a\\s*>`` leftmost first.  Stops at the first
    anchor with no close: no later one has a close either."""
    end = low.rfind(">", bs, be) + 1
    n, pos = 0, bs
    while (a := g.anchor_open.search(low, pos, end)) is not None:
        c = g.anchor_close.search(low, a.end(), end)
        if c is None:
            break
        n += len(_strip_tags(doc[a.end():c.start()], ""))
        pos = c.end()
    return n


def convert_document(payload: bytes, doc_password: str | None = None) -> str:
    """XText-equivalent conversion dispatcher (doc-in -> text-out, the API
    shape of ConvertedDocument): PDF payloads go through the text-layer
    recovery (:mod:`.pdf`); DOCX/ODT/RTF through the office text recovery
    (:mod:`.office` — the Tika-class formats, pure stdlib); anything else
    charset-decodes and, when HTML-ish, scrubs boilerplate."""
    return convert_document_kind(payload, doc_password)[0]


def convert_document_kind(payload: bytes,
                          doc_password: str | None = None) -> tuple[str, str]:
    """(extracted text, sniffed kind) in ONE dispatch — the Spark batch
    stage needs both columns, and format detection (CFB DIFAT/FAT/dir
    parse in particular) must run once per payload, not once per output
    column."""
    from .office import (extract_doc_text, extract_docx_text,
                         extract_odt_text, extract_pptx_text,
                         extract_rtf_text, extract_xls_text,
                         extract_xlsx_text, is_rtf, zip_kind)
    from .pdf import extract_pdf_text, is_pdf
    if payload is None:
        return "", "empty"
    if is_pdf(payload):
        return squeeze_whitespace(extract_pdf_text(payload)), "pdf"
    zk = zip_kind(payload)
    if zk == "docx":
        return squeeze_whitespace(extract_docx_text(payload)), "docx"
    if zk == "xlsx":
        return squeeze_whitespace(extract_xlsx_text(payload)), "xlsx"
    if zk == "pptx":
        return squeeze_whitespace(extract_pptx_text(payload)), "pptx"
    if zk == "odt":
        return squeeze_whitespace(extract_odt_text(payload)), "odt"
    if zk:
        # other zip container: fall through to charset decode of the bytes
        return extract_main_content(decode_bytes(payload)), zk
    if is_rtf(payload):
        return squeeze_whitespace(extract_rtf_text(payload)), "rtf"
    # legacy binary Office (CFB containers) — round-3: parsed directly,
    # no Tika (textract/cfb.py + the [MS-DOC]/BIFF8 readers).  ONE
    # container parse serves detection and extraction (review finding:
    # is_doc/is_xls each rebuilt the full reader)
    from .cfb import CfbReader, is_cfb
    if is_cfb(payload):
        try:
            r = CfbReader(payload)
            names = set(r.stream_names())
        except Exception:
            names = set()
        if "EncryptionInfo" in names and "EncryptedPackage" in names:
            # encrypted OOXML ([MS-OFFCRYPTO] 2.3.4, round 5): the CFB
            # wraps an AES-encrypted docx/xlsx zip (agile 4.4 CBC or
            # standard/CryptoAPI x.2 ECB); decrypt with the job password
            # and recurse on the inner package.  Same degrade contract
            # as doc-encrypted: a protected file must not fail the
            # 100 TB task
            from .agile import AgileDecryptError, decrypt_ooxml_package
            try:
                pkg = decrypt_ooxml_package(r, doc_password)
            except AgileDecryptError:
                return "", "ooxml-encrypted"
            text, inner = convert_document_kind(pkg, doc_password)
            return text, inner
        if "WordDocument" in names:
            from .office import EncryptedDocError
            try:
                return squeeze_whitespace(
                    extract_doc_text(payload, reader=r,
                                     password=doc_password)), "doc"
            except EncryptedDocError:
                # a protected file must not fail the 100 TB task: degrade
                # to empty text with a distinguishing kind so downstream
                # audits can count (and optionally re-run with passwords)
                return "", "doc-encrypted"
        if "Workbook" in names or "Book" in names:
            return squeeze_whitespace(extract_xls_text(payload, reader=r)), "xls"
    text = decode_bytes(payload)
    if is_htmlish(text[:4096]):
        return extract_main_content(text), "html"
    return extract_main_content(text), "text"


def doc_kind(payload: bytes) -> str:
    """Payload sniffing: pdf / docx / odt / rtf / doc / xls / html / text
    (the ConvertedDocument mime analog)."""
    from .office import is_rtf, zip_kind
    from .pdf import is_pdf
    if payload is None:
        return "empty"
    if is_pdf(payload):
        return "pdf"
    zk = zip_kind(payload)
    if zk:
        return zk
    if is_rtf(payload):
        return "rtf"
    # ONE container parse decides doc vs xls (mirrors convert_document;
    # is_doc + is_xls would each rebuild the full DIFAT/FAT/dir reader)
    from .cfb import CfbReader, is_cfb
    if is_cfb(payload):
        try:
            names = set(CfbReader(payload).stream_names())
        except Exception:
            names = set()
        if "WordDocument" in names:
            return "doc"
        if "Workbook" in names or "Book" in names:
            return "xls"
    if is_htmlish(decode_bytes(payload[:4096])):
        return "html"
    return "text"


def convert_binary_docs(df, payload_col: str = "payload",
                        out_col: str = "text",
                        doc_password: str | None = None):
    """Spark plumbing: binary payload column -> extracted text column plus
    conversion metadata (the reference's ConvertedDocument carries
    buffer/filesize/mime — BasicGeoTemporalProcessing.java:135-157) via one
    Arrow-batched mapInPandas stage (no per-row Python UDF).
    ``doc_password``: job-level password for RC4-encrypted legacy .doc
    payloads (rides the closure to every worker); files it does not open
    degrade to kind='doc-encrypted' with empty text."""
    import pandas as pd
    from pyspark.sql import types as T

    fields = [f for f in df.schema.fields if f.name != payload_col]
    schema = T.StructType(fields + [
        T.StructField(out_col, T.StringType()),
        T.StructField("doc_kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ])
    names = [f.name for f in fields]

    def run(batches):
        for pdf in batches:
            payloads = pdf[payload_col].tolist()
            out = pdf[names].copy()
            pairs = [convert_document_kind(p, doc_password) for p in payloads]
            out[out_col] = [t for t, _ in pairs]
            out["doc_kind"] = [k for _, k in pairs]
            out["n_bytes"] = [len(p) if p is not None else 0 for p in payloads]
            yield out

    return df.mapInPandas(run, schema=schema)


def decode_bytes(payload: bytes) -> str:
    """Charset/encoding normalization for binary payload columns: BOM sniff,
    UTF-8, then windows-1252 fallback (the common mislabeled-latin1 case);
    clean UTF-8 additionally gets the double-encoding repair (mojibake is
    by definition VALID utf-8 carrying the wrong characters)."""
    if payload.startswith(b"\xef\xbb\xbf"):
        return payload[3:].decode("utf-8", errors="replace")
    if payload.startswith((b"\xff\xfe", b"\xfe\xff")):
        return payload.decode("utf-16", errors="replace")
    try:
        return repair_mojibake(payload.decode("utf-8"))
    except UnicodeDecodeError:
        return payload.decode("windows-1252", errors="replace")


# mojibake signature: a char that IS the cp1252/latin-1 image of a UTF-8
# lead byte (0xC2-0xEF) immediately followed by the image of a continuation
# byte (0x80-0xBF).  The continuation-image set is computed from the real
# codec tables, plus U+0080-U+009F for the five bytes cp1252 leaves
# unmapped (a latin-1 mis-decode surfaces those as C1 controls).
_CONT_IMAGES = "".join(
    {bytes([b]).decode("windows-1252", errors="ignore") or chr(b)
     for b in range(0x80, 0xC0)})
_MOJIBAKE_HINT = re.compile(
    "[Â-ï][" + re.escape(_CONT_IMAGES) + "]")


def repair_mojibake(s: str, max_passes: int = 2) -> str:
    """Undo UTF-8-read-as-cp1252/latin-1 double encoding ('cafÃ©'
    -> 'café'), the single most common real-crawl text corruption
    (XText's charset-repair concern; ftfy's core fix).

    Conservative by construction: repairs only when (a) the lead-byte/
    continuation-byte signature is present, (b) the WHOLE string
    re-encodes strictly (cp1252 first, then latin-1 — mixed clean+broken
    strings are left alone rather than half-repaired), and (c) the
    re-decode is strict UTF-8.  Clean text in any language is untouched
    (CJK/Arabic fail (b); plain accented prose fails (a) or (c)).  Two
    passes undo the double-mojibake case."""
    for _ in range(max_passes):
        if not _MOJIBAKE_HINT.search(s):
            return s
        raw = None
        for enc in ("windows-1252", "latin-1"):
            try:
                raw = s.encode(enc)
                break
            except UnicodeEncodeError:
                continue
        if raw is None:
            return s
        try:
            fixed = raw.decode("utf-8")
        except UnicodeDecodeError:
            return s
        if fixed == s:
            return s
        s = fixed
    return s
