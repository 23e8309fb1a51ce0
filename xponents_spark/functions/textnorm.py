"""Text normalization kernel.

Re-implements the TextUtils scalar functions the reference calls throughout
tagging and scoring (call sites cited per function; javadoc at
``/root/reference/doc/sdk-apidocs/org/opensextant/util/TextUtils.html``).
All functions are pure and operate on single strings; the Spark pipeline
applies them over pandas Series via ``Series.map`` inside Arrow batches, or
vectorized with precompiled regex/translate tables where it matters.
"""

from __future__ import annotations

import re
import unicodedata

_FORMATTING_WS = re.compile(r"[\n\r\t\f\v]")
_IRREGULAR_PUNCT = re.compile(r"[—–;:!?<>={}\[\]()_~^%$#@*+|\\/\"]|[,.'-]{2,}")
_ABBREV = re.compile(r"^[A-Za-z](?:[.][A-Za-z])+[.]?$|^[A-Za-z]{1,4}[.]$")
# CJK: Han, Hiragana, Katakana, Hangul ranges.
_CJK = re.compile(r"[⺀-鿿぀-ヿ가-힯豈-﫿]")
# Arabic, Farsi, Urdu, Hebrew blocks.
_MIDEAST = re.compile(r"[֐-׿؀-ۿݐ-ݿﭐ-﷿ﹰ-﻿]")


def squeeze_whitespace(text: str) -> str:
    """Collapse runs of whitespace to one space and strip the ends
    (used at GazetteerMatcher.java:510).  ``str.split()`` splits on
    exactly the characters ``re``'s ``\\s`` matches (``str.isspace``).
    A stripped text with no double space that is printable is already
    squeezed: U+0020 is the only printable whitespace character.  On
    ASCII text the cheaper test is the absence of the nine other ASCII
    whitespace characters."""
    t = text.strip()
    if "  " not in t and (_no_ascii_ws(t) if t.isascii() else t.isprintable()):
        return t
    return " ".join(t.split())


def _no_ascii_ws(t: str) -> bool:
    """No ASCII whitespace but U+0020 in ``t`` (nine C-level scans; faster
    than ``isprintable`` on ASCII text)."""
    return not ("\n" in t or "\t" in t or "\r" in t or "\x0b" in t or "\x0c" in t
                or "\x1c" in t or "\x1d" in t or "\x1e" in t or "\x1f" in t)


def is_ascii(text: str) -> bool:
    return text.isascii()


def is_upper(text: str) -> bool:
    return text == text.upper() and text != text.lower()


def is_lower(text: str) -> bool:
    return text == text.lower() and text != text.upper()


def is_mixed_case(text: str) -> bool:
    return not is_upper(text) and not is_lower(text) and any(c.isalpha() for c in text)


def has_diacritics(text: str) -> bool:
    """True if any char decomposes with combining marks
    (PlaceCandidate.java:83)."""
    return any(unicodedata.combining(c) for c in unicodedata.normalize("NFD", text))


def strip_diacritics(text: str) -> str:
    """ASCII-folding / phonetic reduction equivalent: NFD + drop combining
    marks (the reference's Solr ASCII-folding char filter,
    solr/solr7/gazetteer/conf/schema.xml:364-381, and
    TextUtils.phoneticReduction used at TagFilter.java:230)."""
    if text.isascii():          # hot path: nothing to fold
        return text
    return "".join(
        c for c in unicodedata.normalize("NFD", text) if not unicodedata.combining(c)
    )


def has_cjk(text: str) -> bool:
    return _CJK.search(text) is not None


def has_middle_eastern(text: str) -> bool:
    return _MIDEAST.search(text) is not None


def is_abbreviation(text: str) -> bool:
    """'U.S.', 'Calif.' style (PlaceCandidate.java:891)."""
    return _ABBREV.match(text) is not None


def has_irregular_punctuation(text: str) -> bool:
    """GazetteerMatcher.java:474-478 filter predicate."""
    return _IRREGULAR_PUNCT.search(text) is not None


def count_formatting_space(text: str) -> int:
    """Newlines/tabs inside a match (GazetteerMatcher.java:502-510)."""
    return len(_FORMATTING_WS.findall(text))


def levenshtein(a: str, b: str) -> int:
    """Edit distance for the name-score kernel (PlaceCandidate.java:427-534).
    Two-row DP; strings involved are short place names."""
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]
