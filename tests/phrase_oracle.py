"""Reference implementation of the gazetteer phrase scan: the in-memory
token-keyed phrase dictionary that the compiled phrase table
(``xponents_spark.gazetteer.mmapstore.MmapGazetteerIndex``) replaced.
Tests compare the production scan against it."""

from __future__ import annotations

from itertools import compress

from xponents_spark.gazetteer import matcher
from xponents_spark.gazetteer.matcher import (TagLimitExceeded, Tokens,
                                              _longest_dominant_right,
                                              token_view,
                                              tokens_with_offsets)


class PhraseIndex:
    """Token-keyed phrase dictionary with longest-first lookup."""

    def __init__(self, entries: list[tuple[str, object]]):
        """entries: (phrase, payload); phrases normalize at build time.

        One flat dict keyed by the space-joined normalized phrase, plus a
        per-first-token max phrase length so the scan's inner loop is
        bounded by THAT token's longest dictionary phrase."""
        self.index: dict[str, list] = {}
        self.first_max: dict[str, int] = {}
        for phrase, payload in entries:
            # same tokenization as tag time (CJK names -> char sequences)
            toks = tuple(t for t, _s, _e in tokens_with_offsets(phrase) if t)
            if not toks:
                continue
            if len(toks) > self.first_max.get(toks[0], 0):
                self.first_max[toks[0]] = len(toks)
            self.index.setdefault(" ".join(toks), []).append(payload)

    def scan(self, text: str, toks: Tokens = None
             ) -> list[tuple[int, int, str, list]]:
        """All (start, end, matchtext, payloads) phrase hits, LDR-resolved.

        The first-token gate returns at once when no token of the turn
        starts a dictionary phrase.  Otherwise only positions holding a
        dictionary first token try their phrases, longest first (bounded
        by that token's longest phrase), and token offsets are read only
        once a phrase hits."""
        view = token_view(text, toks)
        first_max = self.first_max
        firsts = first_max.keys() & view.vocab
        if not firsts:
            return []
        lookup = self.index.get
        limit = matcher.TAG_LIMIT
        norms = view.norms
        n = len(norms)
        raw: list[tuple[int, int, str, list]] = []
        spans = None
        for i in compress(range(n), map(firsts.__contains__, norms)):
            for ln in range(min(first_max[norms[i]], n - i), 0, -1):
                payloads = lookup(" ".join(norms[i:i + ln]))
                if payloads:
                    if spans is None:
                        spans = view.spans
                    s, e = spans[i][0], spans[i + ln - 1][1]
                    raw.append((s, e, text[s:e], payloads))
                    if len(raw) > limit:
                        raise TagLimitExceeded(
                            f"tag limit {limit} exceeded in one document")
        return _longest_dominant_right(raw)


def _cap_places(places: list) -> list:
    """The O6 candidate cap (``matcher.CANDIDATE_CAP``) on a payload
    list: the top places by id_bias, a stable sort on bias only, so ties
    keep source order as they keep artifact order in the compiled
    table."""
    cap = matcher.CANDIDATE_CAP
    if len(places) <= cap:
        return places
    return sorted(places, key=lambda p: -p.id_bias)[:cap]
