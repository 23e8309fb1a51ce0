"""Gazetteer phrase tagging: the FST-tagger equivalent (SURVEY.md §2.2 T1-T3).

The reference streams text through a Solr FST of ~25M normalized names with
``overlaps=LONGEST_DOMINANT_RIGHT``
(solr/solr7/gazetteer/conf/solrconfig.xml:1114-1120,
GazetteerMatcher.java:151-163).  Here the dictionary is a token-keyed phrase
index built once per executor process from broadcast gazetteer rows:

* normalization (T3): ASCII-fold -> lowercase -> edge-punct strip, applied
  identically to gazetteer phrases at build time and document tokens at tag
  time (the pinned normalization standing in for the Solr analyzer chain —
  SURVEY.md §4.3.1);
* tokenize (TokenView): one C-level pass over an ASCII turn, the exact
  per-token NFKC/Arabic/CJK loop over any other; offsets build lazily;
* scan: a first-token gate skips the turn when no token starts a
  dictionary phrase; otherwise only positions holding a dictionary first
  token try their longest phrase first (bounded by that token's longest
  phrase), and offsets are read only for hits;
* overlap resolution: longest-dominant-right sweep (longer span wins; equal
  length prefers the rightmost), same policy as the Solr tagger.

Tag-time filters F1-F10 (SURVEY.md §2.4) apply as candidates are built.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from ..functions.textnorm import (
    count_formatting_space,
    has_irregular_punctuation,
    is_lower,
    is_upper,
    strip_diacritics,
)
from . import data

_EDGE_PUNCT = ".,;:'\"!?()[]|"
_EDGE_PUNCT_SET = frozenset(_EDGE_PUNCT)


# bump when tokenization/normalization SEMANTICS change (NFKC fold, CJK
# per-char, Arabic variant fold + light stem...).  Tagger parquets record
# the version they were normalized with; the runtime index refuses an
# artifact built under different semantics — silent mismatches would just
# stop matching (store.ParquetGazetteerIndex checks this).
NORMALIZATION_VERSION = 2   # v2: round-2 Arabic light stem


class TagLimitExceeded(RuntimeError):
    """Raised when one document exceeds PhraseIndex.TAG_LIMIT tags
    (reference: hard error per doc, SolrMatcherSupport.java:46,186-195).
    A dedicated type so the pipeline's degrade-don't-fail handler cannot
    swallow unrelated RuntimeErrors."""


@dataclass
class Place:
    place_id: str
    name: str
    name_type: str   # N=name A=abbreviation C=code
    feat_class: str
    feat_code: str
    cc: str
    adm1: str
    lat: float
    lon: float
    id_bias: int
    pop: int

    @property
    def hierarchical_path(self) -> str:
        return f"{self.cc}.{self.adm1}" if self.adm1 else self.cc

    @property
    def is_country(self) -> bool:
        return self.feat_code.startswith("PCL") and self.feat_code != "PCLD"

    @property
    def is_admin1(self) -> bool:
        return self.feat_code in ("ADM1", "PCLD")


@dataclass
class PlaceCandidate:
    start: int
    end: int
    text: str
    places: list[Place]
    filtered_out: bool = False
    filter_reason: str | None = None
    is_country: bool = False
    is_continent: bool = False
    is_abbreviation: bool = False
    is_acronym: bool = False
    is_person: bool = False
    is_org: bool = False
    is_nationality: bool = False
    scores: dict = field(default_factory=dict)      # id(place row) -> score
    rules: list = field(default_factory=list)
    evidence_cc: set = field(default_factory=set)
    linked_admin: Place | None = None               # NAME, CODE association
    merged_end: int | None = None                   # related-name merge span
    chosen: Place | None = None
    second: Place | None = None
    confidence: int = -1
    alt_conf_delta: int | None = None   # K12: chosen vs runner-up-as-chosen

    @property
    def textnorm(self) -> str:
        return normalize_token(self.text)

    def add_rule(self, rule: str) -> None:
        if rule not in self.rules:
            self.rules.append(rule)

    def score_place(self, place: Place, pts: float, rule: str) -> None:
        """Increment-once-per-rule guard, as ScoredPlace.incrementScore."""
        key = (id(place), rule)
        if key in self.scores:
            return
        self.scores[key] = pts
        self.add_rule(rule)

    def total_score(self, place: Place) -> float:
        return sum(v for (pid, _r), v in self.scores.items() if pid == id(place))


import re as _re
import unicodedata as _ud
from itertools import compress as _compress, repeat as _repeat
from operator import itemgetter as _itemgetter

_WS_TOKEN = _re.compile(r"\S+")
# matches the edge-punct-trimmed token core directly: first/last char
# outside the edge set, anything non-whitespace between (equivalent to
# \S+ then .strip(_EDGE_PUNCT); differential-fuzzed for equality)
_CORE_TOKEN = _re.compile(
    rf"[^\s{_re.escape(_EDGE_PUNCT)}](?:\S*[^\s{_re.escape(_EDGE_PUNCT)}])?")
_CJK_CHAR = _re.compile(r"[⺀-鿿぀-ヿ가-힯豈-﫿]")
# Arabic orthographic variant folding (the Solr ArabicNormalization analog,
# schema.xml:449-471): alef variants, teh marbuta, alef maqsura, tatweel
_AR_FOLD = str.maketrans({"أ": "ا", "إ": "ا", "آ": "ا", "ة": "ه",
                          "ى": "ي", "ـ": None})
_AR_CHAR = _re.compile(r"[؀-ۿ]")
# light10-style Arabic stemming (the Solr ArabicStemFilter analog,
# schema.xml:449-471; Larkey's published light stemmer): definite-article
# prefixes stripped once (longest first), then the suffix list in order,
# each with a 2-char-remainder guard.  Applied identically at index build
# and tag time, so stems always compare against stems.
_AR_PREFIXES = ("وال", "بال", "كال", "فال", "ال", "لل")
_AR_SUFFIXES = ("ها", "ان", "ات", "ون", "ين", "يه", "ه", "ي")


def _arabic_stem(tok: str) -> str:
    if tok.startswith("و") and len(tok) >= 4:      # conjunction waw
        tok = tok[1:]
    for p in _AR_PREFIXES:
        if tok.startswith(p) and len(tok) - len(p) >= 2:
            tok = tok[len(p):]
            break
    for s in _AR_SUFFIXES:
        if tok.endswith(s) and len(tok) - len(s) >= 2:
            tok = tok[:-len(s)]
    return tok


# token -> normalized memo: natural text is Zipf-distributed, so the hit
# rate is high; bounded by periodic clear (process-lifetime executor state)
_NORM_CACHE: dict[str, str] = {}
_NORM_CACHE_MAX = 1 << 17


def normalize_token(tok: str) -> str:
    v = _NORM_CACHE.get(tok)
    if v is not None:
        return v
    if tok.isascii():
        v = tok.lower().strip(_EDGE_PUNCT)
    else:
        # width-fold (NFKC) + diacritic strip + Arabic variant fold + lowercase
        folded = _ud.normalize("NFKC", tok).translate(_AR_FOLD)
        v = strip_diacritics(folded).lower().strip(_EDGE_PUNCT)
        if _AR_CHAR.search(v):
            v = _arabic_stem(v)
    if len(_NORM_CACHE) >= _NORM_CACHE_MAX:
        _NORM_CACHE.clear()
    _NORM_CACHE[tok] = v
    return v


_FIRST = _itemgetter(0)
_SPAN_OF_TUPLE = _itemgetter(1, 2)
_MATCH_SPAN = _re.Match.span


class TokenView:
    """One turn's tokens, the only tokenizer: ``norms`` holds the
    normalized tokens as a plain list; ``spans`` holds each token's
    (start, end), the offsets of the edge-punct-stripped core (inner dots
    of abbreviations survive: 'U.S.' -> 'u.s').

    An ASCII turn is tokenized at C level by the definition itself:
    whitespace split of the lowercased text, edge punctuation stripped,
    empty tokens dropped (measured ~40% faster than ``_CORE_TOKEN.findall``
    on 2 KB turns).  For ASCII, ``normalize_token`` of a core is just its
    lowercase.  Its spans build only on first use, so a turn whose tokens
    miss every dictionary first token never pays for them.  Any other turn
    runs the per-token loop: NFKC fold, Arabic stem, and CJK runs split to
    one token per character (T2: the Solr CJK-bigram field equivalent —
    names index as character sequences, so contiguous unsegmented text
    still matches multi-char names)."""

    __slots__ = ("text", "norms", "_spans", "_vocab")

    def __init__(self, text: str):
        self.text = text
        self._spans: list[tuple[int, int]] | None = None
        self._vocab: set[str] | None = None
        if text.isascii():
            self.norms: list[str] = list(filter(None, map(
                str.strip, text.lower().split(), _repeat(_EDGE_PUNCT))))
            return
        norms: list[str] = []
        spans: list[tuple[int, int]] = []
        for m in _CORE_TOKEN.finditer(text):
            chunk = m.group()
            s = m.start()
            if not chunk.isascii() and _CJK_CHAR.search(chunk):
                for i, ch in enumerate(chunk):
                    if _CJK_CHAR.match(ch):
                        norms.append(normalize_token(ch))
                        spans.append((s + i, s + i + 1))
                    # non-CJK chars inside a CJK run are skipped as separators
            else:
                norms.append(normalize_token(chunk))
                spans.append((s, m.end()))
        self.norms, self._spans = norms, spans

    @classmethod
    def from_tuples(cls, text: str,
                    toks: list[tuple[str, int, int]]) -> "TokenView":
        """View over a ``tokens_with_offsets`` list of ``text``."""
        view = cls.__new__(cls)
        view.text = text
        view.norms = list(map(_FIRST, toks))
        view._spans = list(map(_SPAN_OF_TUPLE, toks))
        view._vocab = None
        return view

    @property
    def spans(self) -> list[tuple[int, int]]:
        if self._spans is None:
            self._spans = self._ascii_spans()
        return self._spans

    @property
    def vocab(self) -> set[str]:
        """The distinct norms: a set intersects a dictionary's first
        tokens by walking the smaller side."""
        if self._vocab is None:
            self._vocab = set(self.norms)
        return self._vocab

    def _ascii_spans(self) -> list[tuple[int, int]]:
        return list(map(_MATCH_SPAN, _CORE_TOKEN.finditer(self.text)))


# what the scans accept as precomputed tokens: a TokenView, a legacy
# ``tokens_with_offsets`` list, or None to tokenize the text
Tokens = TokenView | list[tuple[str, int, int]] | None


def token_view(text: str, toks: Tokens = None) -> TokenView:
    """``toks`` as a view: a TokenView passes through, a legacy
    ``tokens_with_offsets`` list is wrapped, ``None`` tokenizes ``text``."""
    if toks is None:
        return TokenView(text)
    if isinstance(toks, TokenView):
        return toks
    return TokenView.from_tuples(text, toks)


def tokens_with_offsets(text: str) -> list[tuple[str, int, int]]:
    """(normalized_token, start, end) per token of ``text`` (see
    TokenView, which this zips into tuples)."""
    view = TokenView(text)
    return [(t, s, e) for t, (s, e) in zip(view.norms, view.spans)]


class PhraseIndex:
    """Token-keyed phrase dictionary with longest-first lookup."""

    def __init__(self, entries: list[tuple[str, object]]):
        """entries: (phrase, payload); phrases normalize at build time.

        Layout (shared with store.ParquetGazetteerIndex, which measured ~30%
        faster than the round-1 nested tuple-keyed dicts): one flat dict
        keyed by the space-joined normalized phrase, plus a per-first-token
        max phrase length so the scan's inner loop is bounded by THAT
        token's longest dictionary phrase, not the global max."""
        self.index: dict[str, list] = {}
        self.first_max: dict[str, int] = {}
        self.max_len = 1
        for phrase, payload in entries:
            # same tokenization as tag time (CJK names -> char sequences)
            toks = tuple(t for t, _s, _e in tokens_with_offsets(phrase) if t)
            if not toks:
                continue
            self.max_len = max(self.max_len, len(toks))
            if len(toks) > self.first_max.get(toks[0], 0):
                self.first_max[toks[0]] = len(toks)
            self.index.setdefault(" ".join(toks), []).append(payload)

    # reference guardrail: DEFAULT_TAG_LIMIT per doc hard error beyond
    # (SolrMatcherSupport.java:46,186-195)
    TAG_LIMIT = 100_000

    def scan(self, text: str, toks: Tokens = None
             ) -> list[tuple[int, int, str, list]]:
        """All (start, end, matchtext, payloads) phrase hits, LDR-resolved.
        Pass precomputed ``toks`` to share tokenization across indices."""
        return scan_phrases(text, toks, self.first_max, self.index.get,
                            self.TAG_LIMIT)


def scan_phrases(text: str, toks: Tokens, first_max: dict[str, int],
                 lookup, tag_limit: int) -> list[tuple[int, int, str, list]]:
    """The phrase scan of PhraseIndex and store.ParquetGazetteerIndex.
    ``lookup(phrase)`` returns the payloads of a space-joined normalized
    phrase, or None.

    The first-token gate returns at once when no token of the turn starts
    a dictionary phrase.  Otherwise only positions holding a dictionary
    first token try their phrases, longest first (bounded by that token's
    longest phrase), and token offsets are read only once a phrase hits."""
    view = token_view(text, toks)
    firsts = first_max.keys() & view.vocab
    if not firsts:
        return []
    norms = view.norms
    n = len(norms)
    raw: list[tuple[int, int, str, list]] = []
    spans = None
    # positions holding a first token, found in one C-level pass
    for i in _compress(range(n), map(firsts.__contains__, norms)):
        for ln in range(min(first_max[norms[i]], n - i), 0, -1):
            payloads = lookup(" ".join(norms[i:i + ln]))
            if payloads:
                if spans is None:
                    spans = view.spans
                s, e = spans[i][0], spans[i + ln - 1][1]
                raw.append((s, e, text[s:e], payloads))
                if len(raw) > tag_limit:
                    raise TagLimitExceeded(
                        f"tag limit {tag_limit} exceeded in one document")
    return _longest_dominant_right(raw)


# Candidate cap per phrase (the hard analog of the reference's O6
# pare-down: >100 geos -> A/P only, GeocodeRule.java:249-270 /
# GazetteerMatcher.java:578-605).  Real gazetteers top out ~3k places per
# name ("San Antonio"); a pathological synthetic (or adversarial) name
# shared by 10^5 places would otherwise make SCORING iterate the whole
# list per match occurrence.  Kept candidates are the top by id_bias —
# the most plausible geographies, which is what the chooser would rank
# first anyway.
CANDIDATE_CAP = 500


def _cap_places(places: list) -> list:
    if len(places) <= CANDIDATE_CAP:
        return places
    # stable sort on bias only: ties keep source order, which is the SAME
    # underlying artifact order in the parquet and mmap paths — the three
    # index kinds cap to the same candidate set
    return sorted(places, key=lambda p: -p.id_bias)[:CANDIDATE_CAP]


def _longest_dominant_right(matches):
    """Solr tagger overlap policy: longer span dominates; equal length
    prefers the rightmost (GazetteerMatcher.java:156-161 semantics).

    Accepted spans are pairwise disjoint, so overlap testing is a bisect
    against their sorted starts (predecessor must end before m.start,
    successor must start at/after m.end) — O(n log n) where the naive
    all-pairs sweep is quadratic on tag-dense giant turns."""
    import bisect
    starts: list[int] = []      # sorted starts of accepted spans
    by_start: list[tuple[int, int, str, list]] = []
    for m in sorted(matches, key=lambda m: (-(m[1] - m[0]), -m[0])):
        i = bisect.bisect_right(starts, m[0])
        if (i > 0 and by_start[i - 1][1] > m[0]) or \
           (i < len(starts) and by_start[i][0] < m[1]):
            continue
        starts.insert(i, m[0])
        by_start.insert(i, m)
    return by_start


# --- gazetteer index (lazy process singleton — executor 'pump priming') -----

_GAZ_INDEX = None                     # PhraseIndex | ParquetGazetteerIndex
_GAZ_ROWS: list[tuple] | None = None
_GAZ_PATH: str | None = None


def set_gazetteer(rows: list[tuple]) -> None:
    """Swap in external gazetteer rows (broadcast value) before first tag."""
    global _GAZ_ROWS, _GAZ_INDEX, _GAZ_PATH
    _GAZ_ROWS = rows
    _GAZ_PATH = None
    _GAZ_INDEX = None


def set_gazetteer_parquet(path: str | None) -> None:
    """Scale path: point this worker process at a tagger parquet (built by
    ``sources.gazetteer_etl.build_tagger_parquet``).  The index builds
    lazily ONCE per process from the local/shared file — no driver collect,
    no broadcast of rows through the JVM.  Idempotent per path (called from
    every Arrow batch of ``pipeline.extract``)."""
    global _GAZ_PATH, _GAZ_ROWS, _GAZ_INDEX
    if path == _GAZ_PATH:
        return
    _GAZ_PATH = path
    _GAZ_ROWS = None
    _GAZ_INDEX = None


def gaz_index():
    global _GAZ_INDEX
    if _GAZ_INDEX is None:
        if _GAZ_PATH is not None:
            from .mmapstore import MmapGazetteerIndex, is_mmap_artifact
            if is_mmap_artifact(_GAZ_PATH):
                # shared-memory scale path: page-cache-shared per node
                _GAZ_INDEX = MmapGazetteerIndex(_GAZ_PATH)
            else:
                from .store import ParquetGazetteerIndex
                _GAZ_INDEX = ParquetGazetteerIndex(_GAZ_PATH)
        else:
            rows = _GAZ_ROWS if _GAZ_ROWS is not None else data.GAZETTEER_ROWS
            _GAZ_INDEX = PhraseIndex([(r[1], Place(*r)) for r in rows])
            # O6 candidate cap on the in-memory path (see CANDIDATE_CAP)
            for key, places in _GAZ_INDEX.index.items():
                if len(places) > CANDIDATE_CAP:
                    _GAZ_INDEX.index[key] = _cap_places(places)
    return _GAZ_INDEX


def tag_places(text: str, lowercase_doc: bool | None = None,
               toks: Tokens = None) -> list[PlaceCandidate]:
    """Scan + build candidates with tag-time filters F1-F10."""
    hits = gaz_index().scan(text, toks)
    if not hits:
        return []
    if lowercase_doc is None:
        lowercase_doc = is_lower(text)
    out: list[PlaceCandidate] = []
    for s, e, mtext, places in hits:
        cand = PlaceCandidate(s, e, mtext, list(places))
        _apply_tag_filters(cand, lowercase_doc)
        out.append(cand)
    return out


def _apply_tag_filters(cand: PlaceCandidate, lowercase_doc: bool) -> None:
    mtext = cand.text
    norm = cand.textnorm

    cand.is_abbreviation = any(p.name_type == "A" for p in cand.places)
    cand.is_acronym = is_upper(mtext) and len(mtext.replace(".", "")) <= 4
    if all(p.feat_code == "CONT" for p in cand.places):
        cand.is_continent = True   # F9: flagged, filtered, kept
        cand.filtered_out = True
        cand.filter_reason = "continent"
        return
    if any(p.is_country for p in cand.places):
        cand.is_country = True

    if len(mtext) < 2:                                    # F1
        cand.filtered_out = True
        cand.filter_reason = "len1"
        return
    # F2 language length filter (LanguageFilter.java:20-101): CJK < 2 chars
    # out; Middle-Eastern scripts < 6 chars out unless a major feature
    from ..functions.textnorm import has_cjk, has_middle_eastern
    if has_cjk(mtext) and len(mtext) < 2:
        cand.filtered_out = True
        cand.filter_reason = "lang-len"
        return
    if has_middle_eastern(mtext) and len(mtext) < 6:
        major = {"PCL", "PCLI", "PCLD", "ADM1", "PPLC"}
        if not any(p.feat_code in major for p in cand.places):
            cand.filtered_out = True
            cand.filter_reason = "lang-len"
            return
    if count_formatting_space(mtext) > 1:                 # F6
        cand.filtered_out = True
        cand.filter_reason = "format-ws"
        return
    if has_irregular_punctuation(mtext):                  # F3/F12
        cand.filtered_out = True
        cand.filter_reason = "punct"
        return
    # F7: stop terms are case-sensitive — 'or' stops, code 'OR' does not
    # (TagFilter case-sensitive mode, TagFilter.java:124-236)
    if norm in data.STOPWORDS and not is_upper(mtext):
        cand.filtered_out = True
        cand.filter_reason = "stopword"
        return
    if norm in data.NON_PLACES and not is_upper(mtext):   # F7 non-places
        cand.filtered_out = True
        cand.filter_reason = "non-place"
        return
    # F4: apostrophe-contraction heads ('s ...) never start a place
    if mtext[:2].lower() in ("'s",) or mtext.lower().endswith("'s"):
        cand.filtered_out = True
        cand.filter_reason = "contraction"
        return
    # F12 NonsenseFilter (trivial-article bigram): 'the hotel' style phrases
    # where the article is part of the match but the name isn't articled
    norm_words = norm.split()
    if (len(mtext) <= 20 and len(norm_words) == 2
            and norm_words[0] in ("the", "a", "an", "el", "la", "le")
            and not any(normalize_token(p.name).startswith(norm_words[0] + " ")
                        for p in cand.places)):
        cand.filtered_out = True
        cand.filter_reason = "nonsense-article"
        return
    if not lowercase_doc and is_lower(mtext) and len(mtext) <= 20:  # F5
        cand.filtered_out = True
        cand.filter_reason = "lower-in-mixed"
        return
    # F10 code/case gate: code entries demand UPPER matchtext ('In' != 'IN')
    if not is_upper(mtext.replace(".", "")):
        kept = [p for p in cand.places if p.name_type != "C"]
        if not kept:
            cand.filtered_out = True
            cand.filter_reason = "code-case"
            return
        cand.places = kept
    # pare huge candidate sets to A/P features (O6, GeocodeRule.java:249-270)
    if len(cand.places) > 100:
        cand.places = [p for p in cand.places if p.feat_class in ("A", "P")]


# --- taxcat-style lexicons (T4): person / org / nationality ------------------

_TAX_INDEX: PhraseIndex | None = None
_TAX_PATH: str | None = None


def set_taxcat_parquet(path: str | None) -> None:
    """Scale path for the reference's taxcat core (JRC entities, person
    names, WFB — solr/build.sh:24-57, TaxonMatcher.java:69-85): point this
    worker at a taxcat parquet built by
    ``sources.taxcat_etl.build_taxcat_parquet``.  The index builds lazily
    once per process from the file — no driver collect.  ``None`` resets
    to the embedded lexicons (reused python workers must not leak a
    previous job's table).  Idempotent per path."""
    global _TAX_PATH, _TAX_INDEX
    if path == _TAX_PATH:
        return
    _TAX_PATH = path
    _TAX_INDEX = None


def _tax_index_from_parquet(path: str) -> PhraseIndex:
    import json
    import os

    import pyarrow.parquet as pq

    meta_path = os.path.join(path, "_normalization.json")
    if not os.path.exists(meta_path):
        raise ValueError(f"taxcat parquet {path} has no _normalization.json "
                         f"sidecar — rebuild with build_taxcat_parquet")
    with open(meta_path) as fh:
        ver = json.load(fh).get("normalization_version")
    if ver != NORMALIZATION_VERSION:
        raise ValueError(f"taxcat parquet {path} normalized with version "
                         f"{ver}, engine expects {NORMALIZATION_VERSION}")
    tbl = pq.read_table(path, columns=["phrase", "kind",
                                       "canonical", "cc", "valid"])
    idx = PhraseIndex([])
    index, first_max = idx.index, idx.first_max
    # phrases are pre-normalized at ETL time (same contract as the tagger
    # parquet): index build is pure dict assembly, no re-tokenization
    for phrase, kind, canonical, cc, valid in zip(
            tbl.column("phrase").to_pylist(), tbl.column("kind").to_pylist(),
            tbl.column("canonical").to_pylist(), tbl.column("cc").to_pylist(),
            tbl.column("valid").to_pylist()):
        if not valid or not phrase:
            continue
        ntoks = phrase.count(" ") + 1
        idx.max_len = max(idx.max_len, ntoks)
        ft = phrase.split(" ", 1)[0]
        if ntoks > first_max.get(ft, 0):
            first_max[ft] = ntoks
        index.setdefault(phrase, []).append((kind, canonical, cc or None))
    return idx


def tax_index() -> PhraseIndex:
    global _TAX_INDEX
    if _TAX_INDEX is None:
        if _TAX_PATH is not None:
            from .mmapstore import MmapTaxcatIndex, is_tax_mmap
            if is_tax_mmap(_TAX_PATH):
                # shared-memory scale path (page cache shared per node)
                _TAX_INDEX = MmapTaxcatIndex(_TAX_PATH)
            else:
                _TAX_INDEX = _tax_index_from_parquet(_TAX_PATH)
            return _TAX_INDEX
        entries: list[tuple[str, object]] = []
        for n in data.PERSON_NAMES:
            entries.append((n, ("person", n, None)))
        for key, canonical in data.ORG_NAMES.items():
            entries.append((key, ("org", canonical, None)))
        for nat, cc in data.NATIONALITIES.items():
            entries.append((nat, ("nationality", nat, cc)))
        _TAX_INDEX = PhraseIndex(entries)
    return _TAX_INDEX


def tag_taxons(text: str, toks: Tokens = None
               ) -> list[tuple[int, int, str, str, str, str | None]]:
    """(start, end, matchtext, kind, canonical, cc) taxon hits."""
    out = []
    for s, e, mtext, payloads in tax_index().scan(text, toks):
        kind, canonical, cc = payloads[0]
        out.append((s, e, mtext, kind, canonical, cc))
    return out
