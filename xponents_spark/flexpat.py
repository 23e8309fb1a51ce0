"""FlexPat: config-driven regex extraction (SURVEY.md §2.3 R1-R3).

A fresh implementation of the FlexPat methodology published in
``/root/reference/doc/Patterns.md`` — pattern files carry ``#DEFINE``,
``#RULE``, ``#TEST`` and ``#CLASS`` clauses; rules reference defines as
``<SLOT>`` placeholders which compile into ordered regex groups.

Behavioral contract (validated by tests/test_flexpat.py):

* ``#DEFINE <name> <pattern>``  — a named sub-pattern.  Defines must not
  contain capturing groups (use ``(?:...)``) so slot numbering is stable.
* ``#RULE <family> <id> <pattern>`` — rule key is ``family-id``; every
  ``<NAME>`` occurrence becomes ``(<define>)`` and contributes one entry to
  the ordered group-name list.
* ``#TEST <family> <id> <text>`` — embedded test case; ``$NL`` expands to a
  newline; a ``FAIL`` token in the text marks a true-negative expectation.
* ``#CLASS <family> <classname>`` — family-specific normalizer.  Here a
  normalizer is a plain function ``normalize(match) -> None`` registered via
  :func:`register_normalizer`, not a class hierarchy.
* Rules compile case-insensitive; scanning is ``finditer`` per rule,
  gated by an anchor derived from the rule's own regex (digits, windowed
  around the text's digit clusters, or a punctuation char);
  matched groups digest into ``(name, value, start, end)`` slot tuples.
* Post-scan, duplicate and sub-span matches are marked ``filtered_out``
  (same semantics as the reference's ``reduce_matches``:
  ``doc/pydoc/opensextant.html`` embedded source L1035-1082).

This module is dependency-free and picklable so compiled managers can be
broadcast to Spark executors.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from re import _constants as _sc, _parser as _sp   # sre parse tree
from typing import Callable

_SLOT_RE = re.compile(r"<([A-Za-z0-9_]+)>")

# family -> normalize(PatternMatch) -> None ; populated by extractor modules.
_NORMALIZERS: dict[str, Callable[["PatternMatch"], None]] = {}


def register_normalizer(family: str, fn: Callable[["PatternMatch"], None]) -> None:
    """Register the #CLASS-equivalent normalizer for a pattern family."""
    _NORMALIZERS[family] = fn


def pattern_file(name: str) -> str:
    """Resolve a pattern cfg shipped in xponents_spark/patterns/."""
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, "patterns", name)
    if not os.path.exists(path):
        raise FileNotFoundError(path)
    return path


@dataclass
class PatternMatch:
    """One regex match with digested slots and normalization products.

    Mirrors the reference's PatternMatch/TextMatch fields
    (``doc/pydoc/opensextant/FlexPat.html`` embedded source L63-159):
    span, pattern_id, family label, slot tuples, validity/filter flags and a
    free-form ``attrs`` dict produced by normalization.
    """

    text: str
    start: int
    end: int
    pattern_id: str
    family: str
    slots: list[tuple[str, str | None, int, int]] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)
    textnorm: str | None = None
    is_valid: bool = True
    filtered_out: bool = False
    is_duplicate: bool = False
    is_submatch: bool = False
    is_overlap: bool = False
    pre_text: str = ""
    post_text: str = ""

    @property
    def variant_id(self) -> str | None:
        if "-" in self.pattern_id:
            return self.pattern_id.split("-", 1)[1]
        return None

    def slot_values(self) -> dict:
        """First-wins map of slot name -> matched value (skips empty)."""
        out: dict = {}
        for name, val, _s, _e in self.slots:
            if val is not None and name not in out:
                out[name] = val
        return out

    def get_value(self, name: str):
        for key, val, _s, _e in self.slots:
            if key == name:
                return val
        return None


@dataclass
class Rule:
    family: str
    rule_id: str          # "<family>-<variant>"
    raw: str              # rule pattern before slot substitution
    regex: re.Pattern
    group_names: list[str]
    # gate and scan window, derived from the compiled regex by
    # _scan_window(): anchor = DIGITS when every match consumes a \d
    # char, else the first punctuation char every match consumes, else
    # None (full scan); width = the longest match; reach = how far past
    # its start a match attempt reads (width + lookahead + 2).
    # width/reach are None when unbounded; only DIGITS rules use them.
    anchor: str | None = None
    width: int | None = None
    reach: int | None = None


@dataclass
class TestCase:
    test_id: str
    family: str
    rule_id: str
    text: str

    @property
    def expect_match(self) -> bool:
        return "FAIL" not in self.text


# Rule.anchor of a rule whose every match consumes a \d char
DIGITS = r"\d"

_DIGIT_RE = re.compile(r"\d")
_DIGIT_RUN_RE = re.compile(r"\d+")
_PUNCT_RE = re.compile(r"[^\w\s]")


def _children(op, av) -> list:
    """Sub-sequences of one parsed sre item."""
    if op is _sc.BRANCH:
        return av[1]
    if op in _sp._REPEATCODES:
        return [av[2]]
    if op is _sc.SUBPATTERN:
        return [av[-1]]
    if op is _sc.ATOMIC_GROUP:
        return [av]
    if op is _sc.ASSERT or op is _sc.ASSERT_NOT:
        return [av[1]]
    if op is _sc.GROUPREF_EXISTS:
        return [x for x in av[1:] if x is not None]
    return []


def _all_digits(items) -> bool:
    """True when a char class (``IN`` items) matches only \\d chars."""
    for op, av in items:
        if op is _sc.LITERAL:
            if not _DIGIT_RE.match(chr(av)):
                return False
        elif op is _sc.RANGE:
            lo, hi = av
            # digit ranges are at most 0-9 wide; a wider range counts as
            # non-digit (a full scan: safe, never wrong)
            if hi - lo > 9 or not all(_DIGIT_RE.match(chr(c))
                                      for c in range(lo, hi + 1)):
                return False
        elif not (op is _sc.CATEGORY and av is _sc.CATEGORY_DIGIT):
            return False
    return True


def _is_digit(op, av) -> bool:
    """True when one char item matches only \\d chars."""
    if op is _sc.LITERAL:
        return _DIGIT_RE.match(chr(av)) is not None
    return op is _sc.IN and _all_digits(av)


def _needs(seq, item_test) -> bool:
    """True when every match of the parsed sequence ``seq`` consumes a
    char item passing ``item_test(op, av)``: some mandatory item passes,
    or is a repeat with min >= 1 of such a body, a group of one, or a
    branch whose every alternative is one.  Lookarounds consume nothing.
    The items are visited in match order, and a branch only up to its
    first alternative that fails."""
    for op, av in seq:
        if op in _sp._REPEATCODES:
            hit = av[0] >= 1 and _needs(av[2], item_test)
        elif op is _sc.SUBPATTERN or op is _sc.ATOMIC_GROUP:
            hit = _needs(_children(op, av)[0], item_test)
        elif op is _sc.BRANCH:
            hit = all(_needs(alt, item_test) for alt in av[1])
        else:
            hit = item_test(op, av)
        if hit:
            return True
    return False


def _punct_anchor(seq) -> str | None:
    """The first ASCII punctuation (``[^\\w\\s]``) char that every match
    of ``seq`` consumes, or None.  Such a char has no case, so even an
    IGNORECASE literal of it matches only itself."""
    seen: list[int] = []

    def visit(op, av) -> bool:
        # a char every match consumes is visited: record, never a hit
        if op is _sc.LITERAL and av < 128 and _PUNCT_RE.match(chr(av)):
            seen.append(av)
        return False

    _needs(seq, visit)
    for code in dict.fromkeys(seen):
        if _needs(seq, lambda op, av: op is _sc.LITERAL and av == code):
            return chr(code)
    return None


def _lookahead(seq) -> int:
    """Upper bound on the chars lookaheads read past the consumed text:
    the summed longest widths of every lookahead body."""
    total = 0
    for op, av in seq:
        if (op is _sc.ASSERT or op is _sc.ASSERT_NOT) and av[0] == 1:
            total += av[1].getwidth()[1]
        total += sum(_lookahead(sub) for sub in _children(op, av))
    return total


def _scan_window(regex: re.Pattern) -> tuple[str | None, int | None,
                                              int | None]:
    """(anchor, width, reach) of a compiled rule.

    ``anchor`` is a necessary condition for any match: DIGITS when every
    match consumes a \\d char, else a punctuation char every match
    consumes (the text must hold it), else None (always scan).

    A DIGITS match is at most ``width`` long, so it starts in
    ``[d - width + 1, d]`` for some digit offset ``d``; an attempt starting
    at ``s`` reads no char at or past ``s + reach``.  So scanning with
    ``pos = first - width`` and ``endpos = last + reach`` around a run of
    digits finds exactly the matches that start at or before ``last``.
    ``(None, None, None)`` = full scan."""
    try:
        parsed = _sp.parse(regex.pattern, regex.flags)
        width = parsed.getwidth()[1]
        reach = width + _lookahead(parsed) + 2
        anchor = DIGITS if _needs(parsed, _is_digit) else _punct_anchor(parsed)
    except (re.error, AttributeError, LookupError, TypeError, ValueError):
        return None, None, None    # private parser API moved: full scan
    if reach >= _sp.MAXWIDTH:
        return anchor, None, None
    return anchor, width, reach


def _rule_spans(rule: Rule, text: str,
                clusters: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """The ``(pos, endpos)`` spans to scan ``rule`` over, given the text's
    digit clusters: none when the text lacks the rule's anchor, one
    window per cluster for a windowed DIGITS rule, else the whole text."""
    anchor = rule.anchor
    if anchor == DIGITS:
        if not clusters:
            return []
        if rule.width is not None:
            return [(first - rule.width, last + rule.reach)
                    for first, last in clusters]
    elif anchor is not None and anchor not in text:
        return []
    return [(0, len(text))]


class ScanCtx:
    """Per-text context shared by the pattern managers scanning one turn:
    memoizes the text's digit runs, so the digit search runs once per
    text, not once per manager."""

    __slots__ = ("text", "_runs", "_clusters")

    def __init__(self, text: str):
        self.text = text
        self._runs: list[tuple[int, int]] | None = None
        self._clusters: dict[int, list[tuple[int, int]]] = {}

    def digit_clusters(self, gap: int) -> list[tuple[int, int]]:
        """``(first, last)`` offsets of the text's digits, grouped so that
        consecutive digits less than ``gap`` apart share a group."""
        out = self._clusters.get(gap)
        if out is None:
            if self._runs is None:
                # one \d search settles a digit-free text faster than \d+
                m = _DIGIT_RE.search(self.text)
                self._runs = [r.span() for r in _DIGIT_RUN_RE.finditer(
                    self.text, m.start())] if m else []
            out = []
            for s, e in self._runs:
                if out and s - out[-1][1] < gap:
                    out[-1] = (out[-1][0], e - 1)
                else:
                    out.append((s, e - 1))
            self._clusters[gap] = out
        return out


class PatternManager:
    """Parse + compile a FlexPat cfg file.

    Equivalent to the reference's RegexPatternManager
    (``doc/pydoc/opensextant/FlexPat.html`` source L198-385).
    """

    def __init__(self, cfg_path: str):
        self.cfg_path = cfg_path if os.path.exists(cfg_path) else pattern_file(cfg_path)
        self.defines: dict[str, str] = {}
        self.rules: dict[str, Rule] = {}
        self.families: set[str] = set()
        self.test_cases: list[TestCase] = []
        self.normalizer_family: dict[str, str] = {}
        self._parse()

    def _parse(self) -> None:
        raw_rules: list[tuple[str, str, str]] = []
        testcount = 0
        with open(self.cfg_path, encoding="utf-8") as fh:
            for line in fh:
                stmt = line.strip()
                if stmt.startswith("#DEFINE"):
                    _, name, pat = re.split(r"[\t ]+", stmt, maxsplit=2)
                    self.defines[name] = pat
                elif stmt.startswith("#RULE"):
                    _, fam, rid, pat = re.split(r"[\t ]+", stmt, maxsplit=3)
                    key = f"{fam}-{rid}"
                    if any(k == key for _f, k, _p in raw_rules):
                        raise ValueError(f"duplicate rule {key}")
                    raw_rules.append((fam, key, pat))
                elif stmt.startswith("#TEST"):
                    _, fam, rid, text = re.split(r"[\t ]+", stmt, maxsplit=3)
                    testcount += 1
                    self.test_cases.append(
                        TestCase(f"{fam}-{rid}#{testcount}", fam, f"{fam}-{rid}",
                                 text.strip().replace("$NL", "\n")))
                elif stmt.startswith("#CLASS"):
                    _, fam, clsname = re.split(r"[\t ]+", stmt, maxsplit=2)
                    self.normalizer_family[fam] = clsname

        for fam, key, raw in raw_rules:
            self.families.add(fam)
            group_names = _SLOT_RE.findall(raw)
            compiled = raw
            for slot in set(group_names):
                if slot not in self.defines:
                    raise ValueError(f"rule {key}: <{slot}> has no #DEFINE")
                compiled = compiled.replace(f"<{slot}>", f"({self.defines[slot]})")
            regex = re.compile(compiled, re.IGNORECASE)
            anchor, width, reach = _scan_window(regex)
            self.rules[key] = Rule(fam, key, raw, regex, group_names,
                                   anchor=anchor, width=width, reach=reach)
        self.rules_by_family: dict[str, list[Rule]] = {}
        for rule in self.rules.values():
            self.rules_by_family.setdefault(rule.family, []).append(rule)
        # digits closer than this share one scan window: below it, the
        # widest rule's windows around them would overlap.  Being at least
        # every rule's reach, it also keeps each window short of the next
        # cluster's digits, so no match in a window starts past its last.
        self.cluster_gap = max((r.width + r.reach for r in self.rules.values()
                                if r.anchor == DIGITS and r.width is not None),
                               default=0)

    # -- scanning -----------------------------------------------------------

    def scan(self, text: str, families=None, context_len: int = 20,
             ctx: "ScanCtx | None" = None) -> list[PatternMatch]:
        """Apply every rule of ``families`` to ``text``; normalize + reduce.

        Same pipeline as the reference PatternExtractor.extract_patterns
        (``FlexPat.html`` source L462-513): finditer per rule, digest groups,
        family normalize, then duplicate/submatch reduction.
        """
        fams = set(families) if families else self.families
        unknown = fams - self.families
        if unknown:
            raise ValueError(f"unknown pattern families: {sorted(unknown)}")
        # a caller-shared ScanCtx memoizes the digit search across the
        # three pattern managers scanning the same turn
        if ctx is None:
            ctx = ScanCtx(text)
        tlen = len(text)
        clusters = ctx.digit_clusters(self.cluster_gap)
        found: list[PatternMatch] = []
        for fam in self.rules_by_family:
            if fam not in fams:
                continue
            for rule in self.rules_by_family[fam]:
                spans = _rule_spans(rule, text, clusters)
                if spans:
                    self._scan_rule(rule, text, tlen, found, context_len,
                                    spans)
        reduce_matches(found)
        for pm in found:
            if pm.is_duplicate or pm.is_submatch:
                pm.filtered_out = True
        return found

    def _scan_rule(self, rule: Rule, text: str, tlen: int,
                   found: list[PatternMatch], context_len: int,
                   spans: list[tuple[int, int]]) -> None:
        """finditer ``rule`` over each ``(pos, endpos)`` span.

        ``pos`` (not a slice) lets lookbehind and ``\\b`` see the chars before
        it.  A window's ``endpos`` lies past every char read by an attempt
        starting at or before the cluster's last digit (Rule.reach), so
        those attempts behave as on the whole text; clusters lie
        ``cluster_gap`` apart, so no later start can find a digit."""
        done = 0
        for pos, endpos in spans:
            for m in rule.regex.finditer(text, max(done, pos), endpos):
                done = m.end()
                regs = m.regs   # one C-level tuple instead of 3 calls per group
                slots = [
                    (name, text[s:e] if s != -1 else None, s, e)
                    for name, (s, e) in zip(rule.group_names, regs[1:])
                ]
                pm = PatternMatch(m.group(), m.start(), m.end(), rule.rule_id,
                                  rule.family, slots)
                pm.pre_text = text[max(0, pm.start - context_len):pm.start]
                pm.post_text = text[pm.end:min(tlen, pm.end + context_len)]
                norm = _NORMALIZERS.get(rule.family)
                if norm is not None:
                    norm(pm)
                else:
                    pm.textnorm = pm.text.strip()
                found.append(pm)

    # -- embedded test harness ---------------------------------------------

    def run_default_tests(self, scope: str = "rule") -> list[dict]:
        """Run every #TEST case; replicates default_tests() semantics
        (``FlexPat.html`` source L515-570): a FAIL test passes when no
        unfiltered match from the rule under test survives."""
        results = []
        for case in self.test_cases:
            matches = self.scan(case.text, families=[case.family])
            if scope == "rule":
                matches = [m for m in matches if case.rule_id == m.pattern_id]
            hits = [m for m in matches
                    if not m.filtered_out or (m.is_duplicate and m.filtered_out)]
            ok = bool(hits) if case.expect_match else not hits
            results.append({"test": case.test_id, "text": case.text,
                            "matches": matches, "pass": ok,
                            "expected_match": case.expect_match})
        return results


def reduce_matches(matches: list[PatternMatch]) -> None:
    """Mark duplicate / submatch / overlap pairs.

    Same flag outcome as the reference sweep
    (``doc/pydoc/opensextant.html`` source L1035-1082): exact-span pairs mark
    the later one duplicate; contained spans mark the inner one submatch;
    intersecting spans mark both overlap.  Implemented as a sweep over spans
    sorted by (start, -end) comparing each match only against still-active
    predecessors — linear-ish for the common sparse case instead of O(n²).
    Spans are half-open [start, end) as produced by ``re``.
    """
    n = len(matches)
    if n < 2:
        return
    order = sorted(range(n), key=lambda i: (matches[i].start, -matches[i].end, i))
    active: list[int] = []
    for oi in order:
        m = matches[oi]
        if m.filtered_out:
            continue
        kept = []
        for pi in active:
            p = matches[pi]
            if p.end < m.start:   # strictly disjoint (reference: m2 < n1)
                continue
            kept.append(pi)
            if p.filtered_out:    # reference skips filtered counterparts too
                continue
            if p.start == m.start and p.end == m.end:
                (m if oi > pi else p).is_duplicate = True
            elif p.start <= m.start and m.end <= p.end:
                m.is_submatch = True
            elif m.start <= p.start and p.end <= m.end:
                p.is_submatch = True
            else:
                p.is_overlap = True
                m.is_overlap = True
        kept.append(oi)
        active = kept
