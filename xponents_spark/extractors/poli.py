"""PoLi patterns-of-life normalizers (SURVEY.md §2.3 R9).

The reference ships these as demonstration subclasses of PatternMatch with
mostly-stub normalize() methods (``doc/pydoc/opensextant/extractors/
poli.html``; Java classes in ``doc/core-apidocs/.../poli/``).  Here each
family gets a real lightweight normalizer: canonical string forms + simple
validation business logic, per the methodology in doc/Patterns.md.
"""

from __future__ import annotations

import re

from ..flexpat import PatternMatch, PatternManager, pattern_file, register_normalizer

_NON_DIGIT = re.compile(r"\D")


def normalize_phone(pm: PatternMatch) -> None:
    digits = _NON_DIGIT.sub("", pm.text)
    if not 10 <= len(digits) <= 13:
        pm.is_valid = False
        pm.filtered_out = True
        return
    slots = pm.slot_values()
    area = _NON_DIGIT.sub("", slots.get("AREA", "") or "")
    # NANP sanity: area code + exchange cannot start with 0/1
    exch = slots.get("EXCH") or ""
    cc = _NON_DIGIT.sub("", slots.get("CCODE") or "")
    if len(digits) == 10 or (cc == "1" and len(digits) == 11):
        if area[:1] in ("0", "1") or exch[:1] == "0":
            pm.is_valid = False
            pm.filtered_out = True
            return
    pm.textnorm = digits
    pm.attrs = {"phone": digits, "country_code": cc or None}


def normalize_email(pm: PatternMatch) -> None:
    pm.textnorm = pm.text.strip().lower()
    user, _, domain = pm.textnorm.partition("@")
    pm.attrs = {"email": pm.textnorm, "user": user, "domain": domain}


def normalize_url(pm: PatternMatch) -> None:
    pm.textnorm = pm.text.strip().rstrip(").,;")
    m = re.match(r"(?i)^([a-z]+)://([^/:?#\s]+)", pm.textnorm)
    if not m:
        pm.is_valid = False
        pm.filtered_out = True
        return
    pm.attrs = {"url": pm.textnorm, "protocol": m.group(1).lower(),
                "domain": m.group(2).lower()}


def normalize_ip(pm: PatternMatch) -> None:
    octets = [int(o) for o in pm.text.split(".")]
    if any(o > 255 for o in octets):
        pm.is_valid = False
        pm.filtered_out = True
        return
    pm.textnorm = pm.text
    pm.attrs = {"ip": pm.text,
                "private": (octets[0] == 10
                            or (octets[0] == 172 and 16 <= octets[1] <= 31)
                            or (octets[0] == 192 and octets[1] == 168))}


def normalize_mac(pm: PatternMatch) -> None:
    pm.textnorm = pm.text.upper()
    pm.attrs = {"mac": pm.textnorm}


_SYM_CUR = {"$": "USD", "€": "EUR", "£": "GBP", "¥": "JPY"}


def normalize_money(pm: PatternMatch) -> None:
    slots = pm.slot_values()
    amount = (slots.get("AMOUNT") or "").replace(",", "")
    if not amount:
        pm.is_valid = False
        pm.filtered_out = True
        return
    cur = slots.get("CURCODE")
    sym = slots.get("CURSYM")
    pm.textnorm = pm.text.strip().lower()
    pm.attrs = {"amount": float(amount),
                "currency": (cur or _SYM_CUR.get(sym or "", None) or "").upper() or None}


for _fam, _fn in (("PHONE", normalize_phone), ("EMAIL", normalize_email),
                  ("URL", normalize_url), ("IP", normalize_ip),
                  ("MAC", normalize_mac), ("MONEY", normalize_money)):
    register_normalizer(_fam, _fn)

_manager: PatternManager | None = None


def manager() -> PatternManager:
    global _manager
    if _manager is None:
        # No per-family prescreens.  PatternManager derives each rule's
        # gate from its compiled regex: PHONE, IP and MONEY consume a
        # digit, so they skip a digit-free turn, and PHONE and IP (finite
        # longest match) scan only the windows around the turn's digit
        # clusters; EMAIL runs only when the turn holds an "@", URL and
        # MAC only when it holds a ":" (see flexpat._scan_window).
        _manager = PatternManager(pattern_file("poli_patterns.cfg"))
    return _manager


def extract_poli(text: str, families=None, ctx=None):
    return manager().scan(text, families=families, ctx=ctx)
