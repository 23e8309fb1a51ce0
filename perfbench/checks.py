"""Output checks.  Each returns ``(checked, failed, detail)``: how many rows
or items were checked and how many of them were wrong."""

from __future__ import annotations

import collections
import glob
import os
import random

import pyarrow.parquet as pq

from xponents_spark.pipeline import DEFAULT_FEATURES, extract_turn


def _norm_match(m: dict) -> dict:
    out = dict(m)
    if isinstance(out.get("slots"), list):           # arrow map -> pairs
        out["slots"] = dict(out["slots"])
    return out


def _norm(matches) -> list[dict]:
    return [_norm_match(m) for m in (matches or [])]


def read_output(path: str) -> dict:
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    tables = [pq.read_table(f) for f in files]
    cols: dict[str, list] = collections.defaultdict(list)
    for t in tables:
        for name in t.column_names:
            cols[name].extend(t.column(name).to_pylist())
    return cols


def check_extraction(out_path: str, inp: dict, seed: int,
                     sample: int = 48) -> tuple[int, int, str]:
    """Every input (conv_id, turn_idx) appears exactly once, and a seeded
    sample of rows equals in-process ``pipeline.extract_turn``."""
    out = read_output(out_path)
    keys = list(zip(out["conv_id"], out["turn_idx"]))
    seen = collections.Counter(keys)
    want = list(zip(inp["conv_id"], inp["turn_idx"]))
    bad_keys = {k for k in want if seen.get(k) != 1}
    extra = set(seen) - set(want)
    failed = len(bad_keys) + sum(seen[k] for k in extra)
    pos = {k: i for i, k in enumerate(keys)}
    rng = random.Random(f"check:{seed}")
    picks = rng.sample(range(len(want)), min(sample, len(want)))
    wrong = 0
    for i in picks:
        k = want[i]
        if k in bad_keys:
            continue
        j = pos[k]
        main, rows = extract_turn(inp["text"][i], DEFAULT_FEATURES)
        if out["main_text"][j] != main or _norm(out["matches"][j]) != _norm(rows):
            wrong += 1
    failed += wrong
    return (len(want), failed,
            f"{len(bad_keys)} bad keys, {len(extra)} extra, "
            f"{wrong}/{len(picks)} sampled rows differ")


def expected_redo(pass1: dict, min_confidence: int = 60,
                  vote_confidence: int = 65) -> dict:
    """The pass-2 slice and its preferred country, worked out from the
    pass-1 rows alone: ``{(conv_id, turn_idx): cc}`` for every turn with a
    place match below ``min_confidence`` in a conversation that has a
    vote.  Votes are confident place/country matches and coordinates with
    a country; a conversation's country is the one with the most votes,
    ties to the larger code."""
    votes: dict[str, collections.Counter] = collections.defaultdict(
        collections.Counter)
    for (conv, _t), ms in pass1.items():
        for m in ms or []:
            if m["cc"] and (m["label"] == "coord" or (
                    m["label"] in ("place", "country")
                    and m["confidence"] >= vote_confidence)):
                votes[conv][m["cc"]] += 1
    pref = {c: max(n.items(), key=lambda kv: (kv[1], kv[0]))[0]
            for c, n in votes.items()}
    return {k: pref[k[0]] for k, ms in pass1.items()
            if k[0] in pref and any(m["label"] == "place"
                                    and m["confidence"] < min_confidence
                                    for m in ms or [])}


def _pass2_geo(main: str, rows: list[dict], tail: str) -> list[dict]:
    """Place/country matches inside the trailing payload ``tail``, with
    offsets relative to its start (the ``EXPECTED_PASS2`` form)."""
    base = len(main) - len(tail)
    return [{"rel_start": r["span_start"] - base,
             "rel_end": r["span_end"] - base, "matchtext": r["matchtext"],
             "label": r["label"], "cc": r["cc"],
             "confidence": r["confidence"]}
            for r in rows if r["label"] in ("place", "country")
            and r["span_start"] >= base]


def check_convscope(out_path: str, ckpt_dir: str, inp: dict, seed: int,
                    sample: int = 48) -> tuple[int, int, str, dict]:
    """Conversation-scoped output against its own pass-1 checkpoint.

    Keys appear exactly once.  Every turn of the pass-2 slice (worked out
    from the checkpoint by ``expected_redo``) equals ``extract_turn`` with
    its conversation's country preferred, and a redone ``place_bare`` turn
    also equals the pinned ``payloads.EXPECTED_PASS2`` outcome for that
    country.  Every other turn equals its pass-1 row, and a seeded sample
    of those equals plain ``extract_turn``.  The last element counts the
    slice and the output rows that differ from pass 1."""
    from xponents_spark.sources.payloads import EXPECTED_PASS2, PAYLOADS

    out = read_output(out_path)
    keys = list(zip(out["conv_id"], out["turn_idx"]))
    seen = collections.Counter(keys)
    want = list(zip(inp["conv_id"], inp["turn_idx"]))
    bad_keys = {k for k in want if seen.get(k) != 1}
    failed = len(bad_keys) + len(set(seen) - set(want))
    pos = {k: i for i, k in enumerate(keys)}
    ck = read_output(os.path.join(ckpt_dir, "bucket=*"))
    pass1 = {k: _norm(ms) for k, ms in
             zip(zip(ck["conv_id"], ck["turn_idx"]), ck["matches"])}
    redo = expected_redo(pass1)
    tail = PAYLOADS[14][1]
    changed = wrong_redo = wrong_kept = 0
    rest = []
    for i, k in enumerate(want):
        if k in bad_keys:
            continue
        got = _norm(out["matches"][pos[k]])
        changed += got != pass1.get(k)
        if k not in redo:
            wrong_kept += got != pass1.get(k)
            rest.append(i)
            continue
        cc, text = redo[k], inp["text"][i]
        main, rows = extract_turn(text, DEFAULT_FEATURES,
                                  prefer_countries=(cc,))
        ok = got == _norm(rows)
        if ok and main.endswith(tail):
            ok = _pass2_geo(main, got, tail) == EXPECTED_PASS2.get((14, cc))
        wrong_redo += not ok
    rng = random.Random(f"convscope:{seed}")
    picks = rng.sample(rest, min(sample, len(rest)))
    wrong_p1 = sum(_norm(out["matches"][pos[want[i]]])
                   != _norm(extract_turn(inp["text"][i], DEFAULT_FEATURES)[1])
                   for i in picks)
    failed += wrong_redo + wrong_kept + wrong_p1
    return (len(want), failed,
            f"{len(bad_keys)} bad keys; pass-2 slice {len(redo)} rows, "
            f"{wrong_redo} wrong, {changed} changed from pass 1; "
            f"{wrong_kept} kept rows differ from pass 1; "
            f"{wrong_p1}/{len(picks)} sampled pass-1 rows differ",
            {"redo": len(redo), "changed": changed})


def check_dedup(out: dict, in_path: str, cols: dict, plant_offset: int,
                planted_pairs: int) -> tuple[int, int, str]:
    """``out`` holds each operator's collected rows.  Planted twins are
    recovered exactly by exact, MinHash, winnowing and duplicated-span
    detection; the ``exact_dedup`` group count equals DuckDB's
    distinct-md5 count over the same parquet; the Gopher gate returns one
    verdict per document."""
    import duckdb

    planted = {(plant_offset + 2 * i, plant_offset + 2 * i + 1)
               for i in range(planted_pairs)}
    failed, notes = 0, []

    n_duck = duckdb.sql(
        "SELECT count(DISTINCT md5(text)) FROM read_parquet("
        f"'{os.path.join(in_path, '*.parquet')}')").fetchone()[0]
    failed += abs(len(out["exact"]) - n_duck)
    twins = {r.keep_doc for r in out["exact"] if r.n_docs > 1}
    failed += len(twins ^ {a for a, _b in planted})
    notes.append(f"exact {len(out['exact'])} groups vs duckdb {n_duck}")

    for name in ("minhash", "winnow"):
        got = {(r.doc_a, r.doc_b) for r in out[name]
               if r.doc_a >= plant_offset}
        failed += len(got ^ planted)
        notes.append(f"{name} {len(got & planted)}/{len(planted)} planted")

    full = {r.doc_id for r in out["spans"] if r.doc_id >= plant_offset
            and r.span_start == 0 and r.span_end == 40}
    failed += 2 * len(planted) - len(full)
    notes.append(f"spans cover {len(full)} planted docs")

    failed += abs(len(out["gopher"]) - len(cols["doc_id"]))
    return len(cols["doc_id"]), failed, "; ".join(notes)
