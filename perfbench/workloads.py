"""Seeded input generators for the benchmark workloads.

Every workload's input is a pure function of ``(name, seed)``: the same
seed writes byte-identical rows, and ``digest`` of the generated table is
what the determinism test compares.  The engine only ever sees the parquet
files written here; nothing about the generator reaches it.

Turn text reuses the engine's payload classes (``sources.payloads``) so the
extraction output has known entities in known places.  Filler words come
from the small vocabulary the engine's test corpora use, which makes
document text dense in shared n-grams — the property the dedup operators'
hot keys depend on.
"""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from xponents_spark.sources.payloads import (HTML_CLASS, HTML_PREFIX,
                                             HTML_SUFFIX, PAYLOADS)

VOCAB = ("a the data spark table query join filter group agg sort order "
         "scan hash key value row column batch stream window merge part "
         "line vector customer fast slow small big").split()

# Workload parameters.  BENCHMARK.json names the workloads and says why
# each was chosen; the numbers that shape each input live here, next to
# the code that uses them.  ``warmup_jobs`` untimed jobs follow the cold
# one.  ``layer_rows`` sizes the traced run's in-process layer sample (also
# the reconciliation's input).
SPECS = {
    "extract_mix": {
        "turn_chars": (300, 450), "rows": 6000, "conv_len": (5, 40),
        "warmup_jobs": 2, "layer_rows": 600,
    },
    # long HTML turns: boilerplate (head, style, script, nav, sidebar,
    # footer) around 3-7 document paragraphs; one turn in
    # ``payload_every`` ends its last paragraph with an entity payload.
    # Conversation lengths follow a rank-size Zipf law, and the rows are
    # written in conv_id order.
    "extract_html_skew": {
        "html": True, "rows": 3200, "doc_chars": (1000, 3500),
        "payload_every": 10, "zipf": (400, 1.0),
        "warmup_jobs": 2, "layer_rows": 300,
    },
}

# The traced run's dedup/quality operator input: documents (lengths evenly
# spread over the sf0.1 range) replicated with a unique suffix per
# replica, plus planted twin pairs the operator check must recover.  The
# 30-word vocabulary makes nearly every winnowing fingerprint a hot key.
# It is not a timed workload; perfbench/BASELINE.md says why.
OPS_CORPUS = {"base_docs": 300, "replicas": 3, "planted_pairs": 25,
              "plant_offset": 2_000_000}

WORKLOADS = tuple(SPECS)


def _filler(rng: random.Random, n_chars: int) -> str:
    words, size = [], 0
    while size < n_chars:
        w = rng.choice(VOCAB)
        words.append(w)
        size += len(w) + 1
    return " ".join(words)


def _spread(lo: int, hi: int, n: int, rng: random.Random) -> list[int]:
    """``n`` values evenly spaced over [lo, hi], in seeded order.  The seed
    moves content and order, not the amount of work."""
    vals = [lo + (hi - lo) * i // max(1, n - 1) for i in range(n)]
    rng.shuffle(vals)
    return vals


def _mix_rows(spec: dict, rng: random.Random) -> dict:
    """Short turns; every payload class appears equally often, turn
    lengths and conversation lengths are evenly spread over their ranges,
    all in seeded order."""
    n = spec["rows"]
    klass = [k % len(PAYLOADS) for k in range(n)]
    rng.shuffle(klass)
    lengths = _spread(*spec["turn_chars"], n, rng)
    lo, hi = spec["conv_len"]
    conv_lens = list(range(lo, hi + 1)) * (n // lo + 1)
    rng.shuffle(conv_lens)
    conv, turn, text = [], [], []
    c = 0
    while len(text) < n:
        for t in range(min(conv_lens[c], n - len(text))):
            i = len(text)
            body = _filler(rng, lengths[i])
            if klass[i] == HTML_CLASS:
                s = HTML_PREFIX + body + HTML_SUFFIX
            else:
                s = body + " " + PAYLOADS[klass[i]][1]
            conv.append(f"c{c:05d}")
            turn.append(t)
            text.append(s)
        c += 1
    return {"conv_id": conv, "turn_idx": turn, "payload_k": klass,
            "text": text}


_JS = ("var function return window document event listener true false "
       "null this push length cfg track init load").split()
_NAV = ("Home News Sports Business World Opinion Weather About Contact "
        "Archive Login Subscribe").split()


def _zipf_lengths(n: int, top: int, s: float, rng: random.Random) -> list[int]:
    """Conversation lengths by rank-size law (rank r gets ``top / r**s``
    turns, at least 1) until they cover ``n`` turns, in seeded order.  The
    multiset is the same for every seed."""
    lens, r = [], 1
    while sum(lens) < n:
        lens.append(min(max(1, int(top / r ** s)), n - sum(lens)))
        r += 1
    rng.shuffle(lens)
    return lens


def _html_page(rng: random.Random, doc_chars: int, payload: str | None) -> str:
    links = "".join(f'<li><a href="/{w.lower()}">{w}</a></li>'
                    for w in rng.sample(_NAV, 8))
    head = ("<html><head><title>" + _filler(rng, 40) + "</title>"
            "<style>body{margin:0} .content p{line-height:1.4} "
            "nav li{display:inline}</style><script>"
            + " ".join(rng.choice(_JS) for _ in range(80))
            + "</script></head><body><nav><ul>" + links + "</ul></nav>"
            '<div class="content">')
    n_par = 2 + doc_chars // 700
    pars = [_filler(rng, doc_chars // n_par) for _ in range(n_par)]
    if payload is not None:
        pars[-1] += " " + payload
    body = "".join(f"<p>{p}</p>" for p in pars)
    foot = ('</div><div class="sidebar"><ul>' + links[:200] + "</ul></div>"
            "<footer>(c) 2024 example.org | " + _filler(rng, 60)
            + "</footer></body></html>")
    return head + body + foot


def _html_rows(spec: dict, rng: random.Random) -> dict:
    """Long HTML turns; exactly one turn in ``payload_every`` carries a
    payload (classes in turn, seeded order), document lengths evenly
    spread over ``doc_chars``, Zipf conversation lengths."""
    n = spec["rows"]
    classes = [k for k, (_name, text) in enumerate(PAYLOADS) if text]
    every = spec["payload_every"]
    klass = [classes[i // every % len(classes)] if i % every == 0 else -1
             for i in range(n)]
    rng.shuffle(klass)
    lengths = _spread(*spec["doc_chars"], n, rng)
    conv, turn, text = [], [], []
    for c, length in enumerate(_zipf_lengths(n, *spec["zipf"], rng)):
        for t in range(length):
            i = len(text)
            payload = PAYLOADS[klass[i]][1] if klass[i] >= 0 else None
            conv.append(f"c{c:05d}")
            turn.append(t)
            text.append(_html_page(rng, lengths[i], payload))
    return {"conv_id": conv, "turn_idx": turn, "payload_k": klass,
            "text": text}


def _doc_rows(spec: dict, rng: random.Random, seed: int) -> dict:
    """Documents (lengths evenly spread over the sf0.1 range, 44-577
    chars) replicated with a unique suffix token per replica, plus
    byte-identical planted twin pairs over per-pair unique md5-hex
    vocabulary (a planted doc can only pair with its twin)."""
    ids, text = [], []
    reps = spec["replicas"]
    for b, length in enumerate(_spread(44, 577, spec["base_docs"], rng)):
        base = _filler(rng, length)
        for r in range(reps):
            ids.append(b * reps + r)
            text.append(f"{base} rep{r}x{rng.getrandbits(32):08x}")
    off = spec["plant_offset"]
    for i in range(spec["planted_pairs"]):
        t = " ".join(hashlib.md5(f"plant{seed}:{i}:{j}".encode())
                     .hexdigest()[:12] for j in range(40))
        ids += [off + 2 * i, off + 2 * i + 1]
        text += [t, t]
    return {"doc_id": ids, "text": text}


def rows_for(name: str, seed: int) -> dict:
    """The workload's rows as columns (python lists), from the seed only."""
    spec = SPECS[name]
    rng = random.Random(f"{name}:{seed}")
    if spec.get("html"):
        return _html_rows(spec, rng)
    return _mix_rows(spec, rng)


def ops_corpus(seed: int) -> dict:
    """The operator corpus's documents, from the seed only."""
    return _doc_rows(OPS_CORPUS, random.Random(f"ops_corpus:{seed}"), seed)


def to_table(cols: dict) -> pa.Table:
    arrays = {}
    for k, v in cols.items():
        if k == "turn_idx":
            arrays[k] = pa.array(v, pa.int32())
        elif k == "doc_id":
            arrays[k] = pa.array(v, pa.int64())
        elif k == "payload_k":
            continue          # generator bookkeeping, not engine input
        else:
            arrays[k] = pa.array(v, pa.string())
    return pa.table(arrays)


def digest(table: pa.Table) -> str:
    h = hashlib.sha256()
    for name in table.column_names:
        h.update(name.encode())
        for v in table.column(name).to_pylist():
            h.update(repr(v).encode())
    return h.hexdigest()


def write_table(table: pa.Table, out_dir: str, files: int = 8) -> str:
    """Write ``table`` in row order as ``files`` parquet files, so the scan
    splits into several tasks."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(out_dir, f"part-{i:03d}.parquet"))
    return out_dir


def write_input(name: str, seed: int, out_dir: str) -> dict:
    """Generate the workload input and write it as parquet.  Returns the
    rows (for the output checks) and metadata."""
    cols = rows_for(name, seed)
    table = to_table(cols)
    write_table(table, out_dir)
    return {"path": out_dir, "rows": table.num_rows, "cols": cols,
            "table": table}
