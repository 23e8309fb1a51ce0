#!/usr/bin/env python
"""Regenerate the _FROZEN fixture block in xponents_spark/sources/payloads.py
from current extractor output.  Run only when extractor semantics change
intentionally; review the diff — these pins are the reference-derived
fixture contract.

Usage: python tools/gen_payload_fixtures.py"""

import io
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

END = "EXPECTED.update(_FROZEN)\n"


def main():
    from xponents_spark.sources import payloads

    path = payloads.__file__
    src = open(path).read()
    suffix = ""
    if "\n\n_FROZEN" in src:
        tail = src[src.index("\n\n_FROZEN"):]
        # preserve everything after the frozen block (pass-2 fixtures etc.)
        suffix = tail[tail.index(END) + len(END):]
        src = src[:src.index("\n\n_FROZEN")]

    exp = payloads.compute_expected()
    buf = io.StringIO()
    buf.write("\n\n_FROZEN: dict[int, list[dict]] = {\n")
    for idx, rows in exp.items():
        buf.write(f"    {idx}: [  # {payloads.PAYLOADS[idx][0]}\n")
        for r in rows:
            buf.write(f"        {r!r},\n")
        buf.write("    ],\n")
    buf.write("}\n" + END)

    open(path, "w").write(src + buf.getvalue() + suffix)
    print(f"wrote {sum(len(v) for v in exp.values())} fixture rows to {path}")


if __name__ == "__main__":
    main()
