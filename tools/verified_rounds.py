"""Regenerate VERIFIED.md — the per-query driver-verification ledger
(VERDICT r05 #7: staleness must be self-auditing).

For every `__spark_entry__.queries()` entry: the last round with a green
driver row in CORRECTNESS_r{N}.json, whether the row was ever red at its
latest check, and whether the query sits inside the CURRENT first-50
window (i.e. will be re-verified next round). Run after any window
rotation or round archive:

    python tools/verified_rounds.py
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def main() -> None:
    argparse.ArgumentParser(description=__doc__.split("\n")[0]).parse_args()
    import __spark_entry__ as entrymod

    names = list(entrymod.queries())
    last: dict[str, tuple[int, bool]] = {}
    rounds = sorted(
        glob.glob(os.path.join(HERE, "CORRECTNESS_r*.json")),
        key=lambda f: int(re.search(r"r(\d+)", os.path.basename(f)).group(1)),
    )
    for path in rounds:
        n = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        with open(path) as fh:
            for q, v in json.load(fh).items():
                ok = bool(
                    v.get("rows_match")
                    and v.get("schema_match")
                    and v.get("hash_match") in (True, None)
                    and not v.get("err")
                )
                last[q] = (n, ok)

    lines = [
        "# VERIFIED — per-query driver-verification ledger",
        "",
        "Generated by `python tools/verified_rounds.py` from the archived"
        " `CORRECTNESS_r{N}.json` driver gates. `window` = the query sits"
        " in the current first-50 `queries()` window and will be"
        " re-verified by the next driver run. A query whose implementation"
        " changes after its `last round` must be rotated into the window"
        " (the round-over-round rotation rule in `queries()`).",
        "",
        "| # | query | last round | latest check | window |",
        "|---|---|---|---|---|",
    ]
    for i, q in enumerate(names):
        n, ok = last.get(q, (None, None))
        lines.append(
            f"| {i + 1} | {q} "
            f"| {'r%02d' % n if n else 'never'} "
            f"| {'green' if ok else 'RED' if ok is False else '—'} "
            f"| {'yes' if i < 50 else ''} |"
        )
    missing = [q for q in names if q not in last]
    stale = sorted({q: n for q, (n, _) in last.items() if q in names}.items(),
                   key=lambda kv: kv[1])
    oldest = stale[0][1] if stale else None
    lines += [
        "",
        f"Never driver-verified: {missing or 'none'}. Oldest evidence:"
        f" r{oldest:02d} ({[q for q, n in stale if n == oldest]}).",
        "",
    ]
    with open(os.path.join(HERE, "VERIFIED.md"), "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote VERIFIED.md ({len(names)} queries, oldest evidence r{oldest:02d})")


if __name__ == "__main__":
    main()
