"""Regenerate db_migrator_spark/first_seen.json from git history.

Maps every declared query name to the round it first appeared in,
derived from the earliest commit mentioning the quoted name and the
"round N: verdict" boundary commits. The evidence rotation
(__spark_entry__._evidence_order) drains never-driver-checked queries
oldest-round-first using this file, and test_driver_window_budget
treats names absent from it as "new this round" for the registration
freeze. RUN THIS whenever a round adds queries; commit the result.

    python tools/gen_first_seen.py
"""

from __future__ import annotations

import bisect
import json
import os
import subprocess
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_FIRST_SEEN = os.path.join(_ROOT, "db_migrator_spark", "first_seen.json")
sys.path.insert(0, _ROOT)


def main() -> int:
    commits = subprocess.run(
        ["git", "log", "--reverse", "--format=%H %s"],
        capture_output=True, text=True, cwd=_ROOT,
    ).stdout.splitlines()
    hashes = [c.split()[0] for c in commits]
    boundaries: list[tuple[int, int]] = []
    for i, c in enumerate(commits):
        parts = c.split(" ", 1)
        if len(parts) > 1 and parts[1].startswith("round ") \
                and "verdict" in parts[1]:
            boundaries.append((i, int(parts[1].split()[1].rstrip(":"))))

    import __spark_entry__ as em

    names = list(em.queries())
    try:
        existing = json.load(open(_FIRST_SEEN))
    except Exception:
        existing = {}

    bidx = [b[0] for b in boundaries]
    res: dict[str, int] = {}
    for name in names:
        if name in existing:  # history is immutable; only fill new names
            res[name] = existing[name]
            continue
        out = subprocess.run(
            ["git", "log", "--reverse", "--format=%H", "-S", f'"{name}"',
             "--", "db_migrator_spark", "__spark_entry__.py"],
            capture_output=True, text=True, cwd=_ROOT,
        ).stdout.splitlines()
        idx = hashes.index(out[0]) if out else len(hashes)
        pos = bisect.bisect_right(bidx, idx)
        res[name] = (boundaries[pos - 1][1] + 1) if pos > 0 else 1

    with open(_FIRST_SEEN, "w") as f:
        json.dump(dict(sorted(res.items())), f, indent=0)
        f.write("\n")
    from collections import Counter

    print("first_seen rounds:", dict(sorted(Counter(res.values()).items())))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
