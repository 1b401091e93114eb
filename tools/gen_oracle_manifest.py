"""Regenerate tools/oracle_manifest.json — the ledger of oracle hashes.

The manifest records md5(oracle_sql) per registered query (null for the
rows-only-by-design queries).  ``tests/test_registry.py`` requires it to
equal the live registry's hashes, so an oracle edit cannot land quietly:
it must show up in the same diff as a manifest change.  After changing,
adding or removing an oracle, run

    python tools/gen_oracle_manifest.py

and commit the rewritten manifest alongside the change.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

MANIFEST = os.path.join(ROOT, "tools", "oracle_manifest.json")


def current_hashes() -> dict[str, str | None]:
    from movie_recommendation_engine_spark.registry import ORACLES, QUERIES

    return {
        n: (
            hashlib.md5(ORACLES[n].encode()).hexdigest()
            if n in ORACLES
            else None
        )
        for n in sorted(QUERIES)
    }


def main() -> int:
    new = current_hashes()
    old: dict[str, str | None] = {}
    if os.path.exists(MANIFEST):
        with open(MANIFEST) as fh:
            old = json.load(fh)
    with open(MANIFEST, "w") as fh:
        json.dump(new, fh, indent=1, sort_keys=True)
        fh.write("\n")
    n_changed = sum(1 for n, h in new.items() if old.get(n, h) != h)
    n_new = sum(1 for n in new if n not in old)
    n_gone = sum(1 for n in old if n not in new)
    print(
        f"wrote {MANIFEST}: {len(new)} queries "
        f"({n_changed} changed, {n_new} new, {n_gone} removed)"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
