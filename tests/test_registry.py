"""Static checks on the query registry (no Spark needed): its order, what
its import reads, the oracle-hash ledger, and the sink queries' staging
dirs."""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
from itertools import groupby

from movie_recommendation_engine_spark import registry as reg
from movie_recommendation_engine_spark.registry import ORACLES, QUERIES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "movie_recommendation_engine_spark")

# the query modules in the order registry/__init__.py imports them
IMPORT_ORDER = [
    "core",
    "relational",
    "sampling",
    "ml",
    "text",
    "dedup",
    "similarity",
    "streaming",
    "multimodal",
    "breadth",
    "tpch",
    "e2e",
    "featurize",
    "analytics",
]


def test_queries_keep_registration_order():
    """QUERIES lists each module's queries together, module by module in
    import order: nothing reorders the registry after registration."""
    mods = [fn.__module__.rsplit(".", 1)[-1] for fn in QUERIES.values()]
    assert [m for m, _ in groupby(mods)] == IMPORT_ORDER


def test_registry_import_reads_no_repo_files():
    """Importing the registry opens no file of the checkout outside the
    package, so an installed copy and a checkout register the same
    queries in the same order.  Files outside the checkout (pandas reads
    the system tz database at import) are not the registry's inputs."""
    script = (
        "import builtins, json, os\n"
        "opened = []\n"
        "_open = builtins.open\n"
        "def spy(file, *a, **k):\n"
        "    if not isinstance(file, int):\n"
        "        opened.append(os.path.abspath(os.fsdecode(file)))\n"
        "    return _open(file, *a, **k)\n"
        "builtins.open = spy\n"
        "import movie_recommendation_engine_spark.registry\n"
        "print(json.dumps(opened))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    opened = json.loads(out.strip().splitlines()[-1])
    stray = [
        p
        for p in opened
        if p.startswith(ROOT + os.sep) and not p.startswith(PACKAGE + os.sep)
    ]
    assert not stray, f"registry import read checkout files: {stray}"


def _manifest():
    with open(os.path.join(ROOT, "tools", "oracle_manifest.json")) as fh:
        return json.load(fh)


def test_manifest_matches_oracles():
    """tools/oracle_manifest.json holds md5(oracle_sql) for every registered
    query (null for rows-only ones), so an oracle edit shows up in the
    same diff as a manifest change.  Rewrite it with
    `python tools/gen_oracle_manifest.py`."""
    manifest = _manifest()
    current = {
        n: hashlib.md5(ORACLES[n].encode()).hexdigest() if n in ORACLES else None
        for n in QUERIES
    }
    missing = sorted(set(current) - set(manifest))
    drifted = sorted(n for n in set(current) & set(manifest) if manifest[n] != current[n])
    assert not (missing or drifted), (
        f"manifest out of sync: missing={missing} drifted={drifted}"
    )


def test_manifest_has_no_ghost_entries():
    """Entries for deleted or renamed queries are pruned: the generator
    rewrites the manifest from the live registry, so a ghost means it was
    hand-edited."""
    ghosts = sorted(set(_manifest()) - set(QUERIES))
    assert not ghosts, f"manifest entries for unregistered queries: {ghosts}"


def test_new_queries_carry_oracles_unless_rows_only_by_design():
    """Every registered query has an oracle except the four documented
    rows-only ML exports (engine-specific floats, each with a hash-
    gated invariant companion)."""
    rows_only = set(QUERIES) - set(ORACLES)
    assert rows_only == {
        "als_recommend_top5",
        "als_item_neighbors",
        "als_rmse_eval",
        "ann_ivf_kmeans_top5",
    }, f"unexpected rows-only queries: {sorted(rows_only)}"


def test_staging_dirs_bounded_per_key():
    """Repeated invocations of the same sink query in one long-lived
    session must not accumulate staged temp dirs.  Pruning is deferred
    one lap: the newest _STAGING_KEEP stay in the keep window, the one
    just pruned survives until the key's NEXT invocation, so a slow
    concurrent consumer gets a full extra lap before its staged parquet
    disappears.  Other keys are untouched."""
    import shutil

    created = []
    for _ in range(5):
        d = reg.staging_dir("boundtest", "/tmp/sfX")
        os.makedirs(d, exist_ok=True)
        created.append(d)
    other = reg.staging_dir("othertest", "/tmp/sfX")
    os.makedirs(other, exist_ok=True)

    try:
        live = [d for d in created if os.path.exists(d)]
        # keep window (2) + the one retired-but-not-yet-deleted lap
        assert live == created[-(reg._STAGING_KEEP + 1):]
        assert [d for d in created if d in reg._STAGING_DIRS] == live
        assert os.path.exists(other)  # a different key prunes nothing
        # the retired dir is deleted on the key's NEXT invocation
        created.append(reg.staging_dir("boundtest", "/tmp/sfX"))
        assert not os.path.exists(live[0])
        assert live[0] not in reg._STAGING_DIRS
    finally:
        for d in created + [other]:
            shutil.rmtree(d, ignore_errors=True)


def test_staging_dir_thread_safe():
    """Racing staging_dir calls on one key must never over-prune below
    _STAGING_KEEP or corrupt the bookkeeping lists — mutations happen
    under _STAGING_LOCK."""
    import threading

    errors: list[BaseException] = []

    def hammer():
        try:
            for _ in range(50):
                reg.staging_dir("conctest", "/tmp/sfX")
        except BaseException as ex:  # noqa: BLE001 — surfaced below
            errors.append(ex)

    threads = [threading.Thread(target=hammer) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors
    key = ("conctest", "/tmp/sfX")
    live = reg._STAGING_BY_KEY[key]
    assert len(live) == reg._STAGING_KEEP
    assert len(set(live)) == len(live)
    # retired backlog is bounded: each call drains the key's retired
    # list before adding at most one entry
    assert len(reg._STAGING_RETIRED.get(key, [])) <= 4
    # no dirs were created on disk (staging_dir only names them), so
    # bookkeeping cleanup is all that's needed — including the retired
    # entries, which stay listed in _STAGING_DIRS until their key's
    # next invocation (which never comes here)
    for d in list(reg._STAGING_BY_KEY.pop(key, [])) + list(
        reg._STAGING_RETIRED.get(key, [])
    ):
        if d in reg._STAGING_DIRS:
            reg._STAGING_DIRS.remove(d)
    reg._STAGING_RETIRED.pop(key, None)
