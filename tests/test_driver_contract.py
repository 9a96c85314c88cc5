"""Drive __spark_entry__ the way the external correctness driver does:
a subprocess with a *vanilla* SparkSession (no tuned configs) launched
from a foreign cwd. Catches anything that only works under our tuned
get_spark() — worker-side package imports (session._ship_package),
nanos-timestamp repair, etc."""

import os
import subprocess
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = r"""
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
import __spark_entry__ as e

df = e.entry(spark)
assert df.count() >= 0
qs = e.queries()
# one pandas-UDF query (worker must import the package), one events query
# (nanos-timestamp repair), one plain relational query.
for key in ("q_grouped_mad", "events_tumbling_hourly", "q1_pricing_summary"):
    n = qs[key](spark, "/root/testdata/sf0.001").count()
    assert n > 0, key
print("PROBE_OK")
"""


def test_vanilla_session_foreign_cwd():
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE, _ROOT],
        cwd="/tmp",
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "PROBE_OK" in proc.stdout


def test_no_query_name_collisions_across_modules():
    """Two modules exporting the same QUERIES key would silently shadow
    one another in the aggregated contract (dict.update last-wins) —
    the cross-module cousin of the _FRAMES_SCHEMA shadowing incident.
    Assert global uniqueness, and that every oracle key has a query."""
    import importlib

    import __spark_entry__ as e

    seen = {}
    for modname in e._MODULES:
        mod = importlib.import_module(modname)
        for k in getattr(mod, "QUERIES", {}):
            assert k not in seen, f"{k} defined in both {seen[k]} and {modname}"
            seen[k] = modname
    oracles = e.oracle_sql()
    orphans = sorted(set(oracles) - set(seen))
    assert not orphans, f"oracles without queries: {orphans}"


def test_no_oracle_loss():
    """Every query that EVER hash-matched in a driver CORRECTNESS artifact
    must still declare an oracle. In round 7 five ORACLES entries were
    silently dropped by no-op string patches, degrading those queries to
    the weaker rows-only check — the tool-side guard in verify_oracle.py
    caught it late; this pytest makes the regression fail fast."""
    import glob
    import json

    import __spark_entry__ as e

    ever_oracled: set[str] = set()
    for path in glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json")):
        try:
            data = json.load(open(path))
        except Exception:
            continue
        for k, v in data.items():
            if isinstance(v, dict) and v.get("err") != "no_oracle" and v.get("hash_match"):
                ever_oracled.add(k)
    qs = set(e.queries())
    oracles = set(e.oracle_sql())
    lost = sorted(ever_oracled & qs - oracles)
    assert not lost, f"oracles regressed to rows-only (previously hash-checked): {lost}"


def test_rows_only_set_is_pinned():
    """The queries without a DuckDB oracle are exactly the approximate-by-
    design estimators and ANN searches (docs/OPERATORS.md "Rows-only
    accuracy contracts"). A new rows-only name, such as an unchecked fast
    twin of an oracle-backed query, must be added here on purpose."""
    import __spark_entry__ as e

    assert set(e.queries()) - set(e.oracle_sql()) == {
        "dedup_minhash_lsh",
        "q_approx_distinct",
        "q_cms_heavy_hitters",
        "q_hll_distinct_by_type",
        "q_hll_intersection",
        "similarity_hard_negatives_ivf",
        "similarity_ivf_topk",
        "similarity_lsh_pairs",
        "similarity_pq_topk",
    }


def test_declared_and_oracle_counts_are_pinned():
    """The contract's size is pinned: 371 declared queries, 362 of them
    with a DuckDB oracle. A module dropped from ``_MODULES`` (or a merge
    that loses a ``QUERIES`` entry) changes these counts; a deliberate
    change to the surface updates them here."""
    import __spark_entry__ as e

    assert len(e.queries()) == 371
    assert len(e.oracle_sql()) == 362


def test_unknown_registry_module_fails_loudly(monkeypatch):
    """A ``_MODULES`` entry that cannot be imported (a module deleted or
    renamed without updating the registry) must raise, not silently drop
    that module's queries from the contract."""
    import pytest

    import __spark_entry__ as e

    monkeypatch.setattr(
        e, "_MODULES", [*e._MODULES, "db_migrator_spark.operators.no_such_module"]
    )
    with pytest.raises(ModuleNotFoundError, match="no_such_module"):
        e.queries()
    with pytest.raises(ModuleNotFoundError, match="no_such_module"):
        e.oracle_sql()


def test_driver_window_budget():
    """Attestation-debt budget (VERDICT r8 next-step #7): the driver
    checks 50 queries per round, so (never-checked + latest-red) must
    stay within TWO windows (100) — and while the debt exceeds that
    budget, registering NEW queries is frozen outright. Round 8 added
    ~116 queries against the 50-slot window and never-checked ballooned
    21 -> 93; this test makes that process failure a red test instead
    of a verdict finding. "New" = any declared query absent from
    first_seen.json (regenerated when a round adds surface) or first
    seen after the newest CORRECTNESS round."""
    import glob
    import json
    import os
    import re

    import __spark_entry__ as e

    budget = 100  # two 50-slot driver windows
    last: dict[str, tuple[int, bool]] = {}
    newest = 0
    for path in glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        newest = max(newest, rnd)
        try:
            data = json.load(open(path))
        except Exception:
            continue
        for k, v in data.items():
            if not isinstance(v, dict):
                continue
            green = v.get("err") == "no_oracle" or (
                bool(v.get("rows_match"))
                and bool(v.get("schema_match"))
                and v.get("hash_match") is not False
            )
            if k not in last or rnd >= last[k][0]:
                last[k] = (rnd, green)

    declared = set(e.queries())
    first_seen = e._first_seen()
    reds = {k for k, (_r, g) in last.items() if not g and k in declared}
    never = declared - set(last)
    new_this_round = {
        k for k in never
        if k not in first_seen or first_seen[k] > newest
    }
    debt = len(reds) + len(never - new_this_round)
    assert debt + len(new_this_round) <= max(budget, debt), (
        f"attestation debt {debt} (red {len(reds)} + never-checked "
        f"{len(never - new_this_round)}) already exceeds the {budget} "
        f"budget — new-query registration is frozen, but "
        f"{sorted(new_this_round)[:10]}... were added this round"
    )
    if debt <= budget:
        assert debt + len(new_this_round) <= budget, (
            f"adding {len(new_this_round)} new queries would push "
            f"attestation debt past {budget}: drain first "
            f"(drain schedule: __spark_entry__ module docstring)"
        )


def test_verify_oracle_fails_on_an_undeclared_name():
    """A requested query name that no module declares (a typo) fails the
    oracle gate with a FAIL line and exit 1, before a Spark session
    starts, instead of passing as "0/0 passed". The run stops before it
    opens the catalog, so the catalog path need not exist."""
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(_ROOT, "tools", "verify_oracle.py"),
            "no-such-catalog",
            "multimodal_decode_pmm",
        ],
        cwd="/tmp",
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 1, proc.stdout + proc.stderr[-3000:]
    assert "FAIL  multimodal_decode_pmm: not a declared query" in proc.stdout
    assert "passed" not in proc.stdout
