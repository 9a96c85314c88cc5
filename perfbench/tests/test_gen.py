"""Determinism of the seeded catalog generator.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

import hashlib
import json
import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _digests(path):
    out = {}
    for t in gen.TABLES:
        with open(os.path.join(path, f"{t}.parquet"), "rb") as fh:
            out[t] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_gives_byte_identical_tables(tmp_path):
    a = gen.stage(str(tmp_path / "a"), 7, 0.01)
    b = gen.stage(str(tmp_path / "b"), 7, 0.01)
    assert _digests(a) == _digests(b)


def test_other_seed_gives_same_schemas_and_sizes_with_other_rows(tmp_path):
    a = gen.catalog(7, 0.01)
    b = gen.catalog(8, 0.01)
    for t in gen.TABLES:
        assert a[t].schema == b[t].schema, t
        assert a[t].num_rows == b[t].num_rows, t
    for t in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
        assert not a[t].equals(b[t]), t


def test_foreign_keys_resolve_at_every_scale():
    for scale in (0.01, 2):
        cat = gen.catalog(3, scale)
        cust = set(cat["customer"]["c_custkey"].to_pylist())
        orders = set(cat["orders"]["o_orderkey"].to_pylist())
        assert set(cat["orders"]["o_custkey"].to_pylist()) <= cust
        assert set(cat["lineitem"]["l_orderkey"].to_pylist()) <= orders
        assert set(cat["lineitem"]["l_partkey"].to_pylist()) <= set(cat["part"]["p_partkey"].to_pylist())
        assert len(cust) == cat["customer"].num_rows  # keys stay unique across replicas


def test_replicas_scale_row_counts():
    one, two = gen.catalog(5, 1), gen.catalog(5, 2)
    assert two["lineitem"].num_rows == 2 * one["lineitem"].num_rows
    assert two["nation"].num_rows == one["nation"].num_rows == 25
    norms = pc.list_value_length(two["embeddings"]["embedding"])
    assert pc.min(norms).as_py() == pc.max(norms).as_py() == gen.EMBED_DIM


def test_stale_or_partial_stage_is_rebuilt(tmp_path):
    root = str(tmp_path)
    path = gen.stage(root, 1, 0.01)
    with open(os.path.join(path, "_MANIFEST.json"), "w") as fh:
        json.dump({"generator": "stale"}, fh)
    os.remove(os.path.join(path, "orders.parquet"))
    again = gen.stage(root, 1, 0.01)
    assert again == path
    assert pq.read_metadata(os.path.join(again, "orders.parquet")).num_rows == 1500


def test_stage_keeps_a_bounded_number_of_catalogs(tmp_path):
    root = str(tmp_path)
    for seed in range(4):
        gen.stage(root, seed, 0.01, keep=2)
    assert len(os.listdir(root)) == 2
