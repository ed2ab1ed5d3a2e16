"""The input generators are pure functions of the seed."""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _digest(directory: str) -> dict[str, str]:
    out = {}
    for root, _, files in os.walk(directory):
        for name in files:
            path = os.path.join(root, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, directory)] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.fixture
def small(monkeypatch):
    """Shrink the sales generator so the test runs in a second."""
    monkeypatch.setitem(gen.SALES, "rows", 20_000)
    monkeypatch.setitem(gen.SALES, "row_group_rows", 4_096)


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_files_other_seed_other_files(workload, small, tmp_path):
    first, generated = gen.ensure_inputs(workload, 7, str(tmp_path / "a"))
    assert generated
    again, _ = gen.ensure_inputs(workload, 7, str(tmp_path / "b"))
    other, _ = gen.ensure_inputs(workload, 8, str(tmp_path / "c"))
    assert _digest(first["src"]) == _digest(again["src"])
    assert _digest(first["src"]) != _digest(other["src"])
    assert set(_digest(first["src"])) == set(_digest(other["src"]))


def test_inputs_are_cached_per_seed(small, tmp_path):
    first, generated = gen.ensure_inputs("stream_windowing", 3, str(tmp_path))
    second, regenerated = gen.ensure_inputs("stream_windowing", 3, str(tmp_path))
    assert generated and not regenerated
    assert first == second


def test_sales_injects_the_stated_shares(small, tmp_path):
    import duckdb

    manifest, _ = gen.ensure_inputs("quality_ingest", 5, str(tmp_path))
    n = gen.SALES["rows"]
    assert manifest["null_keys"] == int(n * gen.SALES["null_key_share"])
    assert manifest["violators"] == int(n * gen.SALES["violation_share"])
    assert manifest["duplicates"] == int(n * gen.SALES["duplicate_share"])
    src = os.path.join(manifest["src"], "*.parquet")
    rows, null_keys, violators, distinct = duckdb.sql(
        f"""SELECT count(*),
                   count(*) FILTER (WHERE product_id IS NULL OR store_id IS NULL),
                   count(*) FILTER (WHERE quantity <= 0),
                   (SELECT count(*) FROM (SELECT DISTINCT * FROM read_parquet('{src}')))
            FROM read_parquet('{src}')"""
    ).fetchone()
    assert rows == manifest["rows"] == n + manifest["duplicates"]
    assert null_keys == manifest["null_keys"]
    assert violators == manifest["violators"]
    assert rows - distinct == manifest["duplicates"]
