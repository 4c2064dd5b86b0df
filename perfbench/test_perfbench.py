"""Self-tests of the benchmark (no Spark session needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import verify  # noqa: E402
import worker  # noqa: E402
from workloads import END_TO_END_UNITS, WORKLOADS, per_layer_units  # noqa: E402


def _files(path):
    return {name: open(os.path.join(path, name), "rb").read() for name in sorted(os.listdir(path))}


def test_generator_is_byte_identical_per_seed_and_differs_across_seeds(tmp_path):
    gen.generate(7, str(tmp_path / "a"))
    gen.generate(7, str(tmp_path / "b"))
    gen.generate(8, str(tmp_path / "c"))
    a, b, c = (_files(tmp_path / d) for d in "abc")
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[name] != c[name] for name in a)


def test_generated_schemas_match_the_fixtures(tmp_path):
    from tests.conftest import SF_DIR

    if not os.path.isdir(SF_DIR):
        pytest.skip(f"fixture directory {SF_DIR} not present")
    gen.generate(1, str(tmp_path))
    for table in gen.SCHEMAS:
        got = pq.read_schema(tmp_path / f"{table}.parquet").remove_metadata()
        want = pq.read_schema(os.path.join(SF_DIR, f"{table}.parquet")).remove_metadata()
        assert got.equals(want), table


def test_generated_documents_keep_the_duplicate_shares(tmp_path):
    gen.generate(3, str(tmp_path))
    docs = pq.read_table(tmp_path / "documents.parquet").to_pydict()
    texts = docs["text"]
    assert len(texts) == gen.N_DOCS
    assert sum(t.endswith(" dup") for t in texts) >= gen.NEAR_DUP_DOCS
    assert len(texts) - len(set(texts)) >= gen.EXACT_DUP_DOCS
    assert docs["n_chars"] == [len(t) for t in texts]


def test_raising_call_is_counted_not_dropped():
    cleared = []

    def boom():
        raise ValueError("deliberate")

    walls, results, failed = worker.run_pass(
        [("ok", lambda: 1), ("boom", boom), ("after", lambda: 2)], cleared.append
    )
    assert failed == ["boom"]
    assert set(walls) == {"ok", "after"}
    assert results == {"ok": 1, "after": 2}
    assert cleared == ["ok", "boom", "after"]


def test_digest_ignores_row_and_column_order_but_not_types():
    a = verify.digest(["x", "y"], ["i64", "list<f64>"], [(1, [1.0, 2.5]), (2, [0.1 + 0.2])])
    b = verify.digest(["y", "x"], ["list<f64>", "i64"], [([0.3], 2), ([1.0, 2.5], 1)])
    c = verify.digest(["x", "y"], ["i64", "list<f64>"], [(1, [1.0, 2.5]), (2, [0.31])])
    d = verify.digest(["x", "y"], ["i32", "list<f64>"], [(1, [1.0, 2.5]), (2, [0.3])])
    assert a == b
    assert a != c
    assert a != d


def test_spark_and_duckdb_type_names_meet():
    spark = verify.spark_digest([("n", "bigint"), ("v", "array<double>")], [(1, [0.5])])
    duck = verify.digest(["n", "v"], [verify._norm_duck_type(t) for t in ("BIGINT", "DOUBLE[]")], [(1, [0.5])])
    assert spark == duck


def test_covered_merges_overlapping_job_intervals():
    assert worker._covered(0.0, 10.0, [(1, 3), (2, 4), (8, 12), (-5, -1)]) == 5.0


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_units()
