"""Result hashing and the DuckDB oracle side of the correctness check.

A call's result is reduced to one order-insensitive digest of its
column types and rows, normalised by the repo's oracle-parity test
helpers (``tests/conftest.py``): columns sorted by name, types mapped
to one vocabulary for Spark and DuckDB, cells normalised (floats at 6
significant digits), rows sorted. The Spark result and the registry's
DuckDB oracle on the same generated files must give the same digest.

The oracles are slow at scale, so their digests are computed once per
input directory and cached next to the inputs, keyed by the oracle
SQL text and the code that normalises and hashes results: a change to
either recomputes them.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

from gen import SCHEMAS
from tests.conftest import _norm_duck_type, _norm_spark_type, normalized_rows


def digest(columns: list[str], types: list[str], rows) -> str:
    """Order-insensitive sha256 of a result set and its normalised
    column types."""
    h = hashlib.sha256(repr(sorted(zip(columns, types))).encode())
    h.update(repr(normalized_rows(columns, rows)).encode())
    return h.hexdigest()


def spark_digest(dtypes: list[tuple[str, str]], rows) -> str:
    """Digest of a Spark result, given its frame's ``dtypes``."""
    return digest([c for c, _ in dtypes], [_norm_spark_type(t) for _, t in dtypes], rows)


def _source_digest(*modules) -> bytes:
    h = hashlib.sha256()
    for module in modules:
        with open(module.__file__, "rb") as f:
            h.update(f.read())
    return h.digest()


# A cached digest is reused only while the oracle SQL and the code that
# normalises and hashes results are unchanged.
_NORMALISER = _source_digest(sys.modules[__name__], sys.modules[normalized_rows.__module__])


def _sql_key(sql: str) -> str:
    return hashlib.sha256(_NORMALISER + sql.encode()).hexdigest()[:16]


def oracle_digests(data_dir: str, oracles: dict[str, str], tmp_dir: str) -> dict[str, str]:
    """Digest of each oracle's result on ``data_dir``, from the cache
    file ``data_dir/oracle.json`` where present."""
    cache_path = os.path.join(data_dir, "oracle.json")
    try:
        with open(cache_path) as f:
            cache = json.load(f)
    except FileNotFoundError:
        cache = {}
    out, missing = {}, []
    for name, sql in oracles.items():
        hit = cache.get(name)
        if hit is not None and hit["sql"] == _sql_key(sql):
            out[name] = hit["digest"]
        else:
            missing.append(name)
    if missing:
        import duckdb

        con = duckdb.connect(config={"temp_directory": tmp_dir})
        try:
            for table in SCHEMAS:
                path = os.path.join(data_dir, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
            for name in missing:
                rel = con.sql(oracles[name])
                types = [_norm_duck_type(t) for t in rel.types]
                out[name] = digest(list(rel.columns), types, rel.fetchall())
                cache[name] = {"sql": _sql_key(oracles[name]), "digest": out[name]}
        finally:
            con.close()
        tmp_path = cache_path + f".{os.getpid()}"
        with open(tmp_path, "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(tmp_path, cache_path)
    return out
