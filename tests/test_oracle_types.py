"""Oracle output-type lint (SURVEY.md §5.2.1 hardening, round 4).

The driver hashes VALUES after pulling both result sets through Arrow, so a
DuckDB oracle whose output column is HUGEINT (e.g. ``sum(int)``) or DECIMAL
arrives as float64/object while the Spark side emits int64 — the hash then
flags a "mismatch" on 1585 vs 1585.0 even though every value is identical
(this killed ``udf_geom_contains`` in the round-3 correctness run). This
lint runs every registered oracle through DuckDB ``DESCRIBE`` (plans only —
no data scan) and asserts each output column's declared type is in the
engine's emitted set, so the HUGEINT/DECIMAL class of driver-hash artifacts
is caught before the driver ever sees it.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from week3_2_practice_big_data__spark import REGISTRY  # noqa: E402
from week3_2_practice_big_data__spark.io import TABLES  # noqa: E402

from .conftest import SF_ORACLE

ORACLE_KEYS = sorted(k for k, q in REGISTRY.items() if q.oracle is not None)

# Types Spark's side can emit through Arrow with matching pandas dtypes.
# HUGEINT / DECIMAL / FLOAT (32-bit) are deliberately NOT here: DuckDB's
# integer-sum promotion and single-precision floats never match Spark's
# BIGINT/DOUBLE output under the driver's value hash.
_ALLOWED_PREFIXES = (
    "BIGINT",
    "INTEGER",
    "SMALLINT",
    "TINYINT",
    "DOUBLE",
    "VARCHAR",
    "BOOLEAN",
    "DATE",
    "TIMESTAMP",  # covers TIMESTAMP / TIMESTAMP_NS / TIMESTAMP WITH TIME ZONE
    "BLOB",
    # nested payloads are normalized to repr() strings by the comparator,
    # so element types are checked by the value hash itself
    "STRUCT",
    "MAP",
)
_ALLOWED_LIST_ELEMENTS = _ALLOWED_PREFIXES


def _type_ok(t: str) -> bool:
    t = t.strip()
    if t.endswith("[]"):  # DuckDB list spelling, e.g. DOUBLE[]
        return _type_ok(t[:-2])
    return t.upper().startswith(_ALLOWED_PREFIXES)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("key", ORACLE_KEYS)
def test_oracle_output_types(duck, key):
    rows = duck.execute(f"DESCRIBE {REGISTRY[key].oracle}").fetchall()
    bad = [(name, typ) for name, typ, *_ in rows if not _type_ok(typ)]
    assert not bad, (
        f"[{key}] oracle output column(s) with driver-hash-unsafe DuckDB "
        f"type: {bad} — cast to BIGINT/DOUBLE/VARCHAR in the oracle text "
        f"(sum(int) promotes to HUGEINT in DuckDB; see udf_geom_contains r3)"
    )
