"""Correctness checks, run outside the timed region.

- Arrow results compare by row count plus a digest of the sorted row
  hashes, so batch order, chunking and row order do not matter.
- Registry entries compare against DuckDB running their ``oracle_sql()``
  with the repository's oracle harness (``tests/oracle_harness.py``):
  row multisets after column sort, and type-strict.
"""

from __future__ import annotations

import hashlib
import os
import sys

import pandas as pd
import pyarrow as pa


def harness():
    """The repository's oracle harness, ``tests/oracle_harness.py``."""
    tests_dir = os.path.join(os.getcwd(), "tests")
    if tests_dir not in sys.path:
        sys.path.insert(0, tests_dir)
    import oracle_harness

    return oracle_harness


def digest(t: pa.Table, like: pa.Schema | None = None) -> tuple[int, str]:
    """(rows, hex digest of the sorted per-row hashes), columns in name
    order. ``like`` casts ``t`` to that schema first."""
    if like is not None:
        t = t.select(like.names).cast(like)
    t = t.select(sorted(t.column_names))
    h = pd.util.hash_pandas_object(t.to_pandas(), index=False).to_numpy()
    h.sort()
    return t.num_rows, hashlib.blake2b(h.tobytes(), digest_size=16).hexdigest()


def same_rows(actual: pa.Table, expected: pa.Table) -> bool:
    """Same rows as a multiset. Identical order and schema compare
    directly; anything else by digest."""
    if actual.num_rows != expected.num_rows:
        return False
    if sorted(actual.column_names) != sorted(expected.column_names):
        return False
    if actual.schema == expected.schema and actual.equals(expected):
        return True
    return digest(actual, expected.schema) == digest(expected)
