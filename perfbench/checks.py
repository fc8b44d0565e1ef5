"""Output checks: an order-free digest of each iteration's result, and
the golden digests committed for the default seed."""

from __future__ import annotations

import hashlib
import json
import os

GOLDEN_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden.json")


def _canon(v):
    if isinstance(v, float):
        return repr(round(v, 9) + 0.0)  # + 0.0 folds -0.0 into 0.0
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return v


def digest(tables: dict[str, list]) -> str:
    """sha256 over every table's rows, each table sorted, floats rounded
    to 9 digits. Rows are tuples or pyspark Rows (also tuples)."""
    h = hashlib.sha256()
    for name in sorted(tables):
        rows = sorted(json.dumps(_canon(list(r))) for r in tables[name])
        h.update(json.dumps([name, rows]).encode())
    return h.hexdigest()


def load_golden() -> dict:
    with open(GOLDEN_PATH) as f:
        return json.load(f)


def expected_digest(workload: str, seed: int) -> str | None:
    """The committed digest for (workload, seed), or None if there is
    none (then every iteration must equal the first)."""
    g = load_golden()
    if seed != g["seed"]:
        return None
    return g["digests"].get(workload)
