"""Output checks, run outside the timed region.

- ``fingerprint``: an order-insensitive digest of delivered rows,
  normalized by the repository's differential oracle checker;
- ``Oracle``: the registry's DuckDB SQL run on the same fixture files;
- ``plan_ops``: the Sort and Exchange operators of an executed plan, for
  the guard that the noop-sink plan is the delivered plan.
"""

from __future__ import annotations

import hashlib
import os
import re
import sys
from collections import Counter

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def fingerprint(columns: list[str], rows: list[tuple]) -> str:
    """sha256 of the row multiset as the repository's differential oracle
    checker normalizes it (``tools/check_oracle.py``: columns sorted by
    name, cells normalized, rows sorted)."""
    if TOOLS not in sys.path:
        sys.path.insert(0, TOOLS)
    from check_oracle import _norm_rows

    normed, names = _norm_rows(columns, rows)
    h = hashlib.sha256(repr(names).encode())
    for row in normed:
        h.update(repr(row).encode())
        h.update(b"\n")
    return f"{len(rows)}:{h.hexdigest()[:32]}"


def spark_fingerprint(df) -> str:
    return fingerprint(df.columns, [tuple(r) for r in df.collect()])


class Oracle:
    """DuckDB over the fixture's parquet files, one view per table."""

    def __init__(self, fixture_dir: str, tables) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture_dir}/{t}.parquet')")

    def fingerprint(self, sql: str) -> str:
        tbl = self.con.execute(sql).fetch_arrow_table()
        cols = tbl.column_names
        return fingerprint(cols, [tuple(d[c] for c in cols) for d in tbl.to_pylist()])

    def close(self) -> None:
        self.con.close()


_OP = re.compile(r"^[\s:+\-|]*\*?\s*(Sort|Exchange|BroadcastExchange|ReusedExchange)\s+\(\d+\)", re.M)


def plan_ops(plan_description: str) -> Counter:
    """Sort/Exchange operators of the static physical plan in a formatted
    plan description (the ``Initial Plan`` when adaptive execution ran)."""
    text = plan_description
    if "== Initial Plan ==" in text:
        text = text.split("== Initial Plan ==", 1)[1]
    text = text.split("\n\n", 1)[0]  # the tree; operator details follow
    return Counter(_OP.findall(text))
