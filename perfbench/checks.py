"""Output checks: engine results against DuckDB, by the parity hash.

Tables compare by ``tools/run_parity.py``'s ``_hash_arrow``: an
order-insensitive digest of every row's canonical values, columns taken in
sorted-name order, so row order, column order and integer width (BIGINT
against DuckDB's HUGEINT sums) do not matter, while any changed value does.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.run_parity import _hash_arrow  # noqa: E402


def compare_tables(actual, expected) -> str | None:
    """None when the two Arrow tables hold the same rows, else why not."""
    if actual is None:
        return "no output"
    if sorted(actual.schema.names) != sorted(expected.schema.names):
        return f"columns {sorted(actual.schema.names)} != {sorted(expected.schema.names)}"
    if actual.num_rows != expected.num_rows:
        return f"{actual.num_rows} rows, expected {expected.num_rows}"
    got, want = _hash_arrow(actual), _hash_arrow(expected)
    if got != want:
        return f"value hash {got} != expected {want}"
    return None


def expected_latest_per_key(con, files: list[Path], key: str):
    """DuckDB's latest row per ``key`` over journal files landed in order:
    a later file's row wins."""
    listed = ", ".join(f"'{f}'" for f in files)
    return con.sql(
        f"""
        SELECT * EXCLUDE (filename, __rank) FROM (
            SELECT *, row_number() OVER (
                PARTITION BY {key} ORDER BY filename DESC) AS __rank
            FROM read_parquet([{listed}], filename = true)
        ) WHERE __rank = 1
        """
    ).fetch_arrow_table()
