"""Oracle check: DuckDB over the generated parquet tables, compared
order-insensitively with the Spark rows.

The table list and value canonicalization are the repo's parity
rules (``tests/parity.py``): NaN and -0.0 are kept distinct from
everything else and values must be equal (no tolerance). Rows travel
from the Spark process as JSON; ``from_json`` turns their list cells
back into the tuples ``canon`` makes.
"""

from __future__ import annotations

import os

from tests.parity import TABLES
from tests.parity import _canon as canon


def _tuples(v):
    return tuple(_tuples(x) for x in v) if isinstance(v, list) else v


def from_json(rows) -> list:
    return [[_tuples(v) for v in r] for r in rows]


def rows_key(rows) -> list:
    return sorted((tuple(r) for r in rows), key=repr)


def connect(in_dir: str, temp_dir: str):
    """DuckDB connection with a view per generated table; spills go to
    ``temp_dir``, never to the working directory."""
    import duckdb

    os.makedirs(temp_dir, exist_ok=True)
    con = duckdb.connect(config={"temp_directory": temp_dir, "threads": 4})
    for t in TABLES:
        path = os.path.join(in_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def duck_rows(con, sql: str) -> tuple[list[str], list]:
    """(sorted column names, canonical rows with columns in that order)."""
    rel = con.sql(sql)
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [[canon(r[i]) for i in order] for r in rel.fetchall()]
    return [cols[i] for i in order], rows


def compare(name: str, got_cols, got_rows, want_cols, want_rows) -> str | None:
    """None when equal, else a one-line reason."""
    if list(got_cols) != list(want_cols):
        return f"{name}: columns {list(got_cols)} != oracle {list(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"{name}: {len(got_rows)} rows != oracle {len(want_rows)}"
    bad = [(a, b) for a, b in zip(rows_key(got_rows), rows_key(want_rows)) if a != b]
    if bad:
        return (f"{name}: {len(bad)}/{len(got_rows)} rows differ; "
                f"first spark={bad[0][0]} oracle={bad[0][1]}")
    return None
