"""Output checks against the registry's DuckDB oracles.

Rows are compared as canonical, order-insensitive multisets, with the
canonical form the engine's oracle tests use
(``tests/conftest.py``: ``normalize_cell``, ``rows_canonical``).
"""

from __future__ import annotations

import os

from tests.conftest import TABLES, rows_canonical


def mismatch(cols, rows, want_cols, want_rows) -> str | None:
    """None when the two results are equal as canonical multisets,
    else a one-line reason."""
    if sorted(cols) != sorted(want_cols):
        return f"columns {sorted(cols)} != expected {sorted(want_cols)}"
    if len(rows) != len(want_rows):
        return f"{len(rows)} rows != expected {len(want_rows)}"
    _, a = rows_canonical(list(cols), rows)
    _, b = rows_canonical(list(want_cols), want_rows)
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return f"row {i} differs: {x} != expected {y}"
    return None


class Oracle:
    """DuckDB views over a star-schema directory."""

    def __init__(self, data_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute("SET TimeZone = 'UTC'")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    def mismatch(self, sql: str, cols, rows) -> str | None:
        """None when ``rows`` (with column names ``cols``) equal the
        oracle's result, else a one-line reason."""
        res = self.con.execute(sql)
        return mismatch(cols, rows, [d[0] for d in res.description], res.fetchall())

    def close(self) -> None:
        self.con.close()


def rollup_rows(pv: dict) -> tuple[list[str], list[tuple]]:
    """Expected ``sales-rollup`` result over generated
    ``points_de_vente`` columns: sales and distinct products per
    (catid, fabid), per catid, and in total."""
    import pandas as pd

    df = pd.DataFrame({k: pv[k] for k in ("catid", "fabid", "prodid")})
    rows = []
    for keys, gid in ((["catid", "fabid"], 0), (["catid"], 1), ([], 3)):
        if keys:
            g = df.groupby(keys).agg(n=("prodid", "size"), p=("prodid", "nunique"))
            for idx, r in g.iterrows():
                idx = idx if isinstance(idx, tuple) else (idx,)
                k = [int(v) for v in idx] + [None] * (2 - len(idx))
                rows.append((*k, int(r.n), int(r.p), gid))
        else:
            rows.append((None, None, len(df), int(df.prodid.nunique()), gid))
    return ["catid", "fabid", "n_ventes", "n_produits", "gid"], rows
