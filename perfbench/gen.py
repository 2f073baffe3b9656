"""Seeded input generator for the benchmark.

The star-schema tables are the engine's sf0.01 test fixture, copied
unchanged into ``fixture/``. Everything else a workload feeds the
engine comes from here: the two reference-shaped whitespace CSVs the
ingest path reads, and the request parameter mix over the fixture's
key domains. The same seed gives byte-identical CSVs and identical
request lists; the engine only ever sees the generated inputs, never
the seed.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per stream, so adding a stream never
    shifts the values of another."""
    return np.random.default_rng([seed, *stream.encode()])


# --- reference-shaped CSVs (FIXTURES.md section 1) -------------------

N_PROD, N_CAT, N_FAB, N_MAG = 5000, 50, 200, 500
CSV_FIRST, CSV_LAST = dt.date(2022, 1, 1), dt.date(2024, 12, 31)
CSV_FILES = {
    "produits": ("produits-tous.csv", ("DateID", "ProdID", "catID", "fabId")),
    "points_de_vente": (
        "pointsDeVente-tous.csv",
        ("dateID", "prodId", "CatID", "FabID", "magID"),
    ),
}


def _catalog(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """One stable (catid, fabid) per product id 1..N_PROD."""
    r = _rng(seed, "catalog")
    return r.integers(1, N_CAT + 1, N_PROD + 1), r.integers(1, N_FAB + 1, N_PROD + 1)


def _zipf_ids(r, a: float, n: int, top: int) -> np.ndarray:
    """Zipf-skewed ids in 1..top (the tail wraps instead of piling up
    on ``top``)."""
    return (r.zipf(a, n) - 1) % top + 1


def _csv_text(r, header, cols) -> str:
    # variable runs of spaces between fields, as the reference's
    # regex-delimited reader expects
    spaces = (" ", "  ", "   ")
    fields = [list(map(str, np.asarray(cols[0]).tolist()))]
    for c in cols[1:]:
        gaps = r.integers(0, 3, len(fields[0])).tolist()
        fields.append([spaces[g] for g in gaps])
        fields.append(list(map(str, np.asarray(c).tolist())))
    lines = ["".join(parts) for parts in zip(*fields)]
    return "  ".join(header) + "\n" + "\n".join(lines) + "\n"


def csv_columns(seed: int, rows: int) -> dict[str, dict[str, np.ndarray]]:
    """Column values of the two reference tables, ``rows`` each;
    ``dateid`` as ``yyyyMMdd`` integers."""
    cat, fab = _catalog(seed)
    span = (CSV_LAST - CSV_FIRST).days + 1
    # yyyyMMdd of each day in the range, by offset from the first
    ymd = np.array([int((CSV_FIRST + dt.timedelta(i)).strftime("%Y%m%d")) for i in range(span)])
    out = {}
    for table, (fname, _header) in CSV_FILES.items():
        r = _rng(seed, fname)
        prod = _zipf_ids(r, 1.3, rows, N_PROD)
        days = r.integers(0, span, rows)
        cols = {
            "dateid": ymd[days],
            "prodid": prod,
            "catid": cat[prod],
            "fabid": fab[prod],
        }
        if table == "points_de_vente":
            # a few heavy stores, so a stable top 10 exists
            cols["magid"] = _zipf_ids(r, 1.5, rows, N_MAG)
        out[table] = cols
    return out


def csv_texts(seed: int, rows: int) -> dict[str, str]:
    """The two whitespace CSVs, ``rows`` data lines each."""
    out = {}
    for table, cols in csv_columns(seed, rows).items():
        fname, header = CSV_FILES[table]
        r = _rng(seed, "spacing-" + fname)
        out[fname] = _csv_text(r, header, list(cols.values()))
    return out


def write_csvs(out_dir: str, seed: int, rows: int) -> int:
    """Write both CSVs; returns their total size in bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for fname, text in csv_texts(seed, rows).items():
        data = text.encode()
        with open(os.path.join(out_dir, fname), "wb") as f:
            f.write(data)
        total += len(data)
    return total


# --- request parameter mixes ------------------------------------------

REQUEST_TYPES = (
    "cat",
    "mag-cat",
    "fab-cat",
    "avg-prod-per-fab",
    "top-magasins",
    "top-magasins-cat",
    "nb-mag-cat-date",
    "score-evolution",
    "top-1",
    "avg-cat-fab-10-mag",
    "score-sante-touts-les-mois",
)
# which request parameters each type reads (reference views.py)
_TYPE_PARAMS = {
    "cat": ("catID",),
    "mag-cat": ("catID",),
    "fab-cat": ("catID",),
    "avg-prod-per-fab": ("catID", "debut", "fin"),
    "top-magasins": ("debut", "fin"),
    "top-magasins-cat": ("catID", "debut", "fin"),
    "nb-mag-cat-date": ("catID", "annee"),
    "score-evolution": ("catID", "fabID"),
    "top-1": ("catID", "debut", "fin"),
    "avg-cat-fab-10-mag": ("catID", "fabID", "debut", "fin"),
    "score-sante-touts-les-mois": ("catID", "fabID"),
}


def _zipf_pick(r, n: int, a: float) -> int:
    return int(min(r.zipf(a), n)) - 1


def request_mix(seed: int, rounds: int) -> list[tuple[str, dict]]:
    """Requests against the star-schema fixture (brands Brand#1..25,
    suppliers 0..99, ship years 1995..2001): each round holds every
    type once in a seeded order; parameters are zipf-skewed so popular
    categories and ranges repeat."""
    r = _rng(seed, "star-requests")
    brands = [f"Brand#{i}" for i in range(1, 26)]
    r.shuffle(brands)
    years = list(range(1995, 2002))
    r.shuffle(years)
    out = []
    for _ in range(rounds):
        for t in r.permutation(REQUEST_TYPES):
            y0 = years[_zipf_pick(r, len(years), 2.0)]
            pool = {
                "catID": brands[_zipf_pick(r, len(brands), 1.6)],
                "fabID": _zipf_pick(r, 100, 1.6),
                "debut": f"{y0}-01-01",
                "fin": f"{min(y0 + 1, 2001)}-12-31",
                "annee": y0,
            }
            out.append((str(t), {k: pool[k] for k in _TYPE_PARAMS[t]}))
    return out


def repeat_share(requests: list[tuple[str, dict]]) -> float:
    """Share of requests identical to an earlier one."""
    seen = set()
    rep = 0
    for t, p in requests:
        sig = (t, tuple(sorted(p.items())))
        rep += sig in seen
        seen.add(sig)
    return rep / max(1, len(requests))
