"""Tests of the benchmark's own pieces: the star-schema fixture, the
seeded input generator and the metric list in BENCHMARK.json.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _digests(path: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_fixture_is_the_engine_test_fixture():
    """fixture/ holds the engine's sf0.01 test tables, byte for byte."""
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.dirname(here))
    from tests.conftest import SF_SMALL, TABLES

    ours = _digests(os.path.join(here, "fixture"))
    assert sorted(ours) == sorted(f"{t}.parquet" for t in TABLES)
    source = os.path.join(os.path.dirname(SF_SMALL), "sf0.01")
    if not os.path.isdir(source):
        pytest.skip("the engine's test fixtures are not present")
    assert ours == {n: d for n, d in _digests(source).items() if n in ours}


def test_csvs_byte_identical_per_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    size = gen.write_csvs(str(a), seed=3, rows=500)
    assert gen.write_csvs(str(b), seed=3, rows=500) == size
    gen.write_csvs(str(c), seed=4, rows=500)
    da, db, dc = _digests(str(a)), _digests(str(b)), _digests(str(c))
    assert da == db
    assert all(da[n] != dc[n] for n in da)
    assert size == sum(os.path.getsize(a / n) for n in da)


def test_csv_shape_matches_reference_ingest(tmp_path):
    texts = gen.csv_texts(seed=5, rows=2000)
    pv = texts["pointsDeVente-tous.csv"].splitlines()
    header = pv[0].split()
    assert [h.lower() for h in header] == ["dateid", "prodid", "catid", "fabid", "magid"]
    assert header != [h.lower() for h in header]  # mixed case
    assert len(pv) == 2001
    assert any("   " in line for line in pv[1:])  # variable runs of spaces
    cat_of: dict[int, tuple[int, int]] = {}
    for line in pv[1:]:
        d, prod, cat, fab, mag = map(int, line.split())
        assert 20220101 <= d <= 20241231
        assert 1 <= mag <= gen.N_MAG
        # one stable (catid, fabid) per product
        assert cat_of.setdefault(prod, (cat, fab)) == (cat, fab)


def test_request_mix_is_seeded():
    assert gen.request_mix(1, 5) == gen.request_mix(1, 5)
    assert gen.request_mix(1, 5) != gen.request_mix(2, 5)


def test_request_mix_shapes():
    mix = gen.request_mix(1, 30)
    # every round holds each type once; skewed parameters repeat
    assert sorted(t for t, _ in mix[:11]) == sorted(gen.REQUEST_TYPES)
    assert gen.repeat_share(mix) > 0.1


def test_benchmark_json_lists_the_reported_metrics():
    import json

    import run

    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, os.pardir, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: v[0] for k, v in run.PER_LAYER.items()
    }
    import workloads

    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
