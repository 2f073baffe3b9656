"""Request-style dispatch API: parameter mapping, error contract
(reference views.py:92-96 404 / views.py:113-114 400), JSON edge."""

from __future__ import annotations

import pytest

from projet_etl_spark.api import (
    StoreNotFoundError,
    UnknownQueryTypeError,
    run_query,
    to_records,
)
from tests.conftest import SF_SMALL


def test_dispatch_with_reference_param_names(spark):
    df = run_query(
        spark,
        SF_SMALL,
        "top-magasins-cat",
        catID="Brand#4",
        debut="1996-01-01",
        fin="1997-12-31",
    )
    recs = to_records(df)
    assert 0 < len(recs) <= 10
    assert set(recs[0]) == {
        "magid", "total_fabricants", "total_produits", "total_ventes", "score",
    }


def test_unused_params_are_ignored(spark):
    # reference parses magID/annee for every request but most queries
    # ignore them (views.py:102-110); annee isn't a cat-query param
    df = run_query(spark, SF_SMALL, "cat", catID="Brand#4", annee=1996)
    assert df.count() > 0


def test_unknown_type_rejected(spark):
    with pytest.raises(UnknownQueryTypeError):
        run_query(spark, SF_SMALL, "drop-tables")


def test_unknown_param_rejected(spark):
    # unlike the reference's str.format splicing (views.py:143), junk
    # params fail closed instead of reaching SQL
    with pytest.raises(ValueError, match="unknown parameters"):
        run_query(spark, SF_SMALL, "cat", catID="Brand#4", catid="'; DROP --")


def test_missing_store_404(spark, tmp_path):
    with pytest.raises(StoreNotFoundError):
        run_query(spark, str(tmp_path / "nowhere"), "cat", catID="Brand#4")


def test_query_cli_json_roundtrip(spark, capsys):
    import json

    from projet_etl_spark.query import main

    rc = main(
        [
            "top-magasins-cat",
            "--sf-dir",
            SF_SMALL,
            "--param",
            "catID=Brand#4",
            "--param",
            "debut=1996-01-01",
            "--param",
            "fin=1997-12-31",
        ],
        spark=spark,
    )
    assert rc == 0
    recs = json.loads(capsys.readouterr().out)
    assert 0 < len(recs) <= 10
    assert set(recs[0]) == {
        "magid", "total_fabricants", "total_produits", "total_ventes", "score",
    }


def test_query_cli_error_codes(spark, tmp_path, capsys):
    from projet_etl_spark.query import main

    assert main(["nope", "--sf-dir", SF_SMALL], spark=spark) == 4  # 400
    assert (
        main(["cat", "--sf-dir", str(tmp_path / "nowhere")], spark=spark) == 44
    )  # 404
    assert main(["cat", "--sf-dir", SF_SMALL, "--param", "junk"], spark=spark) == 2
    capsys.readouterr()  # drain stderr


def test_registry_parity_entries_are_the_request_types():
    """One dispatch table: the registry's parity entries are the
    request API's types plus the two "-avg" twins, served by the
    same operator functions."""
    from projet_etl_spark.api import REQUEST_TYPES
    from projet_etl_spark.plans.registry import REGISTRY

    parity = {n: s for n, s in REGISTRY.items() if "parity" in s.tags}
    twins = {"avg-cat-fab-10-mag-avg", "score-sante-touts-les-mois-avg"}
    assert set(parity) == set(REQUEST_TYPES) | twins
    for name, fn in REQUEST_TYPES.items():
        assert parity[name].raw_fn is fn, name


def test_package_reads_only_deployment_settings():
    """The package's only environment inputs are the six deployment
    settings; no bisect switch, variant selector or plug-in hook. Any
    use of ``environ``/``getenv`` other than a read with a literal
    key shows up as an unresolved entry."""
    import os
    import re

    import projet_etl_spark

    root = os.path.dirname(projet_etl_spark.__file__)
    names = set()
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            src = open(os.path.join(dirpath, f), encoding="utf-8").read()
            for m in re.finditer(r"\b(?:environ|getenv)\b(.{0,40})", src, re.S):
                key = re.match(r'(?:\.get\(|\[|\()\s*"(\w+)"', m.group(1))
                names.add(key.group(1) if key else f"<unresolved in {f}>")
    assert names == {
        f"SPARK_GRAFT_{s}"
        for s in ("CPUS", "MASTER", "SHUFFLE", "DRIVER_MEM", "LEASE_TTL_SEC", "SF_DIR")
    }
