"""Request-style dispatch API: the engine's analogue of the
reference's HTTP endpoint (reference views.py:90-154).

The reference reads query-string params (type, catID, fabID, debut,
fin, annee; views.py:102-110), validates the type (views.py:113-114,
400 on unknown), checks the store exists (views.py:92-96, 404), and
dispatches through QUERY_MAP. This module keeps that exact contract
— same parameter names, same error classes of behavior — but returns
a lazy DataFrame instead of JSON (callers serialize at the edge, as
S7 notes in SURVEY.md §2.1).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from projet_etl_spark.operators import composite, simple, timeseries, topk
from projet_etl_spark.sources.ingest import table_exists


class UnknownQueryTypeError(ValueError):
    """Reference behavior: 400 'Type de requête inconnu' (views.py:114)."""


class StoreNotFoundError(FileNotFoundError):
    """Reference behavior: 404 'Base de données non trouvée' (views.py:96)."""


# reference query-string parameter names -> engine keyword arguments
_PARAM_MAP = {
    "catID": "cat_id",
    "fabID": "fab_id",
    "debut": "debut",
    "fin": "fin",
    "annee": "annee",
    "epoch": "epoch",
    "as_of": "as_of",
}

# request type -> operator; the registry's parity entries are these
# plus the two "-avg" twins (plans/registry.py)
REQUEST_TYPES = {
    "cat": simple.q_cat,
    "mag-cat": simple.q_mag_cat,
    "fab-cat": simple.q_fab_cat,
    "avg-prod-per-fab": simple.q_avg_prod_per_fab,
    "top-magasins": topk.q_top_magasins,
    "top-magasins-cat": topk.q_top_magasins_cat,
    "nb-mag-cat-date": timeseries.q_nb_mag_cat_date,
    "score-evolution": timeseries.q_score_evolution,
    "top-1": topk.q_top_1,
    "avg-cat-fab-10-mag": composite.q_avg_cat_fab_10_mag,
    "score-sante-touts-les-mois": composite.q_score_sante_mois,
}


def run_query(
    spark: SparkSession, sf_dir: str, type_param: str, **request_params: Any
) -> DataFrame:
    """Dispatch a reference-style request.

    >>> run_query(spark, sf_dir, "top-magasins-cat",
    ...           catID="Brand#4", debut="1996-01-01", fin="1997-12-31")
    """
    from projet_etl_spark.sources.tables import _native_path

    if _native_path(sf_dir, "points_de_vente") is None and not table_exists(
        spark, f"{sf_dir}/lineitem.parquet"
    ):
        raise StoreNotFoundError(f"no warehouse at {sf_dir}")
    if type_param not in REQUEST_TYPES:
        raise UnknownQueryTypeError(f"unknown query type: {type_param!r}")
    unknown = set(request_params) - set(_PARAM_MAP)
    if unknown:
        raise ValueError(f"unknown parameters: {sorted(unknown)}")
    kwargs = {
        _PARAM_MAP[k]: v for k, v in request_params.items() if v is not None
    }
    fn = REQUEST_TYPES[type_param]
    import inspect

    accepted = set(inspect.signature(fn).parameters)
    kwargs = {k: v for k, v in kwargs.items() if k in accepted}
    return fn(spark, sf_dir, **kwargs)


def to_records(df: DataFrame) -> list[dict]:
    """JSON-edge serialization (reference views.py:152-154
    to_dict(orient='records'))."""
    return [row.asDict(recursive=True) for row in df.collect()]
