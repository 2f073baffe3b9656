"""Round-9 tests.

1. Verdict item 1: every module-local store reader now routes through
   storeio.read_store — a BROKEN store (corrupt parquet footer) must
   RAISE from each of ivf.read_assignment, dailycounts.
   read_daily_counts and sketch.read_cms, never read as empty, while
   a legitimately missing/empty store still reads as an empty frame.
2. ADVICE items: the fixed-point guard env var is validated at import,
   and parquet_fingerprint sees through directory-shaped sources.
"""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_SMALL


def _corrupt_store(tmp_path, name: str) -> str:
    """A store directory whose single 'parquet' file is garbage — the
    corrupt-footer case storeio's docstring classifies as BROKEN."""
    p = tmp_path / name
    p.mkdir()
    (p / "part-00000-broken.snappy.parquet").write_bytes(
        b"PAR1 this is not a parquet footer" + b"\x00" * 64
    )
    return str(p)


# --- verdict item 1: broken stores raise, empty stores don't ----------


def test_ivf_read_assignment_raises_on_corrupt_store(spark, tmp_path):
    from projet_etl_spark.streaming.ivf import read_assignment

    store = _corrupt_store(tmp_path, "ivf_store")
    with pytest.raises(Exception, match="[Pp]arquet|footer|magic"):
        read_assignment(spark, store).collect()


def test_ivf_read_assignment_empty_on_missing_store(spark, tmp_path):
    from projet_etl_spark.streaming.ivf import read_assignment

    df = read_assignment(spark, str(tmp_path / "never_written"))
    assert df.columns == ["vec_id", "cell"]
    assert df.count() == 0


def test_daily_counts_read_raises_on_corrupt_store(spark, tmp_path):
    from projet_etl_spark.streaming.dailycounts import read_daily_counts

    store = _corrupt_store(tmp_path, "daily_store")
    with pytest.raises(Exception, match="[Pp]arquet|footer|magic"):
        read_daily_counts(spark, store).collect()


def test_daily_counts_read_empty_on_missing_store(spark, tmp_path):
    from projet_etl_spark.streaming.dailycounts import read_daily_counts

    df = read_daily_counts(spark, str(tmp_path / "never_written"))
    assert df.columns == ["event_type", "d", "n"]
    assert df.count() == 0


def test_cms_read_raises_on_corrupt_store(spark, tmp_path):
    from projet_etl_spark.streaming.sketch import read_cms

    store = _corrupt_store(tmp_path, "cms_store")
    with pytest.raises(Exception, match="[Pp]arquet|footer|magic"):
        read_cms(spark, store).collect()


def test_cms_read_empty_on_missing_store(spark, tmp_path):
    from projet_etl_spark.streaming.sketch import read_cms

    df = read_cms(spark, str(tmp_path / "never_written"))
    assert df.columns == ["r", "bucket", "c"]
    assert df.count() == 0


def test_store_readers_recover_interrupted_swap(spark, tmp_path):
    """The parked-aside crash window (data parked, no live dir) must
    read back the full store through the shared reader — pinned here
    for the newly-routed ivf reader as the representative."""
    from projet_etl_spark.streaming.ivf import read_assignment

    store = str(tmp_path / "ivf_swap")
    spark.createDataFrame(
        [(1, 10), (2, 20)], "vec_id long, cell long"
    ).write.parquet(store)
    os.rename(store, store + "._precompact")  # crash between renames
    rows = {
        (r["vec_id"], r["cell"]) for r in read_assignment(spark, store).collect()
    }
    assert rows == {(1, 10), (2, 20)}


# --- verdict item 3: rules-vs-model fused into one scan -----------------


def test_rules_vs_model_plan_has_no_join_and_no_preagg_exchange(spark):
    """The fused plan must aggregate directly over the single
    documents scan: no join operator anywhere, and no Exchange below
    the partial aggregate (the only shuffles left are the ≤4-row
    final aggregate's and the output sort's)."""
    from projet_etl_spark.operators.qualrules import q_quality_rules_vs_model

    plan = (
        q_quality_rules_vs_model(spark, SF_SMALL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan
    below_partial_agg = plan[plan.rfind("HashAggregate"):]
    assert "Exchange" not in below_partial_agg


def test_rules_vs_model_fused_matches_join_composition(spark):
    """The fused logit fold must reproduce the scorer's keep verdicts
    exactly — pinned by rebuilding the confusion table the round-8
    way (per-doc rule flags ⋈ scorer keeps) and comparing."""
    from pyspark.sql import functions as F

    from projet_etl_spark.operators.qualrules import (
        per_doc_counters,
        q_quality_rules_vs_model,
        rules_pass_col,
    )
    from projet_etl_spark.operators.quality_model import (
        q_text_quality_model_jvm,
    )
    from projet_etl_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    rules = per_doc_counters(docs).select(
        "doc_id", rules_pass_col().alias("rules_pass")
    )
    model = q_text_quality_model_jvm(spark, SF_SMALL).select("doc_id", "keep")
    joined = {
        tuple(r)
        for r in rules.join(model, "doc_id")
        .groupBy("rules_pass", F.col("keep").alias("model_keep"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .collect()
    }
    fused = {tuple(r) for r in q_quality_rules_vs_model(spark, SF_SMALL).collect()}
    assert fused == joined


# --- verdict item 7: as_of under a non-default (historical) bound -------


def test_score_evolution_historical_as_of_matches_oracle(spark, duck):
    """The as_of parameterization (SURVEY §2.10.10) is pinned at the
    default bound by the registry oracle row; this drives a
    historical bound through BOTH engines so the time-dependence
    contract can't rot."""
    from projet_etl_spark.operators.timeseries import q_score_evolution
    from projet_etl_spark.plans.oracles import score_evolution_sql
    from tests.conftest import assert_matches_oracle

    epoch, as_of = "1996-03-01", "1997-06-30"
    sdf = q_score_evolution(spark, SF_SMALL, epoch=epoch, as_of=as_of)
    assert_matches_oracle(
        sdf, duck, score_evolution_sql(epoch, as_of), "score-evolution@1997"
    )


def test_score_sante_mois_historical_as_of_matches_oracle(spark, duck):
    """Same contract for the dense-month-spine composite: a
    historical as_of must shrink the spine AND the top-10 refinement
    window identically in Spark and DuckDB."""
    from projet_etl_spark.operators.composite import q_score_sante_mois
    from projet_etl_spark.plans.oracles import score_sante_mois_sql
    from tests.conftest import assert_matches_oracle

    epoch, as_of = "1996-03-01", "1997-06-30"
    sdf = q_score_sante_mois(spark, SF_SMALL, epoch=epoch, as_of=as_of)
    assert_matches_oracle(
        sdf, duck, score_sante_mois_sql(epoch, as_of), "score-sante@1997"
    )
    # the spine itself must end at the bound: 16 months in
    # [1996-03, 1997-06], never the default 84-month calendar
    assert sdf.count() == 16


# The r9 rotation pin test moved to tests/test_round10_ops.py: it
# went red at judging time because rotation.generate() globbed the
# CORRECTNESS ledger from disk and the driver's r09 artifact landed
# after commit. The round-proof pin compares the committed tuple to
# generate(names, rounds=rotation.ROUNDS_AT_COMMIT) — a pure function
# of committed inputs (r10, verdict item 1).


# --- ADVICE: directory-shaped fingerprints ------------------------------


def test_parquet_fingerprint_sees_inside_directories(tmp_path):
    """Rewriting a part file in place must change a directory source's
    fingerprint even when the directory inode's size/mtime don't move."""
    from projet_etl_spark.sources.staging import parquet_fingerprint

    d = tmp_path / "documents.parquet"
    d.mkdir()
    part = d / "part-00000.parquet"
    part.write_bytes(b"v1-bytes")
    fp1 = parquet_fingerprint(str(tmp_path), "documents.parquet")
    # same byte length, different content+mtime; freeze the directory
    # inode's own mtime to the pre-rewrite value to model filesystems
    # where an in-place rewrite leaves the dir stat unchanged
    dstat = os.stat(d)
    part.write_bytes(b"v2-bytes")
    os.utime(d, ns=(dstat.st_atime_ns, dstat.st_mtime_ns))
    fp2 = parquet_fingerprint(str(tmp_path), "documents.parquet")
    assert fp1 != fp2


# --- verdict item 2: staged cluster labels ------------------------------


def _write_docs_fixture(spark, sfd: str, n: int) -> None:
    base = (
        "the quick brown fox jumps over the lazy dog and then runs "
        "far away to the deep green forest before the sun sets "
    ) * 4
    rows = [
        (i, base + f"unique tail {i}", "en", "web", len(base))
        for i in range(n)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{sfd}/documents.parquet")


def test_cluster_labels_match_builder_and_restage_on_new_source(spark, tmp_path):
    """The staged label frame must equal the from-scratch builder's
    output, reuse the staged parquet across calls, and rebuild when
    documents.parquet is regenerated — stale labels would silently
    poison every downstream consumer (canonical corpus, splits,
    survivorship)."""
    import glob as _glob

    from projet_etl_spark.operators.clusters import (
        _LABEL_STAGE_ROOT,
        cluster_labels,
        q_dedup_clusters,
    )

    sfd = str(tmp_path / "sfclu")
    os.makedirs(sfd)
    _write_docs_fixture(spark, sfd, 6)
    staged = {tuple(r) for r in cluster_labels(spark, sfd).collect()}
    scratch = {tuple(r) for r in q_dedup_clusters(spark, sfd).collect()}
    assert staged == scratch and len(staged) == 6
    marker = os.path.join(_LABEL_STAGE_ROOT, "text", "sfclu", "_SOURCE")
    fp1 = open(marker).read()
    files1 = sorted(
        _glob.glob(os.path.join(_LABEL_STAGE_ROOT, "text", "sfclu", "labels", "*"))
    )
    # second call: served from the same staged files, marker unchanged
    assert cluster_labels(spark, sfd).count() == 6
    assert open(marker).read() == fp1
    assert sorted(
        _glob.glob(os.path.join(_LABEL_STAGE_ROOT, "text", "sfclu", "labels", "*"))
    ) == files1
    # regenerated source -> fingerprint mismatch -> rebuild
    _write_docs_fixture(spark, sfd, 9)
    assert cluster_labels(spark, sfd).count() == 9
    assert open(marker).read() != fp1


def test_consumers_read_staged_labels(spark, tmp_path):
    """q_dedup_canonical must scan the staged label parquet, not
    re-derive the CC subtree — the physical plan's relation list is
    the proof."""
    from projet_etl_spark.operators.clusters import (
        _LABEL_STAGE_ROOT,
        q_dedup_canonical,
    )

    sfd = str(tmp_path / "sfcan")
    os.makedirs(sfd)
    _write_docs_fixture(spark, sfd, 5)
    plan = q_dedup_canonical(spark, sfd)._jdf.queryExecution().executedPlan().toString()
    assert "cluster_labels" in plan
    assert q_dedup_canonical(spark, sfd).count() >= 1
    assert os.path.exists(os.path.join(_LABEL_STAGE_ROOT, "text", "sfcan"))


def test_parquet_fingerprint_regular_file_unchanged_shape(tmp_path):
    from projet_etl_spark.sources.staging import parquet_fingerprint

    f = tmp_path / "orders.parquet"
    f.write_bytes(b"some-bytes")
    st = os.stat(f)
    assert (
        parquet_fingerprint(str(tmp_path), "orders.parquet")
        == f"{st.st_size}:{st.st_mtime_ns}"
    )
