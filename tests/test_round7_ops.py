"""Round-7 guards: the decimal-vs-double output-contract twins, the
fixed-point runtime bound guard, replay-safe store compaction, the
empty-vs-broken store-read distinction, and the wscsv task-temp
commit protocol."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from projet_etl_spark.plans.registry import REGISTRY
from tests.conftest import SF_SMALL, assert_matches_oracle


# --- decimal/double A/B twins ----------------------------------------


@pytest.mark.parametrize("name", ["money-twin-decimal", "money-twin-double"])
def test_money_twins_match_oracle(spark, duck, name):
    spec = REGISTRY[name]
    assert_matches_oracle(spec.fn(spark, SF_SMALL), duck, spec.oracle, name)


def test_money_twins_agree_on_values(spark):
    """The two arms differ ONLY in output type: float(decimal arm)
    must equal the double arm bit-for-bit."""
    dec = {
        r["o_orderpriority"]: (r["n_orders"], float(r["total_price"]))
        for r in REGISTRY["money-twin-decimal"].fn(spark, SF_SMALL).collect()
    }
    dbl = {
        r["o_orderpriority"]: (r["n_orders"], r["total_price"])
        for r in REGISTRY["money-twin-double"].fn(spark, SF_SMALL).collect()
    }
    assert dec == dbl and len(dec) >= 2


def test_output_contract_no_decimal_in_final_projections(spark):
    """Engine output contract (round 7): no registry query except the
    deliberate decimal twin presents a DECIMAL column — exact decimal
    stays internal, final projections are DOUBLE/LONG/STRING/DATE."""
    # money-twin-decimal is the deliberate A/B arm;
    # lineitem-salted-join keeps its decimal(18,4) output as the
    # positive control (the one decimal-emitting query that has a
    # GREEN driver row — scale 4, not the suspect scale 2)
    allowed = {"money-twin-decimal", "lineitem-salted-join"}
    offenders = []
    for name, spec in REGISTRY.items():
        if name in allowed:
            continue
        df = spec.fn(spark, SF_SMALL)
        for f in df.schema.fields:
            if f.dataType.typeName() == "decimal":
                offenders.append((name, f.name, str(f.dataType)))
    assert not offenders, f"decimal output columns: {offenders}"


# --- fixed-point runtime bound guard ----------------------------------


def test_fixed_point_guard_raises_on_understated_bound(spark):
    from projet_etl_spark.functions.fixedpoint import (
        UnitSum,
        fixed_point_agg,
        units,
    )

    df = spark.createDataFrame(
        [(1, 10.00), (1, 99999.99), (2, 5.00)], "k long, v double"
    )
    ok = fixed_point_agg(
        df, ["k"], [UnitSum("s", units("v"), 2, 10_000_000)]
    ).collect()
    assert {(r["k"], float(r["s"])) for r in ok} == {(1, 100009.99), (2, 5.0)}
    # declared bound understates the 99999.99 row -> loud failure,
    # never a silently-wrapped "exact" result
    with pytest.raises(Exception, match="max_units"):
        fixed_point_agg(
            df, ["k"], [UnitSum("s", units("v"), 2, 100)]
        ).collect()


# --- replay-safe compaction (the advisor's crash-replay scenario) -----


def test_sample_compaction_survives_newest_batch_replay(spark, tmp_path):
    """Crash scenario: the stream wrote batch 2's partition, crashed
    BEFORE the checkpoint commit, the operator compacted, the stream
    restarted and replayed batch 2. The replay must not destroy the
    merged pre-compaction state (the old max(batch)-keyed layout lost
    every earlier batch's sample here)."""
    from projet_etl_spark.streaming.quantiles import (
        compact_sample_store,
        read_sample,
        upsert_bottomk_batch,
    )
    from projet_etl_spark.streaming.storeio import RESERVED_COMPACT_BATCH

    store = str(tmp_path / "bottomk")
    batches = {
        b: spark.createDataFrame(
            [(b * 1000 + i, float(b * 1000 + i)) for i in range(50)],
            "event_id long, value double",
        )
        for b in range(3)
    }
    for b, df in batches.items():
        upsert_bottomk_batch(df, b, store)
    before = sorted(map(tuple, read_sample(spark, store).collect()))

    compact_sample_store(spark, store)
    parts = {
        r["batch"]
        for r in spark.read.parquet(store).select("batch").distinct().collect()
    }
    # batches 0,1 folded under the reserved id; newest kept verbatim
    assert parts == {RESERVED_COMPACT_BATCH, 2}

    # the replay: batch 2 arrives again, dynamic-overwrites its own
    # partition only — the merged sample must be unchanged
    upsert_bottomk_batch(batches[2], 2, store)
    after = sorted(map(tuple, read_sample(spark, store).collect()))
    assert after == before


# --- empty vs broken store reads --------------------------------------


def test_read_store_empty_vs_broken(spark, tmp_path):
    from pyspark.errors import AnalysisException

    from projet_etl_spark.streaming.storeio import read_store

    missing = str(tmp_path / "nope")
    assert read_store(spark, missing, "a long, b string", ["a", "b"]).count() == 0

    # schema drift is BROKEN, not empty: the store exists and reads,
    # but lacks the expected column -> must raise, never serve empty
    drifted = str(tmp_path / "drifted")
    spark.createDataFrame([(1,)], "wrong long").write.parquet(drifted)
    with pytest.raises(AnalysisException):
        read_store(spark, drifted, "a long, b string", ["a", "b"]).count()


# --- round-7 registry queries ------------------------------------------


@pytest.mark.parametrize(
    "name",
    [
        "lineitem-zorder-scan",
        "user-state-store",
        "bm25-store-compacted",
        "min-cost-supplier-per-part",
        "nation-market-share",
        "part-type-profit",
        "shipping-delay-priority",
        "part-supplier-diversity",
        "sole-late-supplier",
        "embedding-norm-extremes",
        "embedding-centroid-shift",
        "customer-ltv-cohorts",
        "supplier-lead-time",
        "brand-affinity",
        "sessions-store",
        "user-state-asof",
        "orders-backlog-daily",
        "documents-jsonl-scan",
        "events-profile",
        "customer-rfm-segments",
        "supplier-pagerank",
        "parts-revenue-shift",
        "daily-metrics-unpivot",
        "attribution-store",
        "events-autocorr",
        "dedup-prefix-filter",
        "split-leakage-audit",
        "orders-theilsen-trend",
        "corpus-mixture-weights",
        "docs-quality-rules",
    ],
)
def test_round7_queries_match_oracle(spark, duck, name):
    spec = REGISTRY[name]
    assert_matches_oracle(spec.fn(spark, SF_SMALL), duck, spec.oracle, name)


def test_compacted_postings_prunes_files(spark, tmp_path):
    """Token-bucketed compaction must turn a term probe into a
    FILE-level prune: the pruned read touches fewer parquet files
    than the compacted table holds (the zorder test discipline
    applied to the postings store)."""
    import glob

    from projet_etl_spark.streaming.postings import (
        TOKEN_BUCKETS,
        compact_postings_store,
        read_postings,
        upsert_postings_batch,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    store = str(tmp_path / "poststore")
    for b in range(3):
        upsert_postings_batch(docs.filter(F.col("doc_id") % 3 == b), b, store)
    before = sorted(
        map(tuple, read_postings(spark, store).collect())
    )

    cov = compact_postings_store(spark, store)
    assert cov == 1  # batches 0,1 folded; newest (2) kept live
    after = sorted(map(tuple, read_postings(spark, store).collect()))
    assert after == before  # layout invariance

    comp_dir = os.path.join(store, "postings_compacted")
    total_files = len(
        glob.glob(os.path.join(comp_dir, "**", "*.parquet"), recursive=True)
    )
    assert total_files >= TOKEN_BUCKETS // 2  # fan-out actually happened
    probe = ["hash", "join"]  # 2 terms -> at most 2 buckets listed
    touched = (
        read_postings(spark, store, terms=probe)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    # pruned read lists <= |probe| buckets of the compacted table
    # (plus the single live batch-2 file)
    assert touched < total_files
    assert touched <= len(probe) + 1

    # and the pruned read still carries every probe-term posting
    full = {
        t for t in before if t[1] in probe
    }
    pruned = {
        tuple(r)
        for r in read_postings(spark, store, terms=probe)
        .filter(F.col("token").isin(probe))
        .collect()
    }
    assert pruned == full


def test_compacted_postings_survive_interrupted_swap(spark, tmp_path):
    """A crash between swap_publish's two renames parks the ONLY copy
    of the compacted table aside. Both the read path and the next
    compaction must recover it BEFORE consulting _COVERED — reading
    the high-water mark first would treat the store as
    never-compacted and rebuild without the folded batches."""
    from projet_etl_spark.streaming.postings import (
        compact_postings_store,
        read_postings,
        upsert_postings_batch,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    store = str(tmp_path / "crashstore")
    for b in range(3):
        upsert_postings_batch(docs.filter(F.col("doc_id") % 3 == b), b, store)
    assert compact_postings_store(spark, store) == 1
    expected = sorted(map(tuple, read_postings(spark, store).collect()))
    comp_dir = os.path.join(store, "postings_compacted")

    # crash window: old table parked, new one never landed
    os.rename(comp_dir, comp_dir + "._precompact")
    assert sorted(map(tuple, read_postings(spark, store).collect())) == expected
    assert os.path.exists(comp_dir)  # read path restored the table

    # same crash immediately before a re-compaction after new data
    upsert_postings_batch(docs.filter(F.col("doc_id") % 3 == 0), 3, store)
    os.rename(comp_dir, comp_dir + "._precompact")
    assert compact_postings_store(spark, store) == 2
    after = sorted(map(tuple, read_postings(spark, store).collect()))
    expected2 = sorted(
        expected
        + list(
            map(
                tuple,
                spark.read.parquet(os.path.join(store, "postings"))
                .filter(F.col("batch") == 3)
                .select("doc_id", "token", "tf")
                .collect(),
            )
        )
    )
    assert after == expected2


# --- wscsv task-temp commit protocol -----------------------------------


def test_wscsv_failed_task_temp_never_visible(spark, tmp_path):
    """A dead task attempt's output (referenced by no commit message)
    must stay invisible to readers — the advisor's partial/duplicate-
    file leak. Append may NOT sweep a foreign temp (it could belong
    to a concurrent append job whose commit still has to rename it);
    overwrite asserts exclusive ownership and reclaims it."""
    from projet_etl_spark.sources.pyds import register

    register(spark)
    out = str(tmp_path / "ws")
    a = spark.createDataFrame([(1,), (2,)], "k long")
    a.write.format("wscsv").mode("overwrite").save(out)

    # simulate another job's failed/speculative attempt's temp file
    orphan = os.path.join(out, ".part-deadbeef.txt.tmp")
    with open(orphan, "w") as fh:
        fh.write("K\n999\n")
    back = spark.read.format("wscsv").schema("k long").load(out)
    assert sorted(r.k for r in back.collect()) == [1, 2]

    # append publishes its own files; the foreign temp stays (its
    # owner's commit must find it) but never becomes visible
    spark.createDataFrame([(3,)], "k long").coalesce(1).write.format(
        "wscsv"
    ).mode("append").save(out)
    assert os.path.exists(orphan)
    back = spark.read.format("wscsv").schema("k long").load(out)
    assert sorted(r.k for r in back.collect()) == [1, 2, 3]

    # overwrite owns the directory outright and reclaims the orphan
    spark.createDataFrame([(4,)], "k long").write.format("wscsv").mode(
        "overwrite"
    ).save(out)
    assert not [f for f in os.listdir(out) if f.endswith(".tmp")]
    back = spark.read.format("wscsv").schema("k long").load(out)
    assert [r.k for r in back.collect()] == [4]


def test_wscsv_append_preserves_existing_files(spark, tmp_path):
    from projet_etl_spark.sources.pyds import register

    register(spark)
    out = str(tmp_path / "ws")
    spark.createDataFrame([(1,)], "k long").write.format("wscsv").mode(
        "overwrite"
    ).save(out)
    spark.createDataFrame([(2,)], "k long").write.format("wscsv").mode(
        "append"
    ).save(out)
    back = spark.read.format("wscsv").schema("k long").load(out)
    assert sorted(r.k for r in back.collect()) == [1, 2]


def test_no_rebound_oracle_constants():
    """A module-level SQL constant defined twice silently rebinds —
    every registration after the second definition gets the WRONG
    oracle (this bit events-asof-click when a new query reused
    _ASOF_SQL). Walk the extensions module AST and fail on any
    duplicate top-level assignment target."""
    import ast
    import collections

    import projet_etl_spark.plans.extensions as ext

    tree = ast.parse(open(ext.__file__).read())
    seen = collections.Counter()
    for node in tree.body:
        if isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    seen[t.id] += 1
    dupes = [n for n, c in seen.items() if c > 1]
    assert not dupes, f"rebound module-level constants: {dupes}"


# --- order-statistic percentile formula (property) ---------------------


def _hundredths_formula(values: list[int], q: int) -> float:
    """Pure-python mirror of the supplier-lead-time / theilsen
    bracketing arithmetic: integer bracket ranks, integer hundredths,
    one final double division."""
    xs = sorted(values)
    n = len(xs)
    lo_idx = (q * (n - 1)) // 100
    k = (q * (n - 1)) % 100
    lo = xs[lo_idx]
    hi = xs[lo_idx + 1] if k > 0 else lo
    return (lo * 100 + (hi - lo) * k) / 100.0


def test_orderstat_formula_matches_numpy_linear():
    """The integer bracket/hundredths formula IS numpy's 'linear'
    interpolated percentile whenever q*(n-1)/100 has an exact
    2-decimal fraction (q in whole percents always does) — pinned by
    hypothesis over random integer samples."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(
        st.lists(st.integers(min_value=-200, max_value=400), min_size=1,
                 max_size=60),
        st.sampled_from([50, 95]),
    )
    def check(values, q):
        got = _hundredths_formula(values, q)
        want = float(np.percentile(np.array(values, dtype="int64"), q,
                                   method="linear"))
        # numpy interpolates in floats, so allow its ulp — the exact
        # formula sits at the true hundredths value by construction
        assert abs(got - want) < 1e-9, (values, q, got, want)

    check()
