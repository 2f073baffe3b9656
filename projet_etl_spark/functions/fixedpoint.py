"""Exact fixed-point (integer-units) money aggregation.

Why this exists — measured on this engine (sf0.1 lineitem, 600 k
rows, local[32], fresh plans): the 6-sum DECIMAL(18,4) hash
aggregate of the pricing-summary query runs in 1.86 s while the
identical aggregation over integer units runs in 0.76 s (2.4×).
Spark's ``sum(DECIMAL(18,4))`` carries a DECIMAL(28,4) buffer — past
the 18-digit long-backed fast path — so every row update does
BigDecimal arithmetic plus byte-array (de)serialization in the
UnsafeRow aggregation buffer, outside any fast primitive path. The
fix is the discipline high-performance engines use for money
(DuckDB sums decimals in int128; operators/kmeans.py already runs
Lloyd iterations in 1e-6 fixed point): do the hot per-row work in
64-bit integers and reconstruct exact decimals from a handful of
partials.

Three-step shape
----------------
1. **Integerize once per row.** A d-dp money value becomes integer
   "units" ``value × 10^d`` via :func:`units` (a float multiply +
   floor — exact because the doubles sit on the d-dp grid with
   ~1e-9 error, see the proof in ``units``). Derived quantities
   (discounted price, squared moments, …) are then *products of
   longs*: exact integers, no per-row rounding question at all.
2. **Partial-sum per (keys, block).** ``block =
   shiftright(monotonically_increasing_id(), b)``: monotonic ids
   are sequential per partition, so a block holds at most 2^b rows
   and every partial is bounded by ``2^b · max_units ≤ 2^60`` (4×
   headroom under 2^63). Overflow is impossible **by
   construction**, not by hoping the data is small; ``b`` derives
   from the caller's per-row unit bound (capped at 33, the id
   layout's per-partition sequence width).
3. **Merge partials exactly.** The per-group merge sums the few
   partials as DECIMAL(38,0) — exact, overflow-checked by Spark —
   and divides by ``10^scale``; the quotient has ≤ ``scale``
   fractional digits so the division is exact in the result type.

The block key is row-order dependent, but the final sums are
invariant to block assignment (integer addition is associative and
commutative), so results are bit-identical at any parallelism and
match a DECIMAL-summing DuckDB oracle exactly.

Domain condition for PRODUCT sums: an integer unit product equals
the DECIMAL(·,4) snap of the double product only while the product
magnitude stays under ~4.5e11 in value — above that, the double
product's own rounding error exceeds the half-grid snap radius
(0.5e-4) and the two legitimately diverge. The engine's largest
product is lineitem price² ≈ 1.1e10, a 40× margin; star.py's bound
constants and tests/test_fixedpoint.py pin this.

Plan shape: scan → hash-agg(keys, block) [long buffers, whole-stage
codegen] → exchange → hash-agg(keys, block) → exchange(keys) →
final merge. Versus the single DECIMAL aggregate this adds one
exchange carrying only the per-block partials (groups × blocks
rows) — negligible against the scan at any scale, and AQE coalesces
it. At 100 TB the win compounds: the hot path is long arithmetic
inside whole-stage codegen on every executor, and the DECIMAL work
is proportional to the number of partials, not the number of rows.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["UnitSum", "units", "fixed_point_agg"]

_BLOCK_COL = "__fxp_blk"
# monotonically_increasing_id: partition id << 33 | per-partition seq
_MAX_BLOCK_BITS = 33
_HEADROOM_BITS = 3  # partial bound 2^60, 8x under long overflow


def units(col: Column | str, decimals: int = 2) -> Column:
    """Integerize a ``decimals``-dp numeric column into long units.

    Exactness: the source doubles are the nearest-double
    representations of d-dp values ``k / 10^d``. ``x * 10^d``
    evaluated in double arithmetic lands within
    ``|k| · 2^-51 + 0.5 ulp`` of the integer ``k`` — about 1e-6 for
    9-digit unit magnitudes, vastly inside the 0.5 snap radius — so
    ``floor(x·10^d + 0.5)`` recovers ``k`` exactly for either sign
    (for negative x the +0.5 offset still snaps to the nearest
    integer because the error is ≪ 0.5). This matches
    ``CAST(x AS DECIMAL(·,d))`` in both Spark and DuckDB on every
    on-grid value, with no BigDecimal per row.

    Columns that are NOT on a d-dp grid must not use this helper —
    snap them with an explicit decimal cast first (the grid
    assumption is pinned per table by tests/test_fixedpoint.py).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * F.lit(float(10**decimals)) + F.lit(0.5)).cast("long")


@dataclass(frozen=True)
class UnitSum:
    """One exact sum: ``alias`` = Σ ``unit_expr`` / 10^``scale``.

    ``max_units`` is the caller's per-row |units| bound (domain
    knowledge, e.g. extendedprice < 10^7 value → < 10^11 units at
    scale 4); it sizes the overflow-proof row blocks. A loose bound
    only costs smaller blocks (more partials), never correctness.
    """

    alias: str
    unit_expr: Column
    scale: int
    max_units: int


def _block_bits(sums: Sequence[UnitSum]) -> int:
    bits = _MAX_BLOCK_BITS
    for s in sums:
        if s.max_units <= 0:
            raise ValueError(f"{s.alias}: max_units must be positive")
        # 2^b * max_units <= 2^(63 - _HEADROOM_BITS)
        allowed = (63 - _HEADROOM_BITS) - int(s.max_units).bit_length()
        bits = min(bits, allowed)
    if bits < 0:
        raise ValueError("per-row unit bound too large for long partials")
    return bits


def fixed_point_agg(
    df: DataFrame,
    keys: Sequence[str],
    sums: Sequence[UnitSum],
    counts: Iterable[tuple[str, Column | None]] = (),
    mins: Iterable[tuple[str, Column]] = (),
    maxs: Iterable[tuple[str, Column]] = (),
    final: str = "groupBy",
) -> DataFrame:
    """Two-level exact aggregation over integer units.

    ``sums`` become exact DECIMAL value columns (callers cast to
    double / narrower decimals — both exact single roundings).
    ``counts`` are ``(alias, optional condition)`` row counts (long);
    ``mins``/``maxs`` pass through (both compose across levels).
    ``final`` picks the second-level grouping: ``groupBy`` |
    ``rollup`` | ``cube`` — rollup/cube run on the pre-reduced
    partials, so every cell is still an exact integer-unit sum.
    """
    sums = list(sums)
    counts = list(counts)
    mins = list(mins)
    maxs = list(maxs)
    bits = _block_bits(sums) if sums else _MAX_BLOCK_BITS

    partial_aggs: list[Column] = []
    for s in sums:
        partial_aggs.append(F.sum(s.unit_expr).alias(f"__u_{s.alias}"))
    if sums:
        # runtime bound guard: the overflow proof rests on the caller's
        # max_units — a declared bound that understates the data would
        # let the long partials wrap SILENTLY under non-ANSI sum. Count
        # violating rows in the same partial pass and fail loudly at
        # the merge. ONE OR-fused counter for all sums: a buffer per
        # sum costs N extra aggregation-buffer updates per row
        # (measured ~11% on the 6-sum pricing query, docs/SCALE.md).
        viol = F.lit(False)
        for s in sums:
            viol = viol | (F.abs(s.unit_expr) > F.lit(int(s.max_units)))
        partial_aggs.append(
            F.sum(F.when(viol, 1).otherwise(0)).cast("long").alias("__v_all")
        )
    for alias, cond in counts:
        expr = (
            F.count(F.lit(1))
            if cond is None
            else F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0)))
        )
        partial_aggs.append(expr.cast("long").alias(f"__c_{alias}"))
    for alias, col in mins:
        partial_aggs.append(F.min(col).alias(f"__mn_{alias}"))
    for alias, col in maxs:
        partial_aggs.append(F.max(col).alias(f"__mx_{alias}"))
    if not partial_aggs:
        raise ValueError("nothing to aggregate")

    block = F.shiftright(F.monotonically_increasing_id(), bits).alias(_BLOCK_COL)
    partial = df.groupBy(*[F.col(k) for k in keys], block).agg(*partial_aggs)

    final_aggs: list[Column] = []
    for s in sums:
        acc = F.sum(F.col(f"__u_{s.alias}").cast("decimal(38,0)"))
        if s.scale:
            acc = acc / F.lit(10**s.scale)
        final_aggs.append(acc.alias(s.alias))
    if sums:
        final_aggs.append(
            F.coalesce(F.sum("__v_all"), F.lit(0).cast("long")).alias("__v_all")
        )
    for alias, _ in counts:
        # COUNT over an empty global aggregate is 0, not null — the
        # partial level can contribute zero rows
        final_aggs.append(
            F.coalesce(F.sum(f"__c_{alias}"), F.lit(0).cast("long")).alias(alias)
        )
    for alias, _ in mins:
        final_aggs.append(F.min(f"__mn_{alias}").alias(alias))
    for alias, _ in maxs:
        final_aggs.append(F.max(f"__mx_{alias}").alias(alias))

    if final == "groupBy":
        grouped = partial.groupBy(*keys)
    elif final == "rollup":
        grouped = partial.rollup(*keys)
    elif final == "cube":
        grouped = partial.cube(*keys)
    else:
        raise ValueError(f"unknown final grouping {final!r}")
    result = grouped.agg(*final_aggs)

    # surface the guard: each sum column raises (assert_true) when
    # its group saw any |units| > max_units row, and the __v columns
    # never leave this function. assert_true returns NULL on pass,
    # so the WHEN wrapper is the identity on the happy path.
    sum_aliases = {s.alias for s in sums}
    out_cols: list[Column] = []
    for c in result.columns:
        if c.startswith("__v_"):
            continue
        if c not in sum_aliases:
            out_cols.append(F.col(c))
            continue
        chk = F.assert_true(
            F.col("__v_all") == F.lit(0),
            F.lit(
                "fixed_point_agg: at least one row exceeded its "
                "sum's declared max_units — a per-row unit bound "
                "understates the data and the long partials may "
                "have wrapped; raise the offending max_units "
                "(smaller blocks merely add partials, never lose "
                "exactness)"
            ),
        )
        out_cols.append(F.when(chk.isNull(), F.col(c)).alias(c))
    return result.select(*out_cols)
