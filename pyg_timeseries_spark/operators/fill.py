"""Gap-fill / NaN utilities — all Catalyst-native window expressions.

Semantics match the reference's gap-fill family (SURVEY.md §2.1):
  ffill   /root/reference/src/pyg_timeseries/_rolling.py:649-683 (_ffill1d 65-81)
  bfill   _rolling.py:136-152, 630-646
  fnna    _rolling.py:33-62, 561-597
  na2v    _rolling.py:686-735
  v2na    _rolling.py:738-782
  init2v  _rolling.py:102-113, 787-813
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyg_timeseries_spark.operators._core import KEY, TS, VAL, wspec


def ffill(
    df: DataFrame,
    n: int = 0,
    key: str = KEY,
    ts: str = TS,
    v: str = VAL,
    out: str | None = None,
) -> DataFrame:
    """Forward-fill NULLs per key; ``n>0`` limits the fill run length.

    Reference: _rolling.py:649-683 — state is (prev value, run length i);
    here the state is implicit in ``last(ignorenulls)`` over the unbounded
    preceding frame, which Spark evaluates incrementally in one pass.
    """
    out = out or v
    w = wspec(key, ts).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    filled = F.last(v, ignorenulls=True).over(w)
    if n <= 0:
        return df.withColumn(out, filled)
    # run length since last valid row: group id increments at each non-null,
    # row_number within the group - 1 = consecutive nulls so far.
    grp = F.sum(F.col(v).isNotNull().cast("int")).over(w)
    wg = Window.partitionBy(key, grp).orderBy(ts)
    run = F.row_number().over(wg) - 1
    return df.withColumn(out, F.when(F.col(v).isNotNull() | (run <= n), filled))


def bfill(
    df: DataFrame,
    n: int = -1,
    key: str = KEY,
    ts: str = TS,
    v: str = VAL,
    out: str | None = None,
) -> DataFrame:
    """Backward-fill NULLs per key (forward-looking — deliberately not
    state-aware, matching the reference: _rolling.py:630-646).

    The "first valid at-or-after" edge runs as ``last(ignorenulls)`` over
    a REVERSE-ordered running frame, not first() over [current, UNBOUNDED
    FOLLOWING]: Spark's unbounded-following frame re-evaluates the
    aggregate per row — O(n²) per key (measured 143 s on a 2M-row key at
    sf0.1) — while the reverse running frame is the incremental O(n)
    UnboundedPreceding path at the cost of one extra (descending) sort."""
    out = out or v
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = F.last(v, ignorenulls=True).over(w)
    if n <= 0:
        return df.withColumn(out, filled)
    grp = F.sum(F.col(v).isNotNull().cast("int")).over(w)
    wg = Window.partitionBy(key, grp).orderBy(F.col(ts).desc())
    run = F.row_number().over(wg) - 1
    return df.withColumn(out, F.when(F.col(v).isNotNull() | (run <= n), filled))


def na2v(df: DataFrame, new: float = 0.0, v: str = VAL, out: str | None = None) -> DataFrame:
    """NULL → value (reference _rolling.py:686-735)."""
    return df.withColumn(out or v, F.coalesce(F.col(v), F.lit(float(new))))


def v2na(df: DataFrame, old: float = 0.0, v: str = VAL, out: str | None = None) -> DataFrame:
    """value → NULL (reference _rolling.py:738-782)."""
    return df.withColumn(out or v, F.when(F.col(v) != float(old), F.col(v)))


def init2v(
    df: DataFrame,
    n: int,
    new: float | None = None,
    key: str = KEY,
    ts: str = TS,
    v: str = VAL,
    out: str | None = None,
) -> DataFrame:
    """Replace the first ``n`` *valid* values per key with ``new`` (default
    NULL) — reference _rolling.py:102-113, 787-813."""
    out = out or v
    w = wspec(key, ts).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    valid_rank = F.sum(F.col(v).isNotNull().cast("int")).over(w)
    repl = F.lit(None).cast("double") if new is None else F.lit(float(new))
    return df.withColumn(
        out,
        F.when(F.col(v).isNotNull() & (valid_rank <= n), repl).otherwise(F.col(v)),
    )


def fnna(
    df: DataFrame,
    n: int = 1,
    key: str = KEY,
    ts: str = TS,
    v: str = VAL,
) -> DataFrame:
    """Timestamp of the nth non-NULL observation per key (n<0 counts from the
    end) — reference _rolling.py:33-62, 561-597 returns the positional index;
    in long format the natural identifier is the timestamp.

    Returns one row per key: (key, ts).
    """
    valid = df.filter(F.col(v).isNotNull())
    if n >= 0:
        w = wspec(key, ts)
        rn, target = F.row_number().over(w), n
    else:
        w = Window.partitionBy(key).orderBy(F.col(ts).desc())
        rn, target = F.row_number().over(w), -n
    return (
        valid.withColumn("_rn", rn)
        .filter(F.col("_rn") == target)
        .select(key, ts)
    )


def fnnz(
    df: DataFrame,
    n: int = 1,
    key: str = KEY,
    ts: str = TS,
    v: str = VAL,
) -> DataFrame:
    """Timestamp of the nth non-zero (and non-NULL) observation per key
    (reference _rolling.py:561-597, fnnz)."""
    nz = df.filter(F.col(v).isNotNull() & (F.col(v) != 0))
    return fnna(nz, n=n, key=key, ts=ts, v=v)


def fnna_like(
    target: DataFrame,
    source: DataFrame,
    key: str = KEY,
    ts: str = TS,
    v: str = VAL,
    source_v: str | None = None,
) -> DataFrame:
    """NULL-out target rows before the source's first valid observation per
    key — copying the leading-NaN pattern (reference _pandas.py:6-64)."""
    first_valid = fnna(source, 1, key=key, ts=ts, v=source_v or v).select(
        key, F.col(ts).alias("_first_ts")
    )
    out = target.join(F.broadcast(first_valid), on=key, how="left")
    return out.withColumn(
        v,
        F.when(
            F.col("_first_ts").isNull() | (F.col(ts) < F.col("_first_ts")),
            F.lit(None),
        ).otherwise(F.col(v)),
    ).drop("_first_ts")


def ewfill(
    df: DataFrame,
    fwd_n: float,
    bwd_n: float | None = None,
    decay_target: float = 0.0,
    key: str = KEY,
    ts: str = TS,
    v: str = VAL,
    out: str | None = None,
) -> DataFrame:
    """Two-sided exponential-decay fill toward ``decay_target`` (reference
    _rolling.py:155-179, 600-626) — per-key vectorized numpy kernel under
    applyInPandas (inherently forward+backward, not window-expressible);
    ``out`` defaults to ``v``, replaced in place."""
    from pyg_timeseries_spark.kernels.recurrence_numpy import ewfill as kernel
    from pyg_timeseries_spark.operators._core import f64, kernel_map

    return kernel_map(df, key, ts, [out or v], lambda pdf, _: kernel(
        f64(pdf, v), fwd_n, bwd_n, decay_target))


def interp(
    df: DataFrame,
    key: str = KEY,
    ts: str = TS,
    v: str = VAL,
    out: str | None = None,
) -> DataFrame:
    """Linear time-weighted interpolation of interior NULL runs per key:
    a missing row between valid neighbours (t0, x0) and (t1, x1) gets
    x0 + (x1 - x0) · (t - t0)/(t1 - t0) with exact integer-µs time
    arithmetic (functions/timeutil.py — NTZ-safe, DST-proof).  Leading
    and trailing NULLs (no neighbour on one side) stay NULL — the
    bounded analog of pandas ``interpolate(method='time')``.

    Complements :func:`ffill`/:func:`bfill`/:func:`ewfill` (SURVEY.md
    §2.1 gap-fill family).  Plan shape: forward running-edge window +
    REVERSE-ordered running-edge window (never [current, UNBOUNDED
    FOLLOWING] — Spark re-evaluates that frame per row, O(n²) per key;
    measured 143 s vs <1 s at sf0.1) — one Exchange + two sorts; no
    join, no Python."""
    from pyg_timeseries_spark.functions.timeutil import ts_us

    out = out or v
    us = ts_us(df, ts)
    wb = wspec(key, ts).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = F.col(v)
    vus = F.when(c.isNotNull(), us)
    pv = F.last(v, ignorenulls=True).over(wb)
    pt = F.last(vus, ignorenulls=True).over(wb)
    nv = F.last(v, ignorenulls=True).over(wf)
    nt = F.last(vus, ignorenulls=True).over(wf)
    frac = (us - pt).cast("double") / (nt - pt).cast("double")
    filled = F.when(c.isNotNull(), c).otherwise(
        F.when(pv.isNotNull() & nv.isNotNull(), pv + (nv - pv) * frac)
    )
    return df.withColumn(out, filled)


def to_grid(
    df: DataFrame,
    step_s: float,
    key: str = KEY,
    ts: str = TS,
    v: str = VAL,
    obs_ts: str = "obs_ts",
) -> DataFrame:
    """Regular-grid upsample: per key, emit one row every ``step_s``
    seconds on the epoch-anchored grid, from the first grid line AT OR
    AFTER the first valid observation through the last observation, each
    carrying the as-of (latest at-or-before) value and its observation
    timestamp — the long-format rendition of "resample to a regular
    index then ffill" for irregular feeds.

    Scale shape: the grid generates from a tiny per-key (min, max)
    aggregate via sequence+explode (rows ∝ output, never a driver loop),
    and values attach with :func:`operators.align.asof_join` — the
    union + single-window as-of, one Exchange, no range join.  Exact
    integer-µs arithmetic throughout; grid timestamps come back via
    timestamp_add on the key's own first timestamp (NTZ-safe, the
    time_bucket_col convention)."""
    from pyg_timeseries_spark.functions.timeutil import us_expr_for_type
    from pyg_timeseries_spark.operators.align import asof_join

    step_us = int(round(step_s * 1_000_000))
    if step_us < 1:
        raise ValueError("step_s must be >= 1µs")
    valid = df.filter(F.col(v).isNotNull())
    b = valid.groupBy(key).agg(
        F.min(ts).alias("__t0"), F.max(ts).alias("__t1")
    )
    us_of = us_expr_for_type(df.schema[ts].dataType)
    u0, u1 = us_of(F.col("__t0")), us_of(F.col("__t1"))
    start_off = F.pmod(F.lit(step_us) - F.pmod(u0, F.lit(step_us)), F.lit(step_us))
    nsteps = F.floor((u1 - (u0 + start_off)) / F.lit(step_us)).cast("long")
    grid = (
        b.select(key, "__t0", start_off.alias("__so"), nsteps.alias("__n"))
        # sequence(0, n) with n < 0 would generate a DESCENDING sequence —
        # a key whose span holds no grid line emits nothing instead
        .filter(F.col("__n") >= 0)
        .select(
            key, "__t0", "__so",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("__n"))).alias("__k"),
        )
        .select(
            key,
            F.timestamp_add(
                "MICROSECOND",
                (F.col("__k") * F.lit(step_us) + F.col("__so")).cast("long"),
                F.col("__t0"),
            ).alias(ts),
        )
    )
    out = asof_join(grid, valid.select(key, ts, v), key=key, ts=ts,
                    right_cols=[v])
    return (
        out.withColumnRenamed(f"{v}_r", v)
        .withColumnRenamed("__asof_ts", obs_ts)
    )
