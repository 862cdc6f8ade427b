"""Distributed time-series alignment primitives.

These re-express the reference's explicit Python loops
(/root/reference/traval/ts_utils.py:234-287, 368-388) as pure window/join
formulations: the loops become ``last(..., ignorenulls)`` /
``first(..., ignorenulls)`` over per-series ordered windows, so they scale
to arbitrarily many series with exactly one shuffle on ``series_id`` and
never collect to the driver.

Long-frame convention used across the engine (SURVEY.md §1.1):

- ``series_id`` string — one reference ``pd.Series`` per id
- ``ts`` timestamp — tz-naive (session TZ pinned to UTC)
- one or more double value columns

A *flagged* value is a present row with NULL value; a true gap is an
absent row (SURVEY.md §1.4 — load-bearing for comparison semantics).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SID = "series_id"
TS = "ts"

#: microseconds per second — window range frames operate on unix micros
US = 1_000_000


def gap_micros(max_gap: str) -> int:
    """Parse a pandas-style frequency string ("7D", "1s") to microseconds.

    Exact integer path (Timedelta.value is nanoseconds): the earlier
    ``total_seconds() * 1e6`` float round-trip could misround sub-ms
    gaps."""
    return int(pd.Timedelta(max_gap).value // 1_000)


def unix_us(col: Column | str) -> Column:
    """Epoch microseconds of a timestamp column, NTZ-safe.

    Parquet sources deliver TIMESTAMP_NTZ (the reference's tz-naive model);
    ``unix_micros`` only accepts TIMESTAMP, so cast first — value-preserving
    because the session timezone is pinned to UTC (session.py).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def with_unix_micros(df: DataFrame, col: str = TS, out: str = "__us") -> DataFrame:
    """Add an integer unix-microseconds column for range-frame windows."""
    return df.withColumn(out, unix_us(col))


def ensure_ntz(df: DataFrame, col: str = TS) -> DataFrame:
    """Canonicalize the ts column to TIMESTAMP_NTZ.

    The engine's timestamps are tz-naive like the reference's
    (ruleset.py:66-67 strips tz on load); parquet scans already deliver NTZ,
    while pandas-built frames arrive as TIMESTAMP — normalizing at every
    join/union boundary keeps plans analyzable and joins key-compatible.
    Lossless: the session timezone is pinned to UTC.
    """
    return df.withColumn(col, F.col(col).cast("timestamp_ntz"))


def series_window() -> Window:
    """Per-series ordered window: the engine's canonical window spec.

    All window rules share this spec so Catalyst plans them in a single
    Window physical node over one exchange+sort on ``series_id``.
    """
    return Window.partitionBy(SID).orderBy(TS)


CHUNK = "__chunk"
HALO = "__halo"


def with_chunks(
    df: DataFrame, chunk: str, halo: str, trailing_only: bool = False
) -> DataFrame:
    """Explode rows into (chunk_id, is_halo) copies for chunked windows.

    Skew weapon for gap-aware window rules: a series window partitioned
    only by series_id puts a hot series on ONE task. Gap-aware rules
    (diff/spike with max_gap) cannot see past ``max_gap`` — every diff
    across a larger gap is NULLed — so evaluating them per
    (series_id, time-chunk) with a ``halo`` = max_gap of duplicated
    boundary rows is EXACT (asserted by test_chunked_equals_unchunked)
    while multiplying the window parallelism by the chunk count.

    Each row lands in its own chunk (halo=false) and additionally in the
    previous/next chunk (halo=true) when within ``halo`` of the boundary.
    Callers window over (series_id, __chunk), then drop halo rows.

    Implementation note: three filtered unioned branches, fully
    whole-stage-codegen'd. An explode() formulation reads the input once
    instead of three times, but Generate+Window measured wildly unstable
    (10-60s swings on identical 2.7M-row inputs) while the union is
    consistently ~4x faster than the skewed unchunked window; the halo
    branches select only the ~2*halo/chunk fraction of rows, and on
    date-partitioned storage they partition-prune.
    """
    cu = gap_micros(chunk)
    hu = gap_micros(halo)
    if hu > cu:
        raise ValueError("halo must be <= chunk width")
    us = unix_us(TS)
    cid = F.floor(us / F.lit(cu)).cast("bigint")
    pos = us - cid * F.lit(cu)
    base = df.withColumn(CHUNK, cid).withColumn(HALO, F.lit(False))
    to_next = (
        df.filter(pos >= F.lit(cu - hu))
        .withColumn(CHUNK, cid + 1)
        .withColumn(HALO, F.lit(True))
    )
    if trailing_only:
        # trailing-window consumers (rolling median/std over (t-w, t]) only
        # need history BEFORE each chunk: skip the forward-halo branch and
        # its extra input scan entirely
        return base.unionByName(to_next)
    to_prev = (
        df.filter(pos < F.lit(hu))
        .withColumn(CHUNK, cid - 1)
        .withColumn(HALO, F.lit(True))
    )
    return base.unionByName(to_prev).unionByName(to_next)


def chunked_series_window() -> Window:
    """Per-(series, chunk) ordered window — pairs with :func:`with_chunks`."""
    return Window.partitionBy(SID, CHUNK).orderBy(TS)


def diff_with_gap_awareness(
    df: DataFrame, in_col: str, max_gap: str = "7D", w: Window | None = None
) -> Column:
    """First difference with NULL where the gap to the previous obs > max_gap.

    Re-expresses /root/reference/traval/ts_utils.py:264-287 (``series.diff()``
    followed by a Python loop NaN-ing post-gap diffs) as lag expressions.
    ``w`` overrides the window spec (chunked evaluation, see with_chunks).
    """
    if w is None:
        w = series_window()
    lag_v = F.lag(F.col(in_col)).over(w)
    lag_ts = F.lag(F.col(TS)).over(w)
    diff = F.col(in_col) - lag_v
    gap_us = gap_micros(max_gap)
    too_far = (unix_us(TS) - unix_us(lag_ts)) > F.lit(gap_us)
    return F.when(too_far, F.lit(None).cast("double")).otherwise(diff)


def _tag_union(df: DataFrame, aux: DataFrame, aux_col: str) -> DataFrame:
    """Union main rows (tagged 1) with aux series rows (tagged 0).

    The aux frame must have columns (series_id, ts, <value>). The main
    frame's payload columns ride THROUGH the union (aux rows get NULLs via
    allowMissingColumns) so callers can filter back to main rows after the
    window pass with no join — one shuffle total, no sort-merge join back.
    """
    main = (
        ensure_ntz(df)
        .withColumn("__is_main", F.lit(1))
        .withColumn("__aux", F.lit(None).cast("double"))
    )
    side = ensure_ntz(aux).select(
        F.col(SID),
        F.col(TS),
        F.lit(0).alias("__is_main"),
        F.col(aux_col).cast("double").alias("__aux"),
    )
    return main.unionByName(side, allowMissingColumns=True)


def align_resample_ffill_bfill(
    df: DataFrame, aux: DataFrame, aux_col: str, out: str
) -> DataFrame:
    """Resample a sparse aux series onto the main series index.

    Semantics of /root/reference/traval/ts_utils.py:234-261
    (``resample_short_series_to_long_series``): each short value lands on the
    first main timestamp >= its own; later shorts overwrite earlier ones at
    the same landing spot; then ffill, then bfill. That reduces exactly to:

    - forward value at a main row = last aux value with aux_ts <= ts
    - rows before any aux get the first main row's forward value (bfill
      computed over *main rows only* — an aux row's own value is not a
      valid bfill source because a later aux may overwrite its landing).

    Returns the main df with a new double column ``out``. Distributed: one
    union + two ordered windows per series; no driver loop.
    """
    df = ensure_ntz(df)
    u = _tag_union(df, aux, aux_col)
    # aux rows sort before main rows at equal ts => equal-ts aux is visible
    w_fwd = (
        Window.partitionBy(SID)
        .orderBy(TS, "__is_main")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = u.withColumn("__fwd", F.last("__aux", ignorenulls=True).over(w_fwd))
    main = u.filter(F.col("__is_main") == 1)
    # bfill as a DESC running frame: first-non-null-after == last-non-null
    # in reverse order. Never use first() over (current..unboundedFollowing)
    # — Spark evaluates that frame by rescanning the partition tail per row
    # (O(n^2)); the reversed running frame is O(n).
    w_bwd = (
        Window.partitionBy(SID)
        .orderBy(F.col(TS).desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    main = main.withColumn(
        out, F.coalesce(F.col("__fwd"), F.last("__fwd", ignorenulls=True).over(w_bwd))
    )
    return main.drop("__is_main", "__aux", "__fwd")


def align_interpolate_specs(
    df: DataFrame, specs: list[tuple[DataFrame, list[tuple[str, str]]]]
) -> DataFrame:
    """Linearly interpolate N sparse aux series to the main index in ONE pass.

    ``specs`` is ``[(aux_df, [(aux_col, out), ...]), ...]``: each aux frame
    contributes one union leg; each (aux_col, out) pair becomes an output
    column on the main frame. A caller holding BOTH interval bounds on one
    frame passes a single spec with two column pairs — the bounds plan then
    executes exactly once (one union leg) instead of once per bound, and all
    prev/next tracking shares one exchange + two sorts. Semantics per column
    match :func:`align_interpolate` (np.interp with left=right=NaN,
    ts_utils.py:368-388); a NULL aux value in a leg means "no observation of
    that column at this timestamp" (rows contributed by the other column of
    a joint frame), tracked per column via ignorenulls.

    Contract: aux timestamps must be UNIQUE per (series, column). With a
    duplicated timestamp np.interp's result depends on the duplicates'
    physical ARRAY positions — information a distributed table does not
    have (set semantics) — so the reference quirk is unreplicable by
    construction; this implementation picks one duplicate per window
    tie-break. Dedupe upstream (e.g. keep-last) for defined behavior.
    """
    df = ensure_ntz(df)
    slots = [out for _, pairs in specs for _, out in pairs]
    u = df.withColumn("__is_main", F.lit(1))
    for s in slots:
        u = u.withColumn(f"__aux_{s}", F.lit(None).cast("double"))
    for aux, pairs in specs:
        leg = ensure_ntz(aux).select(
            F.col(SID),
            F.col(TS),
            F.lit(0).alias("__is_main"),
            *[
                F.col(c).cast("double").alias(f"__aux_{out}")
                for c, out in pairs
            ],
        )
        u = u.unionByName(leg, allowMissingColumns=True)
    u = u.withColumn("__usec", unix_us(TS).cast("double"))

    # previous aux at <= ts (aux first at ties)
    w_prev = (
        Window.partitionBy(SID)
        .orderBy(TS, "__is_main")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # next aux at >= ts: reversed running frame (see bfill note above —
    # forward-looking first() frames are O(n^2)). Ordering (ts desc,
    # is_main asc) scans equal-ts aux rows before the main row, so an aux
    # at exactly ts counts as "next" — same tie rule as the asc variant.
    w_next = (
        Window.partitionBy(SID)
        .orderBy(F.col(TS).desc(), "__is_main")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    helpers = ["__is_main", "__usec"]
    for s in slots:
        a = F.col(f"__aux_{s}")
        a_us = F.when((F.col("__is_main") == 0) & a.isNotNull(),
                      F.col("__usec"))
        u = (
            u.withColumn(f"__pv_{s}", F.last(a, ignorenulls=True).over(w_prev))
            .withColumn(f"__pt_{s}", F.last(a_us, ignorenulls=True).over(w_prev))
            .withColumn(f"__nv_{s}", F.last(a, ignorenulls=True).over(w_next))
            .withColumn(f"__nt_{s}", F.last(a_us, ignorenulls=True).over(w_next))
        )
        helpers += [f"__aux_{s}", f"__pv_{s}", f"__pt_{s}",
                    f"__nv_{s}", f"__nt_{s}"]
    t = F.col("__usec")
    for s in slots:
        pv, pt = F.col(f"__pv_{s}"), F.col(f"__pt_{s}")
        nv, nt = F.col(f"__nv_{s}"), F.col(f"__nt_{s}")
        interp = F.when(t == pt, pv).otherwise(
            pv + (nv - pv) * (t - pt) / (nt - pt)
        )
        # outside the hull either prev or next is missing -> NULL (np.interp
        # left=right=NaN); NULL arithmetic already propagates, the when()
        # guards the division-by-zero at exact hits only.
        u = u.withColumn(s, interp)
    return u.filter(F.col("__is_main") == 1).drop(*helpers)


def align_interpolate(
    df: DataFrame, aux: DataFrame, aux_col: str, out: str
) -> DataFrame:
    """Linearly interpolate a sparse aux series to the main index.

    Semantics of /root/reference/traval/ts_utils.py:368-388
    (``np.interp`` on int64-ns index with left=right=NaN): NULL strictly
    outside the aux hull, exact aux value at coinciding timestamps, linear
    in time between the surrounding aux points. Single-series convenience
    wrapper over :func:`align_interpolate_specs`.
    """
    return align_interpolate_specs(df, [(aux, [(aux_col, out)])])


def bandwidth_moving_avg_n_sigma(
    df: DataFrame, in_col: str, window: int, n: float
) -> DataFrame:
    """Rolling(window).mean() +/- n * global std bandwidth columns.

    Re-expresses /root/reference/traval/ts_utils.py:343-365: the rolling
    mean uses a rows-frame of exactly ``window`` observations (pandas
    min_periods defaults to the window size -> NULL until filled); the
    sigma term is the whole-series std (ddof=1).
    """
    w_roll = (
        Window.partitionBy(SID).orderBy(TS).rowsBetween(-(window - 1), 0)
    )
    w_all = Window.partitionBy(SID).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cnt = F.count(F.col(in_col)).over(w_roll)
    avg = F.when(cnt >= window, F.avg(F.col(in_col)).over(w_roll))
    nstd = F.stddev_samp(F.col(in_col)).over(w_all) * F.lit(float(n))
    return df.withColumn(f"lower_{n}_sigma", avg - nstd).withColumn(
        f"upper_{n}_sigma", avg + nstd
    )


def create_synthetic_raw_time_series(
    raw: DataFrame, truth: DataFrame, comments: DataFrame | None = None
) -> DataFrame:
    """Truth values replaced by raw values wherever a comment labels them.

    Re-expresses /root/reference/traval/ts_utils.py:417-453: restrict to
    timestamps where raw is present non-NULL AND truth has a row (index
    intersection of raw.dropna() with truth); where the comment is
    non-empty take the raw value, else the truth value. ``comments`` may
    be a separate (series_id, ts, comment) frame or already a ``comment``
    column of truth.
    """
    t = ensure_ntz(truth)
    if comments is not None:
        t = t.join(
            ensure_ntz(comments).select(
                SID, TS, F.col(comments.columns[-1]).alias("comment")
            ),
            on=[SID, TS],
            how="left",
        )
    r = ensure_ntz(raw).filter(F.col("value").isNotNull()).select(
        SID, TS, F.col("value").alias("__raw")
    )
    j = t.join(r, on=[SID, TS], how="inner")  # index intersection
    commented = F.coalesce(F.col("comment"), F.lit("")) != ""
    out = F.when(commented, F.col("__raw")).otherwise(F.col("value"))
    return j.select(SID, TS, out.alias("value"), "comment")


# ---------------------------------------------------------------------------
# bound smoothing (pastas-PI adapter helpers)
# ---------------------------------------------------------------------------


def shift_series_forward_backward(
    b: DataFrame, col: str | list[str] = "value", freqstr: str = "1D"
) -> DataFrame:
    """Three-column (bwd, orig, fwd) frame on the union of shifted indices.

    Re-expresses /root/reference/traval/ts_utils.py:456-461: the backward
    column holds s[t + delta] at time t, the forward column s[t - delta];
    rows exist at every shifted timestamp. ``freqstr`` follows pandas
    Timedelta semantics ("2h" = 2 hours) — NOTE the reference's own parser
    (ts_utils.py:457-458) degenerates any numeric prefix to DAYS ("2h" ->
    2 days); for the canonical "1D"/"nD" usage both agree.

    One explode + one partial-agg pivot per series; no driver work. Each
    input row generates its three (shifted-ts, tag) copies via a single
    ``explode`` — the source plan (at scale: the bounds table scan)
    executes ONCE, where a 3-leg union would read it three times.

    ``col`` may also be a LIST of columns: all are shifted in the SAME
    explode+pivot pass (output columns ``{c}_bwd/{c}_orig/{c}_fwd``) —
    per-column results are identical to separate calls (same row set,
    same pivot), but a caller holding N columns on one time grid (e.g.
    both prediction-interval bounds) re-executes its source plan once
    instead of N times.
    """
    us = gap_micros(freqstr)
    b = ensure_ntz(b)
    iv = F.expr(f"INTERVAL {us} MICROSECONDS")
    cols = [col] if isinstance(col, str) else list(col)

    shifted = F.explode(
        F.array(
            F.struct((F.col(TS) - iv).alias(TS), F.lit(0).alias("__k")),
            F.struct(F.col(TS).alias(TS), F.lit(1).alias("__k")),
            F.struct((F.col(TS) + iv).alias(TS), F.lit(2).alias("__k")),
        )
    )
    tagged = b.select(
        SID, shifted.alias("__e"),
        *[F.col(c).cast("double").alias(f"__v_{c}") for c in cols],
    ).select(
        SID, F.col(f"__e.{TS}").alias(TS), F.col("__e.__k").alias("__k"),
        *[f"__v_{c}" for c in cols],
    )
    aggs = []
    for c in cols:
        v = F.col(f"__v_{c}")
        prefix = "" if isinstance(col, str) else f"{c}_"
        aggs += [
            F.max(F.when(F.col("__k") == 0, v)).alias(f"{prefix}bwd"),
            F.max(F.when(F.col("__k") == 1, v)).alias(f"{prefix}orig"),
            F.max(F.when(F.col("__k") == 2, v)).alias(f"{prefix}fwd"),
        ]
    return tagged.groupBy(SID, TS).agg(*aggs)


def positional_interpolate_specs(
    df: DataFrame,
    pairs: list[tuple[str, str]],
    members: dict[str, Column] | None = None,
) -> DataFrame:
    """pandas ``Series.interpolate(method='linear')`` semantics per series
    for N columns in ONE pass: interior NULL runs linearly interpolated by
    POSITION (row rank, not time), leading NULLs stay NULL, trailing NULLs
    clamp to the last value (np.interp right-edge + forward fill direction
    — asserted against pandas in tests).

    ``pairs`` = [(in_col, out_col), ...]. All forward scans share one
    Window node and all backward scans another (identical specs), so the
    plan carries exactly one asc and one desc sorted pass regardless of N
    — N separate calls would stack 2N alternating sort chains.

    ``members`` (optional, keyed by out_col): a boolean Column marking
    which rows belong to that column's OWN pandas frame. Interpolation is
    rank-based, so on a frame that is a UNION of several columns' grids
    (the joint pastas-PI shift frame) the other columns' rows would
    otherwise act as extra anchors between a column's own points and
    change its interpolated values. With a member mask the rank is the
    running count of member rows only — exactly the row numbering the
    column would have in its own frame. Output at non-member rows is
    undefined (callers drop them). Default: every row is a member.
    """
    w_ord = Window.partitionBy(SID).orderBy(TS)
    w_fwd = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_bwd = (
        Window.partitionBy(SID)
        .orderBy(F.col(TS).desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    members = members or {}
    helpers = []
    shared_rn = None  # member-less pairs share ONE row_number column
    for col, out in pairs:
        m = members.get(out)
        if m is None:
            if shared_rn is None:
                shared_rn = "__rn"
                df = df.withColumn(shared_rn, F.row_number().over(w_ord))
                helpers.append(shared_rn)
            df = df.withColumn(f"__rn_{out}", F.col(shared_rn))
        else:
            df = df.withColumn(
                f"__rn_{out}", F.sum(m.cast("long")).over(w_fwd)
            )
        helpers.append(f"__rn_{out}")
    for col, out in pairs:
        v = F.col(col)
        rn_if = F.when(v.isNotNull(), F.col(f"__rn_{out}"))
        df = (
            df.withColumn(f"__pv_{out}", F.last(v, ignorenulls=True).over(w_fwd))
            .withColumn(f"__pr_{out}", F.last(rn_if, ignorenulls=True).over(w_fwd))
        )
    for col, out in pairs:
        v = F.col(col)
        rn_if = F.when(v.isNotNull(), F.col(f"__rn_{out}"))
        df = (
            df.withColumn(f"__nv_{out}", F.last(v, ignorenulls=True).over(w_bwd))
            .withColumn(f"__nr_{out}", F.last(rn_if, ignorenulls=True).over(w_bwd))
        )
    for _col, out in pairs:
        rn = F.col(f"__rn_{out}").cast("double")
        pv, pr = F.col(f"__pv_{out}"), F.col(f"__pr_{out}")
        nv, nr = F.col(f"__nv_{out}"), F.col(f"__nr_{out}")
        interp = (
            F.when(pv.isNull(), F.lit(None).cast("double"))
            .when(nv.isNull(), pv)  # trailing clamp
            .when(nr == pr, pv)
            .otherwise(pv + (nv - pv) * (rn - pr) / (nr - pr))
        )
        df = df.withColumn(out, interp)
        helpers += [f"__pv_{out}", f"__pr_{out}", f"__nv_{out}", f"__nr_{out}"]
    return df.drop(*helpers)


def _smooth_bound(b: DataFrame, col: str, smoothfreq: str, upper: bool) -> DataFrame:
    t = shift_series_forward_backward(b, col, smoothfreq)
    t = positional_interpolate_specs(t, [("bwd", "__bi"), ("fwd", "__fi")])
    agg = (F.greatest if upper else F.least)(
        F.col("__bi"), F.col("orig"), F.col("__fi")
    )  # greatest/least skip NULLs exactly like pandas max/min(axis=1)
    return (
        t.filter(F.col("orig").isNotNull())  # .loc[orig.dropna().index]
        .select(SID, TS, agg.alias(col))
    )


def smooth_upper_bound(b: DataFrame, col: str = "value",
                       smoothfreq: str = "1D") -> DataFrame:
    """Row-wise max of the +/-smoothfreq-shifted bound and itself
    (/root/reference/traval/ts_utils.py:464-468)."""
    return _smooth_bound(b, col, smoothfreq, upper=True)


def smooth_lower_bound(b: DataFrame, col: str = "value",
                       smoothfreq: str = "1D") -> DataFrame:
    """Row-wise min counterpart (/root/reference/traval/ts_utils.py:471-475)."""
    return _smooth_bound(b, col, smoothfreq, upper=False)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: tuple[str, ...] = ("source",),
    ts: str = "ts",
    right_val: str = "value",
    tolerance: str | None = None,
    suffix: str = "r_",
) -> DataFrame:
    """General point-to-point AS-OF join: every left row picks the
    LATEST right row with ``right.ts <= left.ts`` per key (the classic
    timeseries enrichment join — trades against the last quote, events
    against the last config change).

    Spark has no asof-join strategy (a range join plans as
    BroadcastNestedLoopJoin); the scalable rewrite is the union trick:
    tag both inputs, sort per key by (ts, tag) with right rows FIRST at
    equal timestamps (<= semantics), and forward-fill the right payload
    onto left rows with one ``last(ignorenulls)`` window — ONE shuffle
    on the key, no row replication, no nested loop.  Right rows with
    duplicate (key, ts) are collapsed first (greatest payload struct —
    deterministic) so the fill is unambiguous.

    ``tolerance`` (e.g. "2h"): matches older than it are nulled out —
    the standard asof staleness bound.  Unmatched/too-stale left rows
    keep NULL payload (left-join semantics).  Output: all left columns
    + ``{suffix}{right_val}`` and ``{suffix}ts``.

    Per-key windows assume the bounded-series model the rule kernels
    use; chunk unbounded keys by day first (with_chunks) if needed.
    """
    lcols = left.columns
    lu = left.select(
        *lcols, unix_us(F.col(ts)).alias("__us"),
        F.lit(1).alias("__tag"),
        F.lit(None).cast("double").alias("__rv"),
        F.lit(None).cast("long").alias("__rus"),
    )
    rdedup = (
        right.select(
            *by, unix_us(F.col(ts)).alias("__us"),
            F.col(right_val).cast("double").alias("__rv"),
        )
        .groupBy(*by, "__us")
        .agg(F.max("__rv").alias("__rv"))
    )
    ru = rdedup.select(
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c)
          if c not in (*by,) else F.col(c) for c in lcols],
        "__us", F.lit(0).alias("__tag"), "__rv",
        F.col("__us").alias("__rus"),
    )
    u = lu.unionByName(ru)
    w = (
        Window.partitionBy(*by).orderBy("__us", "__tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.select(
        *lcols, "__tag", "__us",
        F.last("__rv", ignorenulls=True).over(w).alias("__rv_ff"),
        F.last("__rus", ignorenulls=True).over(w).alias("__rus_ff"),
    ).filter(F.col("__tag") == 1)
    if tolerance is not None:
        tol = gap_micros(tolerance)
        stale = F.col("__us") - F.col("__rus_ff") > tol
        filled = filled.select(
            *lcols, "__us",
            F.when(stale, None).otherwise(F.col("__rv_ff"))
            .alias("__rv_ff"),
            F.when(stale, None).otherwise(F.col("__rus_ff"))
            .alias("__rus_ff"),
        )
    return filled.select(
        *lcols,
        F.col("__rv_ff").alias(f"{suffix}{right_val}"),
        F.timestamp_micros(F.col("__rus_ff")).alias(f"{suffix}ts"),
    )
