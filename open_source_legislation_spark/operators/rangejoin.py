"""Custom join shapes Spark has no native operator for — the range
(interval-containment) join and the as-of join — composed from existing
DataFrame ops (the task's canonical "custom operator" case).

Naive formulations become a ``CartesianProduct`` + filter (Catalyst cannot
equi-plan ``lo <= x AND x < hi``) — quadratic at scale. The bucketed
composition keeps it an EQUI-join:

1. pick a bucket width ``B`` (≈ median interval width);
2. each interval ``[lo, hi)`` explodes to its covered bucket ids
   ``floor(lo/B) .. floor((hi-1)/B)`` — ``explode(sequence(...))``,
   JVM-side;
3. each point ``x`` maps to the single bucket ``floor(x/B)``;
4. shuffle hash join on the bucket id, then re-check the exact predicate.

Shuffle volume is ``points + intervals × avg_width/B`` (bounded by the
width cap), never ``points × intervals``. Skewed buckets (a popular value
range) are ordinary hash-join skew — AQE's skew-join split applies, unlike
a cross product. This is the standard bucketed range-join strategy
(Spark's own SQL guide documents the same shape for range conditions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _floor_bucket(c: Column, width: int) -> Column:
    """Exact int64 floor(c / width): `floor(col / lit)` routes through
    DOUBLE division, which silently mis-buckets coordinates past 2^53
    (e.g. nanosecond epochs ~1.7e18) — an overlapping pair would then be
    dropped with no error. `c - pmod(c, w)` is the exact floor multiple
    (pmod is non-negative, so this is floor semantics for negative
    coordinates too), and DECIMAL division of an exact multiple has zero
    remainder, hence an exact integer quotient at any result scale."""
    b = F.lit(width)
    # floor() BEFORE the long cast: a bare cast('long') truncates toward
    # zero, so a fractional coordinate like -0.5 would bucket to 0 instead
    # of -1 and the bucket equi-join would silently drop an overlapping
    # pair (the exact-predicate recheck never sees the pair). floor() is a
    # no-op for integral inputs, so the exact int64 path is unchanged.
    cl = F.floor(c).cast("long")
    multiple = (cl - F.pmod(cl, b)).cast("decimal(38,0)")
    return (multiple / b).cast("long")


def _last_bucket_excl(c: Column, width: int) -> Column:
    """Bucket index of the OPEN upper bound ``c`` of an interval
    ``[lo, c)`` — i.e. the bucket containing ``sup [lo, c)``:
    ``ceil(c / width) - 1``. The naive ``_floor_bucket(c - 1)`` is only
    correct for INTEGRAL ``c``: a fractional upper bound like 16.5 with
    width 16 must still cover bucket 1 (points in (16, 16.5) live
    there), but ``floor((16.5 - 1)/16) = 0`` silently drops the last
    bucket and with it every match inside it (the exact-predicate
    recheck never sees the pair). Implemented as
    ``-_floor_bucket(-c) - 1`` — ``ceil(x/n) == -floor(-x/n)`` and
    ``ceil(x/n) == ceil(ceil(x)/n)`` for integer n — so it rides the
    same exact int64/decimal path as :func:`_floor_bucket` (no double
    division at nanosecond-epoch magnitudes)."""
    return -_floor_bucket(-c, width) - 1


def range_join_points(
    intervals: DataFrame,
    points: DataFrame,
    lo_col: str = "lo",
    hi_col: str = "hi",
    x_col: str = "x",
    bucket_width: int = 16,
    max_interval_width: int | None = None,
) -> DataFrame:
    """Inner-join ``points`` to every interval containing them
    (``lo <= x < hi``), as a bucketed equi-join.

    ``max_interval_width`` guards the explode: an interval wider than it
    raises rather than silently exploding unbounded bucket rows (at scale
    a single giant interval would otherwise fan out to millions of rows —
    split such intervals upstream or raise the width).

    Output: all columns of ``intervals`` + all columns of ``points``.
    """
    # empty intervals ([lo, lo)) match nothing; dropping them also keeps
    # sequence() ascending (Spark generates a DESCENDING sequence when
    # start > stop, which would fabricate buckets)
    intervals = intervals.filter(F.col(hi_col) > F.col(lo_col))
    lo_bucket = _floor_bucket(F.col(lo_col), bucket_width)
    if max_interval_width is not None:
        # lazy in-plan guard: assert_true raises AT EXECUTION on the first
        # too-wide interval instead of paying an eager full scan of
        # `intervals` at plan-construction time (an entire extra input
        # pass at scale). Folded into the bucket expression (NULL + 0 when
        # the assert passes) so column pruning cannot drop it.
        lo_bucket = lo_bucket + F.coalesce(
            F.assert_true(
                (F.col(hi_col) - F.col(lo_col)) <= max_interval_width,
                F.lit(
                    f"range_join_points: interval wider than "
                    f"max_interval_width={max_interval_width}; split it "
                    f"upstream"
                ),
            ).cast("long"),
            F.lit(0),
        )
    iv = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                lo_bucket,
                _last_bucket_excl(F.col(hi_col), bucket_width),
            )
        ),
    )
    pt = points.withColumn("_bucket", _floor_bucket(F.col(x_col), bucket_width))
    return (
        iv.join(pt, "_bucket")
        .filter((F.col(lo_col) <= F.col(x_col)) & (F.col(x_col) < F.col(hi_col)))
        .drop("_bucket")
    )


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    payload: list[str] | None = None,
) -> DataFrame:
    """As-of join: attach to each left row the LATEST right row with
    ``right_ts <= left_ts`` in the same ``on`` group (backward-inclusive
    — a right row AT the left timestamp matches). Left rows with no
    earlier right row keep NULL payload columns.

    The naive formulation (``JOIN ON key = key AND r.ts <= l.ts`` +
    keep-latest) is an inequality join — per-key quadratic blowup at
    scale. This is the union-window composition instead:

    1. union both sides, right rows tagged 0 / left rows tagged 1, right
       payload packed in ONE struct column (so every output column comes
       from the SAME matched row, never a mix);
    2. ``last(payload_struct, ignorenulls=True)`` over
       ``partition by on order by (ts, tag, payload_struct) rows
       unbounded preceding`` — at a left row that is exactly the latest
       right row at-or-before it;
    3. keep the left rows, unpack the struct.

    ONE hash exchange on ``on`` + one in-partition sort — shuffle volume
    is |left| + |right| regardless of key skew in the time dimension.
    If several right rows share (on, right_ts), the one with the
    greatest payload struct wins (deterministic total order).

    Output: all ``left`` columns + the ``payload`` columns (names must
    not collide with left's).
    """
    from pyspark.sql.window import Window

    payload = payload or [
        c for c in right.columns if c not in (on, right_ts)
    ]
    clash = set(payload) & set(left.columns)
    if clash:
        raise ValueError(f"asof_join_backward: payload collides with left: {clash}")
    reserved = {"_asof_ts", "_asof_p", "_asof_tag", "_asof_m"}
    taken = reserved & (set(left.columns) | set(payload))
    if taken:
        raise ValueError(
            f"asof_join_backward: column names {sorted(taken)} are reserved "
            f"for the operator's internal union/window columns"
        )

    # JOIN semantics for NULL keys AND NULL timestamps: NULL never equals
    # NULL and `r.ts <= l.ts` is NULL (no match) for a NULL right_ts, so
    # neither row class can ever be matched. The window formulation WOULD
    # fabricate matches for both — NULL keys group into one partition, and
    # NULLS-FIRST ordering puts a NULL-ts right row BEFORE every left row,
    # handing its payload to left rows with no genuine earlier match —
    # so filter both out of the right side up front.
    r = right.filter(
        F.col(on).isNotNull() & F.col(right_ts).isNotNull()
    ).select(
        F.col(on),
        F.col(right_ts).alias("_asof_ts"),
        F.struct(*[F.col(c) for c in payload]).alias("_asof_p"),
        F.lit(0).alias("_asof_tag"),
    )
    ptype = r.schema["_asof_p"].dataType
    l = left.select(
        "*",
        F.col(left_ts).alias("_asof_ts"),
        F.lit(None).cast(ptype).alias("_asof_p"),
        F.lit(1).alias("_asof_tag"),
    )
    u = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(on)
        .orderBy("_asof_ts", "_asof_tag", "_asof_p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn("_asof_m", F.last("_asof_p", ignorenulls=True).over(w))
    return matched.filter(F.col("_asof_tag") == 1).select(
        *left.columns,
        *[F.col(f"_asof_m.{c}").alias(c) for c in payload],
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_lo: str = "lo",
    left_hi: str = "hi",
    right_lo: str = "lo",
    right_hi: str = "hi",
    bucket_width: int = 16,
    max_interval_width: int | None = None,
) -> DataFrame:
    """Inner-join every overlapping pair of half-open intervals
    (``l.lo < r.hi AND r.lo < l.hi``) — the interval×interval sibling of
    :func:`range_join_points`, again as an EQUI-join (Catalyst plans the
    raw theta condition as a cross product). EMPTY intervals
    (``hi <= lo``) denote no points and overlap nothing, same as
    :func:`range_join_points` — callers whose semantics treat ``[x, x)``
    as a matchable instant must widen them upstream.

    Both sides explode to their covered bucket ids and hash-join on the
    bucket. Two overlapping intervals share every bucket in their
    intersection, so the same pair would surface once per shared bucket;
    instead of a dedup shuffle, each pair is emitted ONLY from its
    canonical bucket — the one containing ``max(l.lo, r.lo)`` (always
    inside the intersection) — a pure filter, zero extra exchanges.

    ``max_interval_width`` guards the explode on BOTH sides (one giant
    interval would otherwise fan out unbounded bucket rows) — a lazy
    in-plan assert, same as :func:`range_join_points`.

    Shuffle volume is ``Σ width/B`` over both inputs, never
    ``|left| × |right|``; bucket skew is ordinary hash-join skew
    (AQE-splittable). Column names must be disjoint across the two
    inputs and must not use the reserved ``_bucket`` / ``_bucket_r``
    (raise otherwise). Output: all left columns + all right columns,
    one row per overlapping pair.
    """
    clash = set(left.columns) & set(right.columns)
    if clash:
        raise ValueError(
            f"interval_overlap_join: column names must be disjoint, "
            f"both sides have: {sorted(clash)}"
        )
    reserved = {"_bucket", "_bucket_r"} & (set(left.columns) | set(right.columns))
    if reserved:
        raise ValueError(
            f"interval_overlap_join: column names {sorted(reserved)} are "
            f"reserved for the operator's internal bucket columns"
        )

    def buckets(df: DataFrame, lo: str, hi: str, side: str) -> DataFrame:
        df = df.filter(F.col(hi) > F.col(lo))
        lo_bucket = _floor_bucket(F.col(lo), bucket_width)
        if max_interval_width is not None:
            # lazy in-plan explode guard, folded into the used expression
            # so column pruning cannot drop it (see range_join_points)
            lo_bucket = lo_bucket + F.coalesce(
                F.assert_true(
                    (F.col(hi) - F.col(lo)) <= max_interval_width,
                    F.lit(
                        f"interval_overlap_join: {side} interval wider "
                        f"than max_interval_width={max_interval_width}; "
                        f"split it upstream"
                    ),
                ).cast("long"),
                F.lit(0),
            )
        return df.withColumn(
            "_bucket",
            F.explode(
                F.sequence(
                    lo_bucket, _last_bucket_excl(F.col(hi), bucket_width)
                )
            ),
        )

    lb = buckets(left, left_lo, left_hi, "left")
    rb = buckets(right, right_lo, right_hi, "right").withColumnRenamed(
        "_bucket", "_bucket_r"
    )
    canonical = _floor_bucket(
        F.greatest(F.col(left_lo), F.col(right_lo)), bucket_width
    )
    return (
        lb.join(rb, lb["_bucket"] == rb["_bucket_r"])
        .filter(
            (F.col(left_lo) < F.col(right_hi))
            & (F.col(right_lo) < F.col(left_hi))
            & (F.col("_bucket") == canonical)
        )
        .drop("_bucket", "_bucket_r")
    )
