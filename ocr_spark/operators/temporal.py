"""Temporal operators: as-of join + latest-snapshot resolution.

Two standard event-time building blocks a web-corpus pipeline needs
(capture history per url, metric-vs-config alignment, CDX-style "latest
snapshot wins"):

* :func:`asof_join` — for every left row, the most recent right row with
  ``right.ts <= left.ts`` per key (backward direction).  Implemented with
  the union+window trick: tag both sides, union, and carry the right
  payload forward with ``last(..., ignorenulls)`` over a per-key window.
  That is ONE shuffle on the join key and a linear sort-merge pass —
  never the naive range/cross join whose candidate set explodes
  quadratically on hot keys at 10^12 rows.  (Spark has no native ASOF;
  DuckDB does — the driver oracle uses it to verify this composition.)
* :func:`latest_snapshot` — one row per key, the maximum-``ts`` row with a
  deterministic id tie-break (window row_number, single shuffle).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(left: DataFrame, right: DataFrame, on: str = "user_id",
              ts: str = "ts", payload: Sequence[str] = ("value",)) -> DataFrame:
    """Backward as-of join: attach the latest right payload at-or-before
    each left row's timestamp, per key.

    Output = every left row + ``<payload>_asof`` columns (null when no
    right row precedes it).  At equal timestamps the right row counts as
    visible (``<=`` semantics, matching DuckDB ``ASOF JOIN`` on
    ``l.ts >= r.ts``).  Multiple right rows sharing the same (key, ts) are
    ordered by the payload struct itself, so the greatest payload wins —
    deterministic at any parallelism level (partition-layout-dependent
    picks would break the repo's rerun-digest guarantees).
    """
    lcols = left.columns
    tagged_l = (left
                .withColumn("_is_left", F.lit(1))
                .withColumn("_rpay", F.lit(None).cast(
                    "struct<" + ",".join(
                        f"{c}:{right.schema[c].dataType.simpleString()}"
                        for c in payload) + ">")))
    tagged_r = (right
                .select(on, ts,
                        F.struct(*[F.col(c) for c in payload]).alias("_rpay"))
                .withColumn("_is_left", F.lit(0)))
    for c in lcols:
        if c not in tagged_r.columns:
            tagged_r = tagged_r.withColumn(
                c, F.lit(None).cast(left.schema[c].dataType))
    unioned = tagged_l.unionByName(tagged_r.select(*tagged_l.columns))
    # right rows sort BEFORE left rows at the same ts (_is_left asc) so the
    # <= visibility rule holds; the trailing _rpay term totally orders
    # same-(key, ts) right rows (last one = greatest payload wins);
    # last(ignorenulls) carries the payload forward
    w = (Window.partitionBy(on)
         .orderBy(F.col(ts).asc(), F.col("_is_left").asc(),
                  F.col("_rpay").asc_nulls_first())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = unioned.withColumn("_asof", F.last("_rpay", ignorenulls=True).over(w))
    out = carried.filter(F.col("_is_left") == 1).select(
        *lcols, *[F.col(f"_asof.{c}").alias(f"{c}_asof") for c in payload])
    return out


def _ts_micros(c) -> "F.Column":
    """Microseconds since epoch of a timestamp as pure WALL-CLOCK
    arithmetic (days + hour + minute + exact decimal seconds).
    ``unix_micros`` requires TIMESTAMP_LTZ, and casting the NTZ event
    columns to LTZ would make gap computations depend on the session
    timezone (a DST transition between two events would shift their gap
    by an hour on some sessions and not others).  Matches DuckDB
    ``epoch_us`` bit-for-bit on NTZ values."""
    c = F.col(c) if isinstance(c, str) else c
    return (F.unix_date(c.cast("date")).cast("bigint") * 86_400_000_000
            + F.date_part(F.lit("HOUR"), c).cast("bigint") * 3_600_000_000
            + F.date_part(F.lit("MINUTE"), c).cast("bigint") * 60_000_000
            + (F.date_part(F.lit("SECOND"), c) * 1_000_000).cast("bigint"))


def range_join_within(df: DataFrame, key: str = "user_id", ts: str = "ts",
                      id_col: str = "event_id",
                      delta_s: int = 60) -> DataFrame:
    """Pairs of rows of the same key within ``delta_s`` seconds — the
    bucketed range join.

    Naive ``|a.ts - b.ts| <= δ`` is a per-key cross join (quadratic on hot
    keys).  This buckets each row into ``floor(epoch/δ)`` and equi-joins
    each row against its own and the NEXT bucket — any pair within δ spans
    at most adjacent buckets, so the join keys stay short and shuffle-
    friendly while the exact δ filter runs on the (small) candidate set.
    Returns (key, id_a, id_b, gap_us) with ``id_a < id_b``.

    Arithmetic is MICROSECOND-exact (:func:`_ts_micros`): second-truncated
    epochs would misclassify sub-second boundaries — events at
    10:00:00.1 and 10:30:00.9 are 1800.8 s apart and must NOT pair at
    δ=1800, but truncation reads the gap as exactly 1800.  ``gap_us`` is
    the exact integer gap (engine-portable: DuckDB ``epoch_us``).
    """
    delta_us = int(delta_s) * 1_000_000
    bucket = F.floor(_ts_micros(ts) / delta_us)
    # one slim projection (key, id, ts, bucket) materialized once — the
    # union-of-two-joins below references it four times, which would
    # otherwise re-scan the source four times
    slim = df.select(F.col(key).alias("k"), F.col(id_col).alias("_id"),
                     F.col(ts).alias("_ts"), bucket.alias("b")) \
        .localCheckpoint(eager=False)
    a = slim.select("k", F.col("_id").alias("id_a"),
                    F.col("_ts").alias("ts_a"), "b")
    b_same = slim.select("k", F.col("_id").alias("id_b"),
                         F.col("_ts").alias("ts_b"), "b")
    b_next = b_same.withColumn("b", F.col("b") - 1)  # joins a's bucket
    cands = (a.join(b_same, ["k", "b"])
             .unionByName(a.join(b_next, ["k", "b"])))
    # every qualifying pair surfaces with a = the EARLIER row (the later one
    # is in the same or next bucket); canonicalize ids with least/greatest —
    # an id_a < id_b filter here would drop pairs whose later row has the
    # smaller id
    gap = F.abs(_ts_micros("ts_b") - _ts_micros("ts_a"))
    return (cands.filter((F.col("id_a") != F.col("id_b"))
                         & (gap <= delta_us))
            .select(F.col("k").alias(key),
                    F.least("id_a", "id_b").alias("id_lo"),
                    F.greatest("id_a", "id_b").alias("id_hi"),
                    gap.cast("bigint").alias("gap_us"))
            .withColumnsRenamed({"id_lo": "id_a", "id_hi": "id_b"})
            .distinct())


def sessionize(df: DataFrame, key: str = "user_id", ts: str = "ts",
               gap_s: int = 1800) -> DataFrame:
    """Gap-based session assignment: a new session starts whenever the gap
    to the previous event of the same key exceeds ``gap_s``.

    Pure window composition (lag → boundary flag → running sum), one
    shuffle on the key; ``session_id`` is ``(key, session_seq)`` with
    session_seq starting at 1 per key — deterministic and engine-portable
    (DuckDB twin uses the identical window SQL).  The gap test is
    microsecond-exact (:func:`_ts_micros` — see :func:`range_join_within`):
    a 1800.8 s gap at gap_s=1800 must start a new session, which
    second-truncated epochs would miss.
    """
    w = Window.partitionBy(key).orderBy(F.col(ts).asc())
    prev_ts = F.lag(ts).over(w)
    boundary = F.when(
        prev_ts.isNull()
        | ((_ts_micros(ts) - _ts_micros(prev_ts))
           > int(gap_s) * 1_000_000),
        1).otherwise(0)
    return (df.withColumn("session_seq",
                          F.sum(boundary).over(
                              w.rowsBetween(Window.unboundedPreceding,
                                            Window.currentRow))))


def latest_snapshot(df: DataFrame, key: str = "user_id", ts: str = "ts",
                    tie_break: str = "event_id") -> DataFrame:
    """One row per key: maximum ``ts``, deterministic ``tie_break`` desc —
    the CDX-style "latest capture per url wins" resolution (single shuffle
    on the key; at 10^12 rows this is a map-side-combinable top-1)."""
    w = Window.partitionBy(key).orderBy(F.col(ts).desc(),
                                        F.col(tie_break).desc())
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))
