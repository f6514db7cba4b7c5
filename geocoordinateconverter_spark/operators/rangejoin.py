"""Banded range/interval join — [NORTH-RULE] (SURVEY.md §3.6 "range /
interval join": *prefer the equi form to avoid BNLJ*).

A raw range predicate ``value >= lo AND value < hi`` has no equality
key, so Spark plans BroadcastNestedLoopJoin — fine for a 10-row dim,
O(n·m) once the interval side grows.  The scale-safe form grids the
value axis with a fixed ``step``: every interval is exploded to the
grid cells it covers, every point maps to its one cell, the join is a
hash equi-join on the cell, and the original range predicate stays as
a residual filter.  Cost is (interval length / step) rows per interval
— pick ``step`` near the median interval width.

This is the 1-D analogue of the engine's H3 cover-cell PIP join
(operators/pip.py) and the same banding trick the MinHash-LSH pair
generator uses: turn a geometric predicate into an equi key + refine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def banded_range_join(points: DataFrame, value_col: str,
                      intervals: DataFrame, lo_col: str, hi_col: str,
                      step: float) -> DataFrame:
    """Join each point to every interval with lo <= value < hi, via a
    grid-cell equi-join against the broadcast exploded intervals plus a
    residual filter.  Output: points columns + intervals columns."""
    cell_of = lambda c: F.floor(c / F.lit(float(step))).cast("bigint")  # noqa: E731
    iv = intervals.withColumn(
        "_cell", F.explode(F.sequence(cell_of(F.col(lo_col)),
                                      cell_of(F.col(hi_col)))))
    pts = points.withColumn("_cell", cell_of(F.col(value_col)))
    return (pts.join(F.broadcast(iv), "_cell")
            .filter((F.col(value_col) >= F.col(lo_col))
                    & (F.col(value_col) < F.col(hi_col)))
            .drop("_cell"))


# ---------------------------------------------------------------------------
# As-of join (r5) — the temporal "latest record at or before t" join
# ---------------------------------------------------------------------------
# The other custom join the round brief names alongside range join.
# Naive formulations are a BNLJ on (key, l.ts <= r.ts) + max-rank, or
# a banded self-join; the scale-safe form is NO JOIN AT ALL: union the
# two streams, sort each key's timeline once, and carry the most
# recent right-side row forward with last_value(IGNORE NULLS).  One
# shuffle on the key, O(n log n) per key, no candidate blowup for
# bursty keys — the formulation every streaming engine uses for
# temporal joins.  DuckDB ships a native ASOF JOIN; the oracle keeps
# the portable window form so both engines execute the same plan
# shape (the docstring equivalence: ASOF LEFT JOIN ... ON l.key =
# r.key AND r.ts <= l.ts).

def asof_join(left: DataFrame, right: DataFrame, key: str,
              ts_col: str, left_id: str, right_id: str) -> DataFrame:
    """For every left row: the right row of the same ``key`` with the
    greatest ``ts_col`` <= the left row's (ties: right rows sort
    before left rows at equal ts, then by ``right_id`` — the highest
    wins).  Returns (key, left_id, ts, asof_right_id, asof_ts,
    lag_us) with NULL asof_* when no prior right row exists."""
    l_ = left.select(F.col(key), F.col(ts_col).alias("ts"),
                     F.col(left_id).alias("lid")) \
        .withColumn("side", F.lit(1)).withColumn("rid", F.lit(None)
                                                 .cast("long"))
    r_ = right.select(F.col(key), F.col(ts_col).alias("ts"),
                      F.col(right_id).alias("rid")) \
        .withColumn("side", F.lit(0)).withColumn("lid", F.lit(None)
                                                 .cast("long"))
    u = l_.unionByName(r_.select(*l_.columns))
    w = (Window.partitionBy(key).orderBy("ts", "side", "rid")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = (u.withColumn("asof_right_id",
                      F.last("rid", ignorenulls=True).over(w))
         .withColumn("asof_ts",
                     F.last(F.when(F.col("rid").isNotNull(), F.col("ts")),
                            ignorenulls=True).over(w)))
    return (c.filter(F.col("side") == 1)
            .select(F.col(key), F.col("lid").alias(left_id), "ts",
                    "asof_right_id", "asof_ts",
                    (F.unix_micros(F.col("ts").cast("timestamp"))
                     - F.unix_micros(F.col("asof_ts").cast("timestamp")))
                    .alias("lag_us")))



def asof_clicks_views(events: DataFrame) -> DataFrame:
    """Driver-gate instantiation over the events table: every click
    joined as-of to the user's most recent view at or before it."""
    clicks = events.filter(F.col("event_type") == "click")
    views = events.filter(F.col("event_type") == "view")
    return asof_join(clicks, views, key="user_id", ts_col="ts",
                     left_id="event_id", right_id="event_id") \
        .withColumnRenamed("ts", "click_ts") \
        .select("user_id", "event_id", "asof_right_id", "lag_us")


def asof_clicks_views_sql() -> str:
    """Portable window form (DuckDB-native twin: ``FROM clicks ASOF
    LEFT JOIN views ON clicks.user_id = views.user_id AND views.ts <=
    clicks.ts`` — kept as documentation; the window form pins the
    equal-ts and duplicate-ts tie rules explicitly)."""
    return """
WITH u AS (
  SELECT user_id, ts, 1 AS side, event_id AS lid,
         cast(NULL as bigint) AS rid
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, 0 AS side, cast(NULL as bigint) AS lid,
         event_id AS rid
  FROM events WHERE event_type = 'view'),
c AS (
  SELECT user_id, ts, side, lid,
         last_value(rid IGNORE NULLS) OVER w AS asof_right_id,
         last_value(CASE WHEN rid IS NOT NULL THEN ts END IGNORE NULLS)
           OVER w AS asof_ts
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, rid
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT user_id, lid AS event_id, asof_right_id,
       epoch_us(ts) - epoch_us(asof_ts) AS lag_us
FROM c WHERE side = 1
"""
