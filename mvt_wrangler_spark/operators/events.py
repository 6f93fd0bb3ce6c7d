"""Event-sequence analytics: ordered funnel matching.

Complements the engine's sessionize / as-of / interval / top-k event
operators with the other staple: per user, the GREEDY FIRST-MATCH walk
through an ordered step list (view -> click -> purchase), i.e. the earliest
step-1 event, then the earliest step-2 event strictly after it, and so on —
the standard conversion-funnel semantics (each step must follow the
previous one in time; unrelated interleaved events are ignored).

Determinism: event order is a packed int64 key
    k = unix_micros(ts) * 1000 + event_id mod 1000
so ties at the same microsecond resolve by event id — no struct/ROW
comparisons (DuckDB can't MIN a ROW), no float, and the same key expression
restates 1:1 in the SQL twin. |unix_micros| < 2^51 for any plausible ts, so
the pack stays well inside int64.

Scale shape: one filtered min-aggregate per step plus one equi-join per
step transition, all keyed on the user id — shuffle count is O(#steps),
partial aggregation is map-side combinable, and no window ever sees more
than one user's rows. The greedy walk CANNOT be a single groupBy because
step i's predicate depends on step i-1's chosen time; the per-step join is
the distributed form of that data dependency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import session


def funnel(events: DataFrame, steps: list[str], id_col: str = "user_id",
           ts_col: str = "ts", type_col: str = "event_type",
           key_col: str = "event_id") -> DataFrame:
    """One row per user who completed step 1: per-step first-match times
    (t{i}_us, microseconds; NULL once the walk stalls), `reached` (number
    of consecutive steps completed), `converted` (all steps), and
    `dur_us` (first->last step time for converted users, else NULL)."""
    if len(steps) < 2:
        raise ValueError("funnel needs at least 2 steps")
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    k = (us * 1000 + F.pmod(F.col(key_col), F.lit(1000))).cast("long")
    # pin the slim (__id, __t, __k) projection: every step filters it, and
    # un-pinned each step re-scans the events source (n_steps passes). The
    # isin pre-filter keeps the pinned volume at exactly the step-typed
    # rows the walk consumes (a 100-type event table would otherwise pin
    # every row); it pushes to the scan, so the one pass stays pruned.
    base = session.pin(events.filter(F.col(type_col).isin(steps))
                       .select(F.col(id_col).alias("__id"),
                               F.col(type_col).alias("__t"), k.alias("__k")))
    acc = (base.filter(F.col("__t") == steps[0])
           .groupBy("__id").agg(F.min("__k").alias("k1")))
    for i, s in enumerate(steps[1:], start=2):
        nxt = (base.filter(F.col("__t") == s)
               .join(acc.select("__id", f"k{i-1}"), "__id")
               .filter(F.col("__k") > F.col(f"k{i-1}"))
               .groupBy("__id").agg(F.min("__k").alias(f"k{i}")))
        # pin: `acc` is referenced by nxt AND the next accumulator join, and
        # because nxt embeds acc the duplication otherwise compounds per
        # step (acc_{i-1} appears 2^(n-i) times — 7 scans for a 3-step
        # funnel)
        acc = session.pin(acc.join(nxt, "__id", "left"))
    n = len(steps)
    sel = [F.col("__id").alias(id_col)]
    sel += [F.expr(f"k{i} DIV 1000").alias(f"t{i}_us") for i in range(1, n + 1)]
    reached = F.lit(1)
    for i in range(2, n + 1):
        # consecutive: k{i} is only ever non-null when k{i-1} was (the walk
        # joins through the previous step), so a plain sum counts a prefix
        reached = reached + F.col(f"k{i}").isNotNull().cast("int")
    converted = F.col(f"k{n}").isNotNull()
    sel += [reached.alias("reached"), converted.alias("converted"),
            F.when(converted, F.expr(f"k{n} DIV 1000 - k1 DIV 1000"))
            .alias("dur_us")]
    return acc.select(*sel)


def funnel_sql(events_table: str, steps: list[str], id_col: str = "user_id",
               ts_col: str = "ts", type_col: str = "event_type",
               key_col: str = "event_id") -> str:
    """DuckDB twin of funnel: the same greedy walk as chained CTEs."""
    n = len(steps)
    esc = [s.replace("'", "''") for s in steps]
    ctes = [
        (f"__fe AS (SELECT {id_col} AS id, {type_col} AS t, "
         f"epoch_us(CAST({ts_col} AS TIMESTAMP)) * 1000 "
         f"+ (({key_col} % 1000) + 1000) % 1000 AS k FROM {events_table})"),
        (f"__f1 AS (SELECT id, min(k) AS k1 FROM __fe "
         f"WHERE t = '{esc[0]}' GROUP BY 1)"),
    ]
    for i in range(2, n + 1):
        ctes.append(
            f"__f{i} AS (SELECT e.id, min(e.k) AS k{i} FROM __fe e "
            f"JOIN __f{i-1} p USING (id) "
            f"WHERE e.t = '{esc[i-1]}' AND e.k > p.k{i-1} GROUP BY 1)")
    t_cols = ",\n       ".join(
        f"CAST(k{i} // 1000 AS BIGINT) AS t{i}_us" for i in range(1, n + 1))
    reach = " + ".join(
        f"CASE WHEN k{i} IS NOT NULL THEN 1 ELSE 0 END" for i in range(2, n + 1))
    joins = "\n".join(
        f"LEFT JOIN __f{i} USING (id)" for i in range(2, n + 1))
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT id AS {id_col},
       {t_cols},
       CAST(1 + {reach} AS INT) AS reached,
       k{n} IS NOT NULL AS converted,
       CASE WHEN k{n} IS NOT NULL
            THEN CAST(k{n} // 1000 - k1 // 1000 AS BIGINT) END AS dur_us
FROM __f1
{joins}""")


def od_matrix(located: DataFrame, id_col: str = "user_id",
              order_cols: list[str] = ("ts", "event_id"),
              tile_col: str = "tile",
              drop_self_loops: bool = False) -> DataFrame:
    """Origin-destination matrix: counts of CONSECUTIVE tile transitions
    per user (mobility analytics / tile-to-tile flow for cache priming and
    region-link weighting). order_cols must be a TOTAL order per user
    (e.g. (ts, event_id)) — a tied order would make lag() pick an
    arbitrary predecessor. Output: (tile_from, tile_to, n_trips).

    Plan: one user-key window (lag) + one groupBy(from, to) with map-side
    combine — no window ever sees more than one user's rows. Self-loops
    (consecutive events in the same tile) count by default; set
    drop_self_loops=True for pure movement flows.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        *[F.col(c).asc() for c in order_cols])
    t = (located
         .withColumn("__from", F.lag(tile_col).over(w))
         .filter(F.col("__from").isNotNull()))
    if drop_self_loops:
        t = t.filter(F.col("__from") != F.col(tile_col))
    return (t.groupBy(F.col("__from").alias("tile_from"),
                      F.col(tile_col).alias("tile_to"))
            .agg(F.count(F.lit(1)).alias("n_trips")))


def od_matrix_sql(located_src: str, id_col: str = "user_id",
                  order_cols: list[str] = ("ts", "event_id"),
                  tile_col: str = "tile",
                  drop_self_loops: bool = False) -> str:
    """DuckDB twin of od_matrix over a source yielding (id, order.., tile)."""
    self_pred = "AND tf <> tile" if drop_self_loops else ""
    order = ", ".join(f"{c} ASC" for c in order_cols)
    return f"""
WITH __ol AS ({located_src}),
__ot AS (
  SELECT lag({tile_col}) OVER (PARTITION BY {id_col} ORDER BY {order}) AS tf,
         {tile_col} AS tile
  FROM __ol)
SELECT tf AS tile_from, tile AS tile_to,
       CAST(count(*) AS BIGINT) AS n_trips
FROM __ot WHERE tf IS NOT NULL {self_pred}
GROUP BY 1, 2
"""
