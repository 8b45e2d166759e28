"""Per-host politeness scheduler as salted host-partitioned priority queues.

The reference throttles one token per client at ``1/max(0.1, rps)`` seconds
(markdown_lab/core/throttle.py:8-33); wave-synchronously that becomes a
per-host budget of ``floor(rps * wave_seconds)`` fetches per wave, ordered
by (depth ASC, priority DESC, canon_url ASC) — the deterministic analogue
of the reference's discovery-order processing.

Scale note: a plain ``Window.partitionBy(host)`` sends EVERY candidate of a
hot host through one task. ``schedule_wave`` therefore selects each
over-budget host's head with a salted TREE top-K: count-gated shards first
(a mega host gets more shards, so no phase-1 task sorts much more than
``fanin * budget`` rows), then fan-in merge rounds that each sort at most
``fanin * budget`` rows per task, until one group per host remains. AQE
skew handling does NOT cover this (it's a windowed cap, not a join).

Exactness (for ANY candidate count, no cliff): the selection keeps the
per-(host, shard) top-``budget`` at every level, and a true top-``budget``
row of a host has FEWER than ``budget`` rows above it in the host's total
order — hence fewer than ``budget`` above it inside any shard or merged
group it occupies — so it survives every level. Dropped rows are exactly
the complement, which is what ``deferred`` carries to the next wave.
The drill in tests/test_politeness_skew.py pins set-equality against the
naive single-window selection at ``salt_n * budget * 4`` candidates.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def order_cols():
    """Deterministic per-host queue order: depth ASC, priority DESC, url ASC."""
    return [F.col("depth").asc(), F.col("priority").desc(), F.col("canon_url").asc()]


def schedule_wave(
    frontier: DataFrame, budget: int, salt_n: int = 16, fanin: int = 4
) -> tuple[DataFrame, DataFrame]:
    """Split a wave's candidates into (scheduled, deferred).

    scheduled: per-host head of at most ``budget`` rows in deterministic
    order; deferred: the remainder (carries to the next wave unchanged).

    Skew design, from cheapest case up:
    - a host whose candidate count is <= budget is scheduled WHOLE with
      no window at all (the common case — most hosts are small);
    - an over-budget host gets a COUNT-GATED shard count
      ``ns = clamp(ceil(count / (fanin * budget)), 1, salt_n)`` — small
      over-budget hosts land in ONE shard (a single bounded sort, no
      second phase), mega hosts spread over up to ``salt_n`` shards so a
      phase-1 task sorts ~``fanin * budget`` rows;
    - shard heads then tree-merge with fan-in ``fanin``: each round
      merges ``fanin`` adjacent shards' SURVIVORS (<= ``fanin * budget``
      rows per task) and keeps the exact top-``budget``; a statically-
      known ``ceil(log_fanin(salt_n))`` rounds settle every host. Rows
      ride the rounds as ONE tagged frame (sticky ``_def`` flag, already-
      deferred rows diverted to bounded per-shard buckets) rather than
      per-round union branches, so the whole selection is a single
      window chain with no branch recompute — see the inline comment.

    The per-host cap is EXACT at any skew (see module docstring); the
    knob trade-off is ``salt_n`` bounding how many shards a mega host
    may use (beyond ``salt_n * fanin * budget`` candidates, phase-1
    shard size grows past ``fanin * budget`` but exactness holds).
    """
    return schedule_counted(with_host_counts(frontier), budget, salt_n, fanin)


def with_host_counts(frontier: DataFrame, where=None) -> DataFrame:
    """``frontier`` plus ``_host_n``: the number of rows of the row's host
    (only rows matching ``where`` count, when given; a host with no
    matching row gets null)."""
    counted = frontier if where is None else frontier.filter(where)
    # no broadcast hint: at 10^8 hosts the counts side is too big to ship;
    # AQE broadcasts it automatically when it is small
    counts = counted.groupBy("host").agg(F.count("*").alias("_host_n"))
    return frontier.join(counts, on="host", how="left")


def schedule_counted(
    tagged: DataFrame, budget: int, salt_n: int = 16, fanin: int = 4
) -> tuple[DataFrame, DataFrame]:
    """``schedule_wave`` over rows that already carry their host's row
    count as ``_host_n`` (see ``with_host_counts``), so a caller that has
    materialized the counts does not recompute them per output branch."""
    under = tagged.filter(F.col("_host_n") <= budget).drop("_host_n")
    over = tagged.filter(F.col("_host_n") > budget)

    ns = F.least(
        F.lit(salt_n),
        F.greatest(F.lit(1), F.ceil(F.col("_host_n") / F.lit(fanin * budget))),
    ).cast("int")
    cur = (
        over.withColumn("_ns", ns)
        .withColumn("_sh", F.pmod(F.xxhash64(F.col("canon_url")), F.col("_ns")).cast("int"))
        .drop("_host_n")
    )

    # Single tagged pass (round-6 rewrite, guide §2.4): the previous
    # formulation SPLIT kept/deferred/settled into union branches per
    # round, and because none of them is materialized, every branch
    # re-executed the whole window chain below it inside one job —
    # ~8 legs x re-sorted windows at routing time (the crawl pays this
    # once per wave; measured 3.3-3.7 s -> 1.8-2.3 s for the routed
    # materialization at sf0.1, both politeness shapes). Instead every
    # row carries a sticky ``_def`` flag through the SAME merge rounds
    # and the split is two cheap filters at the end.
    #
    # Exactness (same induction as before): within a merge group the
    # already-deferred rows are diverted to their own per-ORIGINAL-shard
    # buckets (group key -1-_sh), so a kept row's rank is computed among
    # exactly the surviving rows of its merged group — identical to
    # ranking the survivors alone — and a deferred row's _def stays true
    # by the OR regardless of its rank. Skew bounds are unchanged: a
    # survivors bucket holds <= fanin * budget rows, a deferred bucket
    # at most one phase-1 shard (~host_n / ns), so no task ever sorts
    # more than the phase-1 bound.
    w_shard = Window.partitionBy("host", "_sh").orderBy(*order_cols())
    cur = cur.withColumn("_rn", F.row_number().over(w_shard)).withColumn(
        "_def", F.col("_rn") > budget
    )
    rounds = max(0, math.ceil(math.log(salt_n) / math.log(fanin))) if salt_n > 1 else 0
    width = 1
    for _ in range(rounds):
        width *= fanin
        grp = F.when(F.col("_def"), -1 - F.col("_sh")).otherwise(
            F.floor(F.col("_sh") / width)
        )
        w_merge = Window.partitionBy("host", grp).orderBy(*order_cols())
        cur = cur.withColumn("_rn", F.row_number().over(w_merge)).withColumn(
            "_def", F.col("_def") | (F.col("_rn") > budget)
        )
    out = cur.drop("_rn", "_ns", "_sh")
    scheduled = under.unionByName(out.filter(~F.col("_def")).drop("_def"))
    deferred = out.filter(F.col("_def")).drop("_def")
    return scheduled, deferred


def politeness_budget(rps: float, wave_seconds: int) -> int:
    """floor(rps * wave_seconds), min 1 (throttle.py clamps rps at 0.1)."""
    return max(1, int(max(0.1, rps) * wave_seconds))


def cap_schedule_by_delay(
    scheduled: DataFrame,
    host_delays: DataFrame,
    wave_seconds: int,
    budget: int,
) -> tuple[DataFrame, DataFrame]:
    """(kept, cut): enforce robots ``Crawl-delay`` as a per-host wave
    budget ``b_h = clamp(floor(wave_seconds / crawl_delay), 1, budget)``
    — at b_h fetches per wave of wave_seconds, inter-request spacing
    meets the declared delay.

    Exact by prefix composition: ``scheduled`` is the per-host
    top-``budget`` of the frontier in order_cols() order and
    b_h <= budget, so ranking the SCHEDULE (never the frontier) and
    keeping rank <= b_h equals the naive per-host top-b_h of the whole
    frontier. The window is legal at any scale: it partitions the
    schedule, whose per-host size is bounded by ``budget`` rows by
    construction. Hosts with no declared delay bypass the window
    entirely (the common case), mirroring schedule_wave's under-budget
    bypass; ``cut`` rows defer to the next wave unchanged.

    b_h has a floor of 1: a delay longer than the wave still makes
    progress (the alternative starves the host forever); the wave
    cadence itself is the spacing at b_h = 1.
    """
    delays = host_delays.filter(
        F.col("crawl_delay").isNotNull() & (F.col("crawl_delay") > 0)
    ).select(
        "host",
        F.least(
            F.lit(budget),
            F.greatest(
                F.lit(1),
                F.floor(F.lit(float(wave_seconds)) / F.col("crawl_delay")),
            ),
        )
        .cast("int")
        .alias("_bh"),
    )
    # no broadcast hint for the same reason as schedule_wave's counts
    # side: AQE broadcasts when small, shuffles on host otherwise
    tagged = scheduled.join(delays, on="host", how="left")
    free = tagged.filter(F.col("_bh").isNull()).drop("_bh")
    capped = tagged.filter(F.col("_bh").isNotNull())
    w = Window.partitionBy("host").orderBy(*order_cols())
    ranked = capped.withColumn("_rn", F.row_number().over(w))
    kept = ranked.filter(F.col("_rn") <= F.col("_bh")).drop("_rn", "_bh")
    cut = ranked.filter(F.col("_rn") > F.col("_bh")).drop("_rn", "_bh")
    return free.unionByName(kept), cut
