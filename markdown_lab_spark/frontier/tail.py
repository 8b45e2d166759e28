"""Rank-materialized deferred tail with tombstoned deletes.

The ``lazy_deferred`` crawl mode (crawler.py) keeps the standing
frontier out of the per-wave route/state plans. A flat tail snapshot
would still pay two full-tail passes per wave: a window scan to extract
per-host heads and a full rewrite for the MERGE. This module removes
both — the design a 10^10-row frontier table needs:

- every tail row is written WITH a per-(host, shard) rank ``_rk``
  (row_number in the politeness queue order, sharded so no mega-host
  funnels through one task; a sharded rank UNDERESTIMATES the true
  per-host rank, which is safe — see ``heads_superset``), and each
  component file is sorted by ``_rk`` so the heads read prunes parquet
  row groups by min/max stats instead of scanning the tail;
- deletes are TOMBSTONES: scheduling a head row appends its key to a
  per-wave tombstone set (<= hosts*budget rows) instead of rewriting
  the tail; inserts append a per-wave ranked DELTA file;
- every ``compact_every`` waves the base is rewritten from
  (base ∪ deltas) minus tombstones with fresh ranks — the amortized
  full pass (the Iceberg rewrite-data-files maintenance job; the
  per-wave appends are MERGE-on-read position deletes).

Exactness of the pruned heads read (``heads_superset`` returns a
SUPERSET of the tail's true per-host top-B, which schedule_wave then
reduces exactly):

- For a component written at wave ``t`` and queried at wave ``w``, any
  row whose CURRENT true per-host rank is <= B satisfies
  ``_rk <= B * (w - t + 1)``: at write time its stored rank counted at
  most the rows above it then; since then at most B rows per host per
  wave were deleted (the politeness budget bounds per-host scheduling),
  so its stored rank exceeds its current rank by at most ``(w - t) * B``.
- Sharded ranks only strengthen this: row_number within (host, shard)
  counts a subset of the rows above, so ``_rk`` <= the true per-host
  rank at write time.
- Tombstones are WAVE-SCOPED: a tombstone written at wave ``w`` deletes
  occurrences only in components written BEFORE ``w``; a later re-insert
  of the same URL (TTL re-crawl, retry requeue) lives in a newer delta
  and is untouched.

Storage: under a checkpoint dir, components are parquet dirs
(``wave=N/tail_base|tail_delta|tail_tombs``) so resume can rebuild the
component list from the manifested waves; without one they are
localCheckpoints (no resume, e.g. bench legs).

Crash safety: ``restore`` consults only waves whose crawl MANIFEST
committed, so artifacts from a wave that died mid-commit are ignored
and overwritten by the deterministic replay (the crash drill in
``tests/test_ranked_tail.py``). The crawl
resume path deliberately does NOT adopt restored components as-is: the
stored ranks bound the heads superset through the budget/salt/compact
config in effect when they were written, which a resume may change
(a smaller budget would make ``_rk <= B*(age+1)`` under-read). Instead
it folds ``restore(...).all_rows()`` and re-seeds a fresh base — one
re-rank pass per resume event, config-proof. A crash mid-re-seed is
safe too: component dirs are never physically deleted, so the next
restore falls back to an older ``_SUCCESS`` base plus every later
delta/tombstone, which reconstructs the same live set.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .crawler import FRONTIER_SCHEMA
from .politeness import order_cols

TAIL_COLS = ["canon_url", "host", "depth", "priority", "attempt"]
# declared schemas of the persisted components: every read-back passes
# one, so no persist or restore runs a parquet schema-inference job
RANKED_SCHEMA = T.StructType(
    FRONTIER_SCHEMA.fields + [T.StructField("_rk", T.IntegerType())]
)
TOMBS_SCHEMA = T.StructType([T.StructField("canon_url", T.StringType(), False)])


def _ranked(df: DataFrame, salt_n: int) -> DataFrame:
    """Add the sharded per-host queue rank ``_rk`` (underestimate of the
    true per-host rank — safe for superset pruning) and sort each output
    partition by ``_rk`` so parquet row-group min/max stats prune the
    heads read. The window shuffles by (host, shard), so no single task
    sorts more than ~1/salt_n of a mega host."""
    w = Window.partitionBy(
        "host", F.pmod(F.xxhash64("canon_url"), F.lit(salt_n))
    ).orderBy(*order_cols())
    return (
        df.select(*TAIL_COLS)
        .withColumn("_rk", F.row_number().over(w))
        .sortWithinPartitions("_rk")
    )


@dataclass
class _Component:
    wave: int  # wave the component was written at
    rows: int
    df: DataFrame  # ranked rows (TAIL_COLS + _rk)


@dataclass
class _Tombs:
    wave: int  # deletes occurrences in components with wave < this
    rows: int
    df: DataFrame  # canon_url only


@dataclass
class RankedTail:
    spark: SparkSession
    budget: int
    salt_n: int = 16
    compact_every: int = 4
    checkpoint_dir: Optional[str] = None  # parquet layout when set
    base: Optional[_Component] = None
    deltas: List[_Component] = field(default_factory=list)
    tombs: List[_Tombs] = field(default_factory=list)

    # -- storage ------------------------------------------------------------
    def _persist(
        self, df: DataFrame, wave: int, name: str, schema: T.StructType
    ) -> DataFrame:
        # counted from parquet footers, or from localCheckpoint blocks
        if self.checkpoint_dir is None:
            return df.localCheckpoint(eager=True)
        path = os.path.join(self.checkpoint_dir, f"wave={wave}", name)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.schema(schema).parquet(path)

    # -- queries ------------------------------------------------------------
    @property
    def live_rows(self) -> int:
        """Exact live count: every tombstone matched exactly one live
        occurrence when written (tombs come only from scheduled head
        rows, which schedule_wave drew from this tail)."""
        n = (self.base.rows if self.base else 0) + sum(
            d.rows for d in self.deltas
        )
        return n - sum(t.rows for t in self.tombs)

    def is_empty(self) -> bool:
        return self.live_rows <= 0

    def _minus_tombs(self, comp: _Component) -> DataFrame:
        """Component rows minus the tombstones that postdate it (wave-
        scoped deletes; each tomb set is <= hosts*budget rows, so the
        anti-join build sides are small)."""
        out = comp.df
        later = [t.df for t in self.tombs if t.wave > comp.wave]
        if later:
            dead = later[0]
            for t in later[1:]:
                dead = dead.unionByName(t)
            out = out.join(dead, on="canon_url", how="left_anti")
        return out

    def heads_superset(self, wave: int) -> Optional[DataFrame]:
        """A superset of the tail's current per-host top-``budget``,
        read via the ``_rk`` bound (pruned by row-group stats), minus
        tombstones. None when the tail is empty."""
        if self.is_empty():
            return None
        parts = []
        for comp in ([self.base] if self.base else []) + self.deltas:
            bound = self.budget * (wave - comp.wave + 1)
            pruned = _Component(
                comp.wave, comp.rows, comp.df.filter(F.col("_rk") <= bound)
            )
            parts.append(self._minus_tombs(pruned).drop("_rk"))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def all_rows(self) -> Optional[DataFrame]:
        """The full live tail (TAIL_COLS, no rank) — the rediscovery
        anti-join side and the resume/mode-switch reconstruction."""
        if self.is_empty():
            return None
        parts = [
            self._minus_tombs(c).drop("_rk")
            for c in ([self.base] if self.base else []) + self.deltas
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -- updates ------------------------------------------------------------
    def apply_wave(
        self, wave: int, scheduled_heads: DataFrame, new_inserts: DataFrame
    ) -> None:
        """Commit one wave: tombstone the scheduled head keys, append the
        unscheduled-new-candidates delta, compact when due. Runs two
        small jobs (tomb + delta writes), never a full-tail pass except
        at compaction."""
        tomb_df = self._persist(
            scheduled_heads.select("canon_url"), wave, "tail_tombs", TOMBS_SCHEMA
        )
        tn = tomb_df.count()
        if tn:
            self.tombs.append(_Tombs(wave, tn, tomb_df))
        delta_df = self._persist(
            _ranked(new_inserts, self.salt_n), wave, "tail_delta", RANKED_SCHEMA
        )
        dn = delta_df.count()
        if dn:
            self.deltas.append(_Component(wave, dn, delta_df))
        # compact_every=0 disables in-band compaction: at warehouse
        # scale the rewrite is an off-critical-path maintenance job
        # (call compact() between waves / at crawl end); the heads
        # bound B*(age+1) grows with component age but stays exact
        if self.compact_every and (
            len(self.deltas) + len(self.tombs) >= self.compact_every * 2
        ):
            self.compact(wave)

    def compact(self, wave: int) -> None:
        """Rewrite base = live rows with fresh ranks; clear deltas and
        tombstones. The amortized full pass (Iceberg rewrite-data-files)."""
        live = self.all_rows()
        if live is None:
            self.base, self.deltas, self.tombs = None, [], []
        else:
            self.seed(wave, live)

    def seed(self, wave: int, rows: DataFrame) -> None:
        """Initialize the tail from an un-ranked row set with fresh
        ranks (the resume re-rank, and compaction)."""
        base_df = self._persist(
            _ranked(rows, self.salt_n), wave, "tail_base", RANKED_SCHEMA
        )
        n = base_df.count()
        self.base = _Component(wave, n, base_df) if n else None
        self.deltas, self.tombs = [], []

    # -- maintenance --------------------------------------------------------
    @classmethod
    def compact_checkpoint(
        cls,
        spark: SparkSession,
        checkpoint_dir: str,
        complete_waves: List[int],
        budget: int,
        salt_n: int = 16,
    ) -> int:
        """Offline maintenance job (the Iceberg rewrite-data-files
        analogue, invocable via ``run_crawl.py --compact-tail``): fold a
        checkpoint's tail components into one fresh base at the newest
        manifested wave, so the next resume reads one dir instead of
        every delta/tombstone since the last in-band compaction. Safe
        between crawls only (the owning crawl holds in-memory component
        state). Returns the live row count (0 = no tail)."""
        if not complete_waves:
            return 0
        tail = cls.restore(
            spark, checkpoint_dir, complete_waves, budget, salt_n=salt_n
        )
        if tail.is_empty():
            return 0
        tail.compact(complete_waves[-1])
        return tail.base.rows if tail.base else 0

    # -- resume -------------------------------------------------------------
    @classmethod
    def restore(
        cls,
        spark: SparkSession,
        checkpoint_dir: str,
        complete_waves: List[int],
        budget: int,
        salt_n: int = 16,
        compact_every: int = 4,
    ) -> "RankedTail":
        """Rebuild the component list from the manifested waves' parquet
        dirs: the newest committed tail_base plus every later delta and
        tombstone set."""
        tail = cls(
            spark,
            budget,
            salt_n=salt_n,
            compact_every=compact_every,
            checkpoint_dir=checkpoint_dir,
        )

        def _ok(wave: int, name: str) -> Optional[str]:
            p = os.path.join(checkpoint_dir, f"wave={wave}", name)
            return p if os.path.exists(os.path.join(p, "_SUCCESS")) else None

        base_wave = None
        for w in reversed(complete_waves):
            if _ok(w, "tail_base"):
                base_wave = w
                break
        if base_wave is not None:
            df = spark.read.schema(RANKED_SCHEMA).parquet(
                _ok(base_wave, "tail_base")
            )
            n = df.count()
            if n:
                tail.base = _Component(base_wave, n, df)
        for w in complete_waves:
            if base_wave is not None and w <= base_wave:
                # pre-base deltas/tombs are folded into the base already
                # UNLESS they were written in the base's own wave AFTER
                # the compaction — compaction runs inside apply_wave
                # after that wave's delta/tombs, so same-wave artifacts
                # are also folded in
                continue
            p = _ok(w, "tail_delta")
            if p:
                df = spark.read.schema(RANKED_SCHEMA).parquet(p)
                n = df.count()
                if n:
                    tail.deltas.append(_Component(w, n, df))
            p = _ok(w, "tail_tombs")
            if p:
                df = spark.read.schema(TOMBS_SCHEMA).parquet(p)
                n = df.count()
                if n:
                    tail.tombs.append(_Tombs(w, n, df))
        return tail
