"""Engine configuration: validated knobs with environment overrides.

Spark-first re-expression of MarkdownLabConfig
(markdown_lab/core/config.py:20-151: ~25 validated scalar knobs,
MARKDOWN_LAB_* env overrides, from_dict). Knobs that configured the
reference's single-process machinery (connection pools, thread counts,
cache byte quotas) map onto their cluster equivalents — shuffle
partitioning, Arrow batch sizing, bloom/cuckoo sharding, wave politeness
— or are intentionally absent because Spark owns that concern. Chunk
sizes (the crawl's chunk UDF is fixed at 1000/200) and the output format
(the CLI's ``--format`` flag) are not knobs here either.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, fields
from typing import Any, Dict, Optional

from .errors import ConfigurationError

_ENV_PREFIX = "MARKDOWN_LAB_SPARK_"


@dataclass
class EngineConfig:
    # politeness / crawl control (reference: requests_per_second=1.0,
    # max_retries=3, config.py:30-33)
    rps: float = 1.0
    wave_seconds: int = 10
    max_waves: int = 100
    max_retries: int = 3
    # TTL re-crawl (reference cache_ttl=3600 s, config.py:51)
    ttl_waves: Optional[int] = None

    # document limits (reference max_file_size=10MB, config.py:44)
    max_file_size: int = 10_000_000

    # URL-seen state (cluster equivalents of the two-level cache)
    bloom_shards: int = 8
    bloom_capacity_per_shard: int = 1 << 17
    bloom_fpr: float = 0.01
    cuckoo_capacity: int = 1 << 18

    # skew / shuffle shape
    salt_n: int = 16
    shuffle_partitions: int = 64
    arrow_batch_size: int = 8000
    max_partition_bytes: int = 2 << 20

    # state
    checkpoint_dir: Optional[str] = None
    # seen-delta compaction cadence (None disables); see CrawlConfig
    seen_compact_every: Optional[int] = 8

    def __post_init__(self) -> None:
        self._apply_environment_overrides()
        self._validate()

    # -- validation (mirrors config.py:76-117's rule set) ---------------------
    def _validate(self) -> None:
        def positive(name: str) -> None:
            if getattr(self, name) <= 0:
                raise ConfigurationError(
                    f"{name} must be positive", error_code="CONFIG_INVALID"
                )

        for name in (
            "rps", "wave_seconds", "max_waves", "max_file_size",
            "bloom_shards", "bloom_capacity_per_shard", "cuckoo_capacity",
            "salt_n", "shuffle_partitions", "arrow_batch_size",
            "max_partition_bytes",
        ):
            positive(name)
        if self.seen_compact_every is not None and self.seen_compact_every <= 0:
            raise ConfigurationError(
                "seen_compact_every must be positive or None",
                error_code="CONFIG_INVALID",
            )
        if self.max_retries < 0:
            raise ConfigurationError(
                "max_retries cannot be negative", error_code="CONFIG_INVALID"
            )
        if not (0.0 < self.bloom_fpr < 1.0):
            raise ConfigurationError(
                "bloom_fpr must be in (0, 1)", error_code="CONFIG_INVALID"
            )
        if self.ttl_waves is not None and self.ttl_waves <= 0:
            raise ConfigurationError(
                "ttl_waves must be positive when set", error_code="CONFIG_INVALID"
            )

    # -- env overrides (reference config.py:119-151) ---------------------------
    def _apply_environment_overrides(self) -> None:
        casts = {"rps": float, "bloom_fpr": float, "checkpoint_dir": str}
        for f in fields(self):
            env_var = _ENV_PREFIX + f.name.upper()
            raw = os.getenv(env_var)
            if raw is None:
                continue
            cast = casts.get(f.name, int)
            try:
                setattr(self, f.name, cast(raw))
            except (TypeError, ValueError) as exc:
                raise ConfigurationError(
                    f"invalid environment variable {env_var}={raw}: {exc}",
                    error_code="CONFIG_INVALID",
                    details={"env_var": env_var, "value": raw},
                ) from exc

    # -- adapters ---------------------------------------------------------------
    @classmethod
    def from_dict(cls, d: Dict[str, Any]) -> "EngineConfig":
        known = {f.name for f in fields(cls)}
        unknown = set(d) - known
        if unknown:
            raise ConfigurationError(
                f"unknown config keys: {sorted(unknown)}",
                error_code="CONFIG_INVALID",
            )
        return cls(**d)

    def to_crawl_config(self):
        """Adapter to the wave engine's CrawlConfig."""
        from .frontier.crawler import CrawlConfig  # noqa: PLC0415

        return CrawlConfig(
            rps=self.rps,
            wave_seconds=self.wave_seconds,
            max_waves=self.max_waves,
            bloom_shards=self.bloom_shards,
            bloom_capacity_per_shard=self.bloom_capacity_per_shard,
            bloom_fpr=self.bloom_fpr,
            salt_n=self.salt_n,
            max_retries=self.max_retries,
            ttl_waves=self.ttl_waves,
            cuckoo_capacity=self.cuckoo_capacity,
            max_file_size=self.max_file_size,
            seen_compact_every=self.seen_compact_every,
        )

    def spark_conf(self) -> Dict[str, str]:
        """Session settings the engine's plans are tuned for."""
        return {
            "spark.sql.shuffle.partitions": str(self.shuffle_partitions),
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.execution.arrow.pyspark.enabled": "true",
            "spark.sql.execution.arrow.maxRecordsPerBatch": str(
                self.arrow_batch_size
            ),
            "spark.sql.files.maxPartitionBytes": str(self.max_partition_bytes),
        }
