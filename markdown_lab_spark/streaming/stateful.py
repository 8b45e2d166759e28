"""Custom stateful streaming operator (applyInPandasWithState).

``first_seen_filter`` is the streaming analogue of the batch crawl's
URL-seen state: it emits only the first occurrence of each canon_url per
host group, keeping a per-host seen set in GroupState (the streaming
counterpart of the batch bloom+anti-join).

State is partitioned by host — the same key the batch engine partitions
on — so hot-host skew handling carries over (state shards by key).
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

FIRST_SEEN_OUTPUT = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("canon_url", T.StringType()),
    ]
)
FIRST_SEEN_STATE = T.StructType([T.StructField("seen", T.ArrayType(T.StringType()))])


def _first_seen_fn(
    key: Tuple[Any, ...],
    batches: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (host,) = key
    seen = set(state.get[0]) if state.exists else set()
    out = []
    for pdf in batches:
        for url in pdf["canon_url"]:
            if url not in seen:
                seen.add(url)
                out.append(url)
    state.update((list(seen),))
    yield pd.DataFrame({"host": [host] * len(out), "canon_url": out})


def first_seen_filter(pages: DataFrame) -> DataFrame:
    """Streaming dedup: first occurrence of each canon_url per host.

    EXACT but unbounded: GroupState holds each host's full seen set.
    """
    return pages.groupBy("host").applyInPandasWithState(
        _first_seen_fn,
        outputStructType=FIRST_SEEN_OUTPUT,
        stateStructType=FIRST_SEEN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
