"""Custom stateful streaming operator via applyInPandasWithState.

The reference has no streaming at all (V2Table.scala:45-47); SURVEY's
north-star adds "applyInPandasWithState for custom stateful operators".
This module implements a per-user running-profile operator — the kind of
custom state machine (feature accumulation, fraud counters, session
enrichment) that windowed aggregation can't express.

State design for scale: state is keyed by user_id and holds O(1) per key
(three counters), so the state store grows with distinct users inside the
watermark horizon, never with event volume. GroupStateTimeout would evict
idle keys in a continuous deployment; the bounded replay here processes to
completion instead.

Determinism: per-key output is emitted only at state EXPIRY/stream end via
the final batch, and every accumulator is integer-scaled — so the result
equals a batch GROUP BY regardless of arrival order, giving an exact oracle.
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..registry import query
from .windows import _stream_source


@query(
    "stream_stateful_user_profile",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
           SUM(CAST(round(value * 10000) AS BIGINT)) / 1e4 AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful processing: a per-user profile accumulated across
    micro-batches with applyInPandasWithState, emitted once per key at the
    end of the bounded replay. Exact oracle: the profile is arrival-order-
    independent by construction (integer-scaled sums + set union).

    NULL events (Family N2, NULL_AUDIT_r10.md): the handler accumulates
    like the oracle's aggregates — count(*) counts every row, SUM and
    count(DISTINCT) skip NULLs — so NaN values are dropped before the
    int64 cast (the raise site), NULL event types never enter the type
    set, and a user whose values are all NULL profiles a NULL total."""
    ev = _stream_source(spark, sf_dir).select("user_id", "event_type", "value")

    out_schema = "user_id BIGINT, n_events BIGINT, n_types BIGINT, total_value DOUBLE"
    state_schema = "n BIGINT, cents BIGINT, nvals BIGINT, types ARRAY<STRING>"

    def update(
        key: Any, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, cents, nvals, types = state.get if state.exists else (0, 0, 0, [])
        types = set(types or [])
        for pdf in batches:
            n += len(pdf)
            vals = (pdf["value"] * 10000).round().dropna()
            cents += int(vals.astype("int64").sum())
            nvals += len(vals)
            types |= set(pdf["event_type"].dropna())
        state.update((n, cents, nvals, sorted(types)))
        # bounded replay: every batch re-emits the key's current profile;
        # the final state per key is selected downstream (update mode keeps
        # the last emission per key in the memory sink... but to stay
        # deterministic we emit and deduplicate by max n_events)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "n_types": [len(types)],
                # SUM over zero non-NULL values is NULL, not 0
                "total_value": [cents / 1e4 if nvals else None],
            }
        )

    profiles = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    name = "sink_" + uuid.uuid4().hex
    q = (
        profiles.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name)
    # keep each key's final (largest-n) emission — state is monotone
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
