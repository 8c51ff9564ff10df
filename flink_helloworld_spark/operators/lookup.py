"""Broadcast-dim lookup enrichment — the Redis kv-cache surface.

The reference uses Redis as a side-input cache: point GET / async MGET of
a dimension row by key with a JSON codec, plus EXPIRE for staleness
(RedisTest.java:61-136, testCodec/testAsyncApi). Spark-first, that
surface is NOT a per-row network call — it's a broadcast hash join: the
dimension ships to every executor once (the "cache fill"), and each fact
row's lookup is a local hash probe (the GET), with zero per-row latency
and no external service. The same helper works for batch facts and for a
streaming fact source (Structured Streaming's stream-static join re-reads
the static side per micro-batch, which is also how the cache picks up a
refreshed dim table).

For dimensions that CHANGE while the job runs (the Redis EXPIRE/refresh
pattern), the broadcast is the wrong tool — that's the stateful
buffer-until-dimension join with a state TTL
(``streaming.tws.chain_stateful_join(state_ttl_ms=…)``), where the dim
stream updates per-key state and the TTL expires idle keys exactly like
Redis EXPIRE (StateTest state TTL / T8).

100 TB discipline: the broadcast side must be the SMALL side (dimension
tables, ≤ low GB); the fact side streams through unshuffled — the plan
has no exchange on the fact side at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lookup_enrich(
    facts: DataFrame,
    dim: DataFrame,
    on: str | tuple[str, str],
    dim_cols: list[str] | None = None,
    how: str = "left",
) -> DataFrame:
    """Enrich each fact row with its dimension row by key — the Redis
    GET, expressed as a broadcast hash join.

    ``on`` is either one column name present on both sides, or a
    ``(fact_key, dim_key)`` pair. ``dim_cols`` prunes the dimension
    columns carried along (column pruning reaches the dim scan).
    ``how='left'`` keeps facts with no dimension row (GET miss → nulls),
    ``'inner'`` drops them.
    """
    if isinstance(on, str):
        fact_key = dim_key = on
    else:
        fact_key, dim_key = on
    dsel = dim.select(dim_key, *dim_cols) if dim_cols is not None else dim
    cond = F.col(fact_key) == F.col(dim_key) if fact_key != dim_key else fact_key
    return facts.join(F.broadcast(dsel), on=cond, how=how)


def lookup_multi_get(dim: DataFrame, key_col: str, keys: list) -> DataFrame:
    """MGET: fetch the dimension rows for an explicit key list
    (RedisTest.testAsyncApi's pipelined mget). A literal IN-list filter —
    pushed down to the dim scan, no join at all."""
    return dim.where(F.col(key_col).isin(keys))

