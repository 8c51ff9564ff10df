"""Connect-style two-stream keyed join with user state (SURVEY.md §2.5 J3).

The reference's canonical pattern (``connect`` + two-sided ``keyBy`` +
``RichCoFlatMapFunction``, HelloWorldFlinkTest.java:291-327,
StateTest.java:250-303,639-872, func/flat/FlatMapTest.java:22-96): one
side carries a dimension row stored in per-key state; the other side's
rows buffer until the dimension arrives, then flush as joined output.

Spark has no two-input stateful operator, so the streams are tag-unioned
(a side discriminator, outer-nullable schemas) and grouped by the join
key into one stateful operator holding {dimension, buffer} per key.
``co_flat_map_join`` is the one-dimension case of
``tws.chain_stateful_join``: the same kernel fuses any number of
same-key dimension stages, and because transformWithState operators
chain, a stage keyed differently (the reference capstone's order-id
branch feeding its waybill-keyed chain) runs in the same query
(``tws.capstone_single_query``) — no durable hop at the re-key seam.

This module also holds the typed state codec the join state goes
through: per-key state is a JSON string, and ``_enc``/``_dec`` tag
timestamps, dates, decimals, bytes, lists and maps so every value comes
back as its original type.
"""

from __future__ import annotations

import base64
import datetime
import decimal
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame


def _enc(v: Any) -> Any:
    """JSON-encode one state value with a type tag, so decode restores the
    ORIGINAL type. Both the dimension and the fact buffer go through this
    same codec — an asymmetric encode (str-ified facts vs raw dims) breaks
    Arrow conversion against out_schema when typed values cross a
    micro-batch boundary."""
    if v is None:
        return None
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        if pd.isna(v):
            return None
        return {"__t": "ts", "v": v.isoformat()}
    if isinstance(v, datetime.date):
        return {"__t": "date", "v": v.isoformat()}
    if isinstance(v, decimal.Decimal):
        return {"__t": "dec", "v": str(v)}
    if isinstance(v, (bytes, bytearray)):
        return {"__t": "b64", "v": base64.b64encode(bytes(v)).decode("ascii")}
    if isinstance(v, (list, tuple, np.ndarray)):
        return {"__t": "list", "v": [_enc(x) for x in v]}
    if isinstance(v, dict):
        return {"__t": "map", "v": {k: _enc(x) for k, x in v.items()}}
    if isinstance(v, (bool, int, float, str)):
        return v
    raise TypeError(f"unsupported state value type {type(v).__name__!r}")


def _dec(v: Any) -> Any:
    if isinstance(v, dict) and "__t" in v:
        t, val = v["__t"], v["v"]
        if t == "ts":
            return pd.Timestamp(val)
        if t == "date":
            return datetime.date.fromisoformat(val)
        if t == "dec":
            return decimal.Decimal(val)
        if t == "b64":
            return base64.b64decode(val)
        if t == "list":
            return [_dec(x) for x in val]
        if t == "map":
            return {k: _dec(x) for k, x in val.items()}
    return v


def co_flat_map_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_cols: list[str],
    right_cols: list[str],
    seq_col: str = "_seq",
    max_buffer: int = 10_000,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Stateful buffer-until-match join of a fact stream (``left``) with a
    dimension stream (``right``) on ``key``.

    Semantics (reference StateTest.java:700-762): dimension rows overwrite
    per-key ValueState; fact rows either join immediately (dimension
    already known) or buffer in state and flush the moment the dimension
    arrives. Output = key + fact columns + dimension columns, one row per
    fact.

    - ``seq_col`` (monotonic per key) restores arrival order inside a
      micro-batch, making emission deterministic.
    - ``max_buffer`` caps per-key buffered facts (oldest dropped).
    - ``state_ttl_ms`` sets a processing-time state TTL that clears idle
      keys (reference state TTL, StateTest.java:904-932 / T8).
    """
    from flink_helloworld_spark.streaming.tws import chain_stateful_join

    return chain_stateful_join(
        left, [(right, right_cols)], key, left_cols, seq_col, max_buffer, state_ttl_ms
    )
