"""Streaming CEP: ``followedBy``/``within``/``notFollowedBy`` as a
keyed stateful operator (the streaming form of ``operators/cep.py``,
matching Flink's CEP-on-DataStream deployment shape).

Pattern semantics (identical to the batch operator, defined on ms event
time): for each ``first`` event A, the EARLIEST ``second`` event B after
it matches iff B arrives within ``within_ms`` and no ``not_between``
event C occurs at any ms ≤ B's ms after A. Ties at the same millisecond
count as simultaneous, so a C sharing B's ms blocks the match.

Resolution protocol (why emission can lag by one ms-group): once A's
first B is seen, a same-ms C may still arrive, so the match is emitted
only when event time advances past B's ms. A C seen before any B kills
the pending A immediately; a first B outside the window kills it too
(relaxed contiguity binds A to its FIRST following B, same as batch).

State per key is the list of unresolved A events — O(pending patterns),
not O(stream); every A leaves state on its first B/C or on window
expiry. Feed a trailing flush row (any type, far-future ts) to finalize
matches at end of input, as the golden replays do for watermarks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from flink_helloworld_spark.streaming.tws import each_record, fold_by_key

# one pending A: its id/ms, plus b/bt once its first B has been seen and
# the entry awaits ms-close confirmation (null until then)
_PENDING = StructType([StructField(n, LongType()) for n in ("a", "at", "b", "bt")])
_STATE = StructType([StructField("pending", ArrayType(_PENDING))])


def followed_by_within_stream(
    df: DataFrame,
    key: str,
    id_col: str,
    tsm_col: str,
    type_col: str,
    first: str,
    second: str,
    within_ms: int,
    not_between: str | None = None,
) -> DataFrame:
    """Per-key streaming pattern matcher. Input columns: ``key``,
    ``id_col`` (unique, orders same-ms events), ``tsm_col`` (event time
    ms), ``type_col``. Emits (key, a_id, b_id, a_ts_ms, b_ts_ms, lag_ms)
    per match, in arrival order."""
    longs = ("a_id", "b_id", "a_ts_ms", "b_ts_ms", "lag_ms")
    out_schema = StructType(
        [StructField("key", df.schema[key].dataType)]
        + [StructField(n, LongType()) for n in longs]
    )

    def step(state, k, rec):
        tsm, etype, eid = rec["tsm"], rec["type"], rec["id"]
        # emit B-bound entries whose ms group has closed un-blocked, and
        # expire unbound As whose window has passed (no future event at
        # tsm >= now can match them) — this is what keeps state
        # O(pending patterns) instead of O(stream)
        out, pending = [], []
        for a, at, b, bt in state[0]:
            if bt is None and tsm - at > within_ms:
                continue
            if bt is not None and tsm > bt:
                out.append((k, a, b, at, bt, bt - at))
            else:
                pending.append((a, at, b, bt))
        if not_between is not None and etype == not_between:
            # kills unresolved As AND same-ms B-bound entries — every
            # surviving bound entry has bt == tsm (events arrive in ts
            # order and earlier-bt entries were just emitted)
            pending = []
        elif etype == second:
            # every unbound A left is inside the window (the loop above
            # expired the rest), so this B binds it
            pending = [
                (a, at, eid, tsm) if bt is None else (a, at, b, bt)
                for a, at, b, bt in pending
            ]
        if etype == first:
            pending.append((eid, tsm, None, None))
        return (pending,), out

    # fixed internal names for the step, whatever the caller's columns are
    src = df.select(
        F.col(key).alias("key"),
        F.col(id_col).cast("long").alias("id"),
        F.col(tsm_col).cast("long").alias("tsm"),
        F.col(type_col).alias("type"),
    )
    return fold_by_key(
        src, "key", _STATE, ([],), each_record(["tsm", "id"], step), out_schema
    ).withColumnRenamed("key", key)
