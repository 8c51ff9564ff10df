"""Custom stateful streaming operators (SURVEY.md §4 "needs custom work").

Keyed state runs on ``transformWithState`` (``tws.py``, its Row form):
typed Value/List/Map state, processing-time TTL, timers, and operators
that chain across re-keys in one query — Spark's counterpart of Flink's
keyed-state and timer API. Partition-parallel, state in the RocksDB
store. It is the only keyed-state API: every single-state
keyed operator — the per-record folds (rolling sum, count windows,
late-row side output, CEP, domain cap), the joins, gates, sketches and
manifests — is a step function on the one kernel,
``tws.FoldProcessor``. The session flush (event-time timers) and the
IVF posting append (MapState membership) stay hand-written processors.
"""

from flink_helloworld_spark.streaming._util import (  # noqa: F401
    apply_stateful_partitions,
    suggest_stateful_partitions,
)
