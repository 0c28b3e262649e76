"""Bounded-wait access to ``Observation`` metrics.

``Observation.get`` blocks until the observed dataset's first action
reports its metrics — but delivery rides the async SQL listener bus,
which can drop ``SQLExecutionEnd`` events under load. A dropped event
means ``get`` blocks FOREVER even though the action completed, turning
a zero-cost counter into a pipeline hang. Every engine read of
observed metrics goes through :func:`get_metrics`, which bounds the
wait and either degrades to a caller-supplied explicit aggregate (one
extra job — see :func:`observed_checkpoint`) or raises a loud
``TimeoutError`` instead of hanging.
"""

from __future__ import annotations

import threading
import uuid
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Observation

#: Default bound on waiting for listener-bus delivery. Metrics for an
#: already-finished action normally arrive within milliseconds; 30 s
#: only elapses when the event was lost.
DEFAULT_TIMEOUT_S = 30.0


def get_metrics(
    obs,
    *,
    timeout: float = DEFAULT_TIMEOUT_S,
    fallback: Callable[[], dict[str, Any]] | None = None,
) -> dict[str, Any]:
    """``obs.get`` with a bounded wait.

    Returns the observed metrics dict. On timeout, calls ``fallback``
    (expected to recompute the same aggregates with an explicit job)
    when given, else raises ``TimeoutError`` naming the observation —
    a bounded loud failure instead of an unbounded silent hang.

    Thread-leak note: ``Observation.get`` is a blocking JVM property
    with NO timeout parameter, so the bounded wait must happen OUTSIDE
    the blocked call — each timeout parks one daemon waiter thread in
    ``obs.get`` for the process lifetime. That leak is bounded by the
    number of lost listener events (rare), and the alternative — no
    bound at all — is the hang this module exists to prevent. If the
    event arrives LATE (after the join timeout but while the fallback
    recomputes), the waiter's result is preferred over the fallback's:
    it is the actual observed value of the action that ran, and free.
    """
    # the waiter publishes a FULLY-BUILT dict with one atomic append —
    # never a shared dict mutated in place, which a reader could catch
    # half-populated between the timeout and a late delivery
    delivered: list[dict[str, Any]] = []

    def _wait() -> None:
        try:
            metrics = dict(obs.get)
        except Exception:
            return  # timeout path below reports/falls back
        delivered.append(metrics)

    waiter = threading.Thread(
        target=_wait, daemon=True, name="obs-metrics-waiter"
    )
    waiter.start()
    waiter.join(timeout=timeout)
    if delivered:
        return delivered[0]
    if fallback is not None:
        recomputed = fallback()
        # prefer a late-delivered observation over the recompute
        return delivered[0] if delivered else recomputed
    raise TimeoutError(
        f"Observation metrics not delivered within {timeout}s (async "
        "SQL listener event lost?) — the action may have completed; "
        "re-run or recompute the aggregate explicitly"
    )


def observed_checkpoint(
    df: DataFrame, name: str, **aggs: Column
) -> tuple[DataFrame, dict[str, Any]]:
    """Eagerly ``localCheckpoint`` ``df``; return it and the ``aggs``
    metrics (name → aggregate column) over its rows."""
    # the metrics ride the SAME job that materializes the checkpoint
    # (``observe`` + eager ``localCheckpoint`` — verified to fire the
    # CollectMetrics listener), so a loop round costs ONE job, not a
    # checkpoint job plus a separate scalar-aggregate job. Listener
    # events match on the observation name: the suffix keeps two
    # concurrent loops in one session from cross-talking.
    cols = [c.alias(k) for k, c in aggs.items()]
    obs = Observation(f"{name}_{uuid.uuid4().hex[:8]}")
    ck = df.observe(obs, *cols).localCheckpoint(eager=True)
    # The checkpoint job has ALREADY run, so metrics normally arrive
    # within milliseconds; a lost listener event degrades to ONE
    # explicit aggregate over the materialized checkpoint (no
    # recompute) instead of hanging the loop.
    return ck, get_metrics(
        obs,
        timeout=DEFAULT_TIMEOUT_S,
        fallback=lambda: ck.agg(*cols).first().asDict(),
    )
