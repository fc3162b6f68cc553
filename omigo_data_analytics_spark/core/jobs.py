"""Driver-job fusion helpers for iterative operators.

The iterative loops (BFS/ancestor closures, label propagation, dangling-
edge pruning) used to pay TWO driver jobs per round: an eager
localCheckpoint to materialize the round's delta, then a separate
terminator job (isEmpty / count / convergence-signature aggregate) over
the just-materialized blocks. The r14 adjudication pinned the checkpoint
itself to EAGER (a round frame is consumed by the terminator AND the next
round's plan construction — deferring its materialization makes the
consumers redo work), so the remaining fusion lever is the terminator:

``checkpoint_with_metrics`` rides the terminator aggregates on the eager
checkpoint's OWN materialization action via ``DataFrame.observe()``
(CollectMetrics accumulators fill as the checkpoint's tasks run; the
checkpoint action is wrapped in ``withAction``, so the observation
resolves the moment ``localCheckpoint()`` returns — verified: resolves in
<50 ms, including AQE empty-relation-propagated plans and calls from
worker threads). One job per round, zero extra passes over the blocks.

The observation read cannot hang: ``Observation.get`` blocks only until
the observed dataset's first action completes, and we call it strictly
AFTER the eager checkpoint (that first action) has returned. If the
checkpoint itself fails, the exception propagates before any read.
"""

from __future__ import annotations

import logging
import threading
import time
from collections import deque

from pyspark.sql import Column, DataFrame
from pyspark.sql.observation import Observation

log = logging.getLogger("omigo_spark")


def checkpoint_with_metrics(
        df: DataFrame,
        metrics: dict[str, Column]) -> tuple[DataFrame, dict]:
    """Eagerly localCheckpoint ``df`` and return ``(checkpointed_df,
    observed_metrics)`` where the metrics (a name -> aggregate-Column
    mapping, e.g. ``{"n": F.count(F.lit(1))}``) are computed BY the
    checkpoint's materialization job itself — no separate terminator job.

    Metric expressions must be deterministic aggregates over ``df``'s
    columns (the ``observe`` contract). Over an empty frame, ``count``
    metrics read 0 and value aggregates read None — same as the separate
    aggregate they replace."""
    obs = Observation()
    ck = (df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
            .localCheckpoint())
    return ck, obs.get


# --------------------------------------------------------------- async form
# For guards that should ride the CALLER'S first action (the operator has
# long returned by then): attach observe() metrics and let one shared
# daemon poller deliver them to a callback when the action completes.
# Zero extra jobs, zero extra scans; a plan that is never executed simply
# ages out of the bounded registry. The poller reads the JVM Observation
# non-blockingly (getRowOrEmpty) so nothing ever parks on an unexecuted
# plan.

_WATCH_MAX = 256
_POLL_SEC = 0.5
_watches: deque = deque(maxlen=_WATCH_MAX)
_watch_lock = threading.Lock()
_poller_alive = False


def observe_async(df: DataFrame, metrics: dict[str, Column],
                  callback) -> DataFrame:
    """Return ``df`` with ``metrics`` attached via ``observe()``;
    ``callback(metrics_dict)`` runs on a shared daemon thread after the
    returned frame's first action completes. A callback that raises is
    logged once, with its traceback, as a warning on the ``omigo_spark``
    logger; it never reaches the caller's query (a diagnostic must not
    fail it)."""
    global _poller_alive
    obs = Observation()
    out = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    with _watch_lock:
        _watches.append((obs, callback))
        if not _poller_alive:
            _poller_alive = True
            threading.Thread(target=_poll_loop, daemon=True,
                             name="omigo-observe-poller").start()
    return out


def _poll_loop():
    global _poller_alive
    while True:
        time.sleep(_POLL_SEC)
        with _watch_lock:
            items = list(_watches)
            if not items:
                _poller_alive = False
                return
        done = []
        for item in items:
            obs, cb = item
            try:
                r = obs._jo.getRowOrEmpty()
                if r is not None and r.isDefined():
                    m = obs.get  # resolved: returns immediately
                    done.append(item)
                    try:
                        cb(m)
                    except Exception:
                        log.warning("observe_async: callback %r failed",
                                    cb, exc_info=True)
            except Exception:
                # gateway gone / session stopped: drop the watch
                done.append(item)
        if done:
            with _watch_lock:
                for item in done:
                    try:
                        _watches.remove(item)
                    except ValueError:
                        pass
