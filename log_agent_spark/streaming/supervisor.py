"""Streaming query supervision — the reference's watcher guard (S4),
Spark-idiomatic.

The reference runs a goroutine that health-checks each fsnotify watcher
and restarts it when the watched mount dies
(/root/reference/watchdog/watcher/fsnotify.go:69-96,
``realTimeMonitGuard``: 20 s sleep loop, ``os.Stat`` probe of the
monitored path, close-Done + re-``go realTimeMonit`` restart on the
reset flag). The *mechanism* (detect death → restart → resume from prior
progress) is ported, with Spark's checkpoint supplying the
resume-exactly-where-it-died half that the reference gets from BadgerDB
state.

``serve()`` is the one run loop of every standing query set — the agent's
stream mode (fail-fast is ``max_restarts=0``) and the soak. It starts each
query on the calling thread, polls ``isActive``/``exception()``, and calls
a failed query's start function again after a per-query linear backoff,
up to ``max_restarts``. Because every restart begins from the same
checkpointLocation, a failed micro-batch replays and the sink sees each
batch at least once (exactly-once end-to-end when the sink is the
idempotent upsert, sinks/upsert.py — K7/K8 semantics). No thread blocks
per query: Spark runs each query on its own thread already, so the guard
is one driver-side poll over their handles.

Scale note: supervision is a driver-side control loop around query
lifecycle — no data movement; at cluster scale the same loop is what a
production job runner (or Spark's own `StreamingQueryManager` retry
policy) executes.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql.streaming import StreamingQuery

POLL_S = 0.1  # how often the loop probes its queries and the stop predicate


def serve(
    starts: dict[str, Callable[[], StreamingQuery]],
    max_restarts: int = 3,
    backoff_s: float = 0.5,
    on_restart: Callable[[str, int, Exception], None] | None = None,
    stop: Callable[[], bool] | None = None,
) -> dict[str, tuple[int, Exception | None]]:
    """Run the named queries until each has terminated cleanly or failed for
    good, ``stop()`` turns true, or Ctrl-C; return ``{name: (restarts,
    error)}``, where ``error`` is the failure that ended a query once its
    restarts ran out, or the one that left it down, waiting out its
    backoff, when the loop ended (None otherwise).

    Each start function must create a FRESH query each call with the same
    checkpointLocation (so a restart resumes, not recomputes). A start that
    raises counts as a failure too — the guard's job is to outlast
    transient faults, not only crashes of an already-running query. Restart
    ``n`` of a query waits ``backoff_s * n`` seconds without holding up the
    others; ``on_restart(name, n, exc)`` is told of it first.

    ``stop`` is first called once every query has started or failed to
    start, then on every poll; when it turns true no query is started again
    and every live one is stopped.
    """
    live: dict[str, StreamingQuery] = {}
    # name → (monotonic time of its pending restart, the failure behind it)
    due: dict[str, tuple[float, Exception]] = {}
    restarts = dict.fromkeys(starts, 0)
    errors: dict[str, Exception | None] = dict.fromkeys(starts)

    def failed(name: str, exc: Exception) -> None:
        if restarts[name] >= max_restarts:
            errors[name] = exc
            return
        restarts[name] += 1
        if on_restart is not None:
            on_restart(name, restarts[name], exc)
        # linear backoff (the reference probes on a fixed 20 s cadence,
        # fsnotify.go:74)
        due[name] = (time.monotonic() + backoff_s * restarts[name], exc)

    def start(name: str) -> None:
        try:
            live[name] = starts[name]()
        except Exception as exc:  # noqa: BLE001 — start failures included
            failed(name, exc)

    try:
        for name in starts:
            start(name)
        while live or due:
            time.sleep(POLL_S)
            for name, q in list(live.items()):
                if not q.isActive:
                    del live[name]
                    exc = q.exception()
                    if exc is not None:
                        failed(name, exc)
            if stop is not None and stop():
                break
            now = time.monotonic()
            for name in [n for n, (t, _) in due.items() if t <= now]:
                del due[name]
                start(name)
    except KeyboardInterrupt:
        pass
    finally:
        for q in live.values():
            q.stop()
    # a query still waiting out its backoff is down, not stopped cleanly
    for name, (_, exc) in due.items():
        errors[name] = exc
    return {name: (restarts[name], errors[name]) for name in starts}
