"""S4 watcher-guard port: serve() restarts a failed streaming query from
its checkpoint and the replayed batch reaches the sink exactly once
(idempotent output), mirroring realTimeMonitGuard's probe-and-restart
loop (/root/reference/watchdog/watcher/fsnotify.go:69-96)."""

from __future__ import annotations

import time

import pytest

from log_agent_spark.streaming.supervisor import serve


@pytest.fixture()
def in_dir(spark, tmp_path):
    p = tmp_path / "in"
    spark.range(10).selectExpr("id", "id * 2 AS v").write.parquet(str(p))
    return str(p)


def _start_once(spark, in_dir, sink, ckpt):
    """A start function: one availableNow query over ``in_dir`` into
    ``sink`` (a foreachBatch function), checkpointed at ``ckpt``."""

    def start():
        stream = spark.readStream.schema("id long, v long").parquet(in_dir)
        return (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )

    return start


def test_supervise_restarts_and_resumes(spark, tmp_path, in_dir):
    out: list[int] = []
    sentinel = tmp_path / "has_failed_once"

    def sink(batch_df, batch_id):
        if not sentinel.exists():
            sentinel.write_text("")
            raise RuntimeError("injected first-batch failure (dead mount)")
        out.extend(r.id for r in batch_df.collect())

    start = _start_once(spark, in_dir, sink, tmp_path / "ckpt")
    outcome = serve({"q": start}, max_restarts=3, backoff_s=0.1)
    assert outcome == {"q": (1, None)}
    # the failed batch replayed from the checkpoint: all 10 rows arrive once
    assert sorted(out) == list(range(10))


def test_supervise_exhausts_restarts(spark, tmp_path, in_dir):
    def sink(batch_df, batch_id):
        raise RuntimeError("permanently broken sink")

    seen = []
    outcome = serve(
        {"q": _start_once(spark, in_dir, sink, tmp_path / "ckpt2")},
        max_restarts=2,
        backoff_s=0.05,
        on_restart=lambda name, n, e: seen.append((name, n)),
    )
    restarts, error = outcome["q"]
    assert restarts == 2
    assert "permanently broken" in str(error)
    assert seen == [("q", 1), ("q", 2)]


def test_supervise_retries_start_time_failures(spark, tmp_path, in_dir):
    """A start function's exception (transient checkpoint-dir fault) counts
    as a restart — the guard outlasts transient faults, not only crashes
    of a running query."""
    attempts = []

    def start():
        attempts.append(1)
        if len(attempts) == 1:
            raise RuntimeError("transient start failure (fs blip)")
        stream = spark.readStream.schema("id long, v long").parquet(in_dir)
        return (
            stream.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt3"))
            .trigger(availableNow=True)
            .start()
        )

    outcome = serve({"q": start}, max_restarts=3, backoff_s=0.05)
    assert outcome == {"q": (1, None)}
    assert len(attempts) == 2


def test_supervise_should_stop_prevents_restart(spark, tmp_path, in_dir):
    """Once the stop predicate turns true, serve returns instead of starting
    another query — the shutdown hook the CLI's --duration relies on — and
    reports the crash that left the query down, not a clean stop."""
    stopping = {"flag": False}
    started = []

    def start():
        started.append(1)
        stopping["flag"] = True  # owner requests shutdown mid-run
        raise RuntimeError("crash right after the stop request")

    outcome = serve(
        {"q": start},
        max_restarts=10,
        backoff_s=0.05,
        stop=lambda: stopping["flag"],
    )
    assert isinstance(outcome["q"][1], RuntimeError)
    assert len(started) == 1  # no restart happened after the stop request


def test_supervise_one_failure_leaves_the_other_query_running(spark, tmp_path, in_dir):
    """Two queries, fail-fast (max_restarts=0): the broken one fails for good
    while the healthy one keeps running until the stop predicate, which
    serve answers by stopping it; the outcome names only the broken one."""

    def broken(batch_df, batch_id):
        raise RuntimeError("permanently broken sink")

    def healthy():
        return (
            spark.readStream.format("rate").option("rowsPerSecond", 5).load()
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt_ok"))
            .trigger(processingTime="200 milliseconds")
            .start()
        )

    queries = {}

    def kept(name, start):
        def _start():
            q = queries[name] = start()
            return q

        return _start

    active_at_stop = []
    give_up = time.monotonic() + 120

    def stop():
        ok = queries["healthy"]
        if queries["broken"].isActive or ok.lastProgress is None:
            return time.monotonic() > give_up
        active_at_stop.append(ok.isActive)
        return True

    outcome = serve(
        {
            "broken": kept("broken", _start_once(spark, in_dir, broken, tmp_path / "ckpt_bad")),
            "healthy": kept("healthy", healthy),
        },
        max_restarts=0,
        stop=stop,
    )
    assert outcome["healthy"] == (0, None)
    restarts, error = outcome["broken"]
    assert restarts == 0 and "permanently broken" in str(error)
    assert active_at_stop == [True]  # still running when the stop came
    assert not queries["healthy"].isActive  # serve stopped it
