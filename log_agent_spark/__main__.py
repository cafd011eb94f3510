"""Agent entrypoint: ``python -m log_agent_spark --config conf.ini``.

Application-level parity with the reference agent (main.go:64 →
cmd/run.go): parse the ini, build one pipeline per active biz section
(config.autoload — P1-P6 plugin surface), and serve. Two modes:

- ``backfill`` (default): the S2/S3 history-import path — batch-ingest
  each watch tree (filters pushed into the walk), apply the biz
  transform, and write the canonical logfile parquet under ``--output``.
- ``stream``: the S1 live path — file_events source with the per-path
  debounce (T1) in the source, one row per settled path (T3) → per-batch
  content enrichment (M1, reading only the batch's files) → priority
  multi-sink fan-out (K4 console, K3 file-copy when ``--copy-dest`` is
  given), checkpointed (T4). Runs until ``--duration`` elapses or Ctrl-C.

Example::

    python -m log_agent_spark --config conf/agent.ini \\
        --mode stream --copy-dest /srv/mirror --checkpoint /srv/ckpt
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="log_agent_spark", description="config-driven log collection agent"
    )
    p.add_argument("--config", required=True, help="ini file (logagent.ini layout)")
    p.add_argument(
        "--mode", choices=("backfill", "stream"), default="backfill",
        help="backfill = one-shot history import; stream = standing pipelines",
    )
    p.add_argument("--output", help="backfill: parquet output root (default: show)")
    p.add_argument("--copy-dest", help="stream: add a file-copy sink rooted here")
    p.add_argument("--checkpoint", help="stream: checkpoint root (one dir per biz)")
    p.add_argument(
        "--duration", type=float, default=None,
        help="stream: stop after N seconds (default: run until interrupted)",
    )
    p.add_argument(
        "--supervise", action="store_true",
        help="stream: restart a crashed pipeline from its checkpoint "
        "(S4 watcher-guard parity) instead of failing fast",
    )
    p.add_argument(
        "--max-restarts", type=int, default=3,
        help="stream --supervise: give up after N restarts per pipeline",
    )
    p.add_argument(
        "--check", action="store_true",
        help="validate the config and exit 0/1 without starting Spark "
        "(nginx -t style; the reference's `dcagent -t` self-check, "
        "cmd/test.go:7-10)",
    )
    return p


def _safe(name: str) -> str:
    return re.sub(r"[^A-Za-z0-9_.-]", "_", name)


def _stream_enrich(cfg):
    """Per-batch M1 enrichment: read ONLY the batch's files and hand
    FileMeta rows to the sink chain — the reference's read-content-on-event
    hot path (watchdog.go:314-326). A batch holds the paths whose debounce
    windows expired in the source; no per-trigger cap bounds it (the
    reference's 100-record batch, watchdog.go:22-27, is not ported).

    Fixed per-batch cost is paid in a file's latency (a running batch
    delays the poll that sees the window expire, then the emitting batch
    runs), so the read is byte-sized — one partition for a normal batch,
    one job per driver-side sink — and a batch with no live file reads
    nothing and runs no sink job. It is the backfill's read
    (sources/binary_files.read_binary_files): the source's walk admits only
    files it returns, zero-byte ones included, so no emitted path is lost."""
    from pyspark.sql import functions as F

    from log_agent_spark.sources.binary_files import enrich_file_meta, read_binary_files

    def _t(batch):
        live = batch.filter(F.col("op") != "REMOVE")
        paths = [r.path for r in live.select("path").collect()]
        raw = read_binary_files(batch.sparkSession, paths)
        return cfg.transform(enrich_file_meta(raw, cfg.watch))

    return _t


def main(argv: list[str] | None = None) -> int:
    args = _parser().parse_args(argv)
    from log_agent_spark.config import autoload, build_batch_ingest, read_file_events
    from log_agent_spark.session import get_spark

    if args.check:
        # `-t` config self-check (cmd/test.go:7-10, nginx -t convention):
        # run the full autoload validation path, report, exit — no Spark
        try:
            n = len(autoload(args.config))
        except Exception as exc:  # noqa: BLE001 — any validation failure ⇒ 1
            print(f"config check FAILED: {exc}", file=sys.stderr)
            return 1
        print(f"config ok: {n} active pipeline(s)")
        return 0

    cfgs = autoload(args.config)
    if not cfgs:
        # cmd/run.go:20-27 — global switch off / nothing to do is a clean exit
        print("no active pipelines (global switch off or no watch sections)")
        return 0

    spark = get_spark("log-agent")
    if args.mode == "backfill":
        from log_agent_spark.plans.ingest import write_logfile

        for cfg in cfgs:
            if not cfg.history_import:
                # S2 backfill gate (plugin.go:125-129): the operator
                # explicitly disabled history import for this biz
                print(f"[{cfg.name}] history_import off — skipped")
                continue
            # biz transform already applied inside the ingest plan
            # (ingest_tree → bsi_parse; non-BSI paths pass through)
            df = build_batch_ingest(spark, cfg)
            if args.output:
                out = os.path.join(args.output, _safe(cfg.name))
                write_logfile(df, out)
                print(f"[{cfg.name}] wrote {out}")
            else:
                print(f"[{cfg.name}]")
                df.show(20, truncate=80)
        return 0

    # stream mode
    from log_agent_spark.sinks.filecopy import file_copy_sink
    from log_agent_spark.sinks.multi import MultiSink, console_sink
    from log_agent_spark.streaming.pipeline import run_event_pipeline

    def _start(cfg):
        sinks = [console_sink(priority=0)]
        if args.copy_dest:
            sinks.append(
                file_copy_sink(
                    os.path.join(args.copy_dest, _safe(cfg.name)), priority=5
                )
            )
        ckpt = (
            os.path.join(args.checkpoint, _safe(cfg.name))
            if args.checkpoint
            else None
        )
        return run_event_pipeline(
            read_file_events(spark, cfg),
            MultiSink(sinks),
            transform=_stream_enrich(cfg),
            checkpoint_dir=ckpt,
        )

    def _wait(alive) -> None:
        """Poll until --duration elapses, everything is dead, or Ctrl-C."""
        try:
            if args.duration is not None:
                deadline = time.time() + args.duration
                while time.time() < deadline and alive():
                    time.sleep(0.5)
            else:
                while alive():
                    time.sleep(1.0)
        except KeyboardInterrupt:
            pass

    if args.supervise:
        # S4 watcher-guard parity: one supervisor thread per biz restarts
        # a crashed query from its checkpoint (fsnotify.go:74 probe loop)
        import threading

        from log_agent_spark.streaming.supervisor import supervise

        if not args.checkpoint:
            # a restart without a checkpoint recomputes from scratch and
            # re-delivers everything — refuse rather than silently break
            # the flag's resume contract
            print("--supervise requires --checkpoint", file=sys.stderr)
            return 2

        stop_evt = threading.Event()
        holders: list[dict] = []
        threads: list[threading.Thread] = []
        for cfg in cfgs:
            holder: dict = {
                "name": cfg.name, "q": None, "error": None, "restarts": 0
            }

            def _run(cfg=cfg, holder=holder):
                def _fresh():
                    q = holder["q"] = _start(cfg)
                    return q

                def _note(i, exc):
                    holder["restarts"] = i
                    print(f"[{cfg.name}] restart {i}: {exc}", file=sys.stderr)

                try:
                    _, n = supervise(
                        _fresh,
                        max_restarts=args.max_restarts,
                        on_restart=_note,
                        should_stop=stop_evt.is_set,
                    )
                    if n:
                        print(f"[{cfg.name}] recovered after {n} restart(s)")
                except Exception as exc:  # restarts exhausted
                    holder["error"] = exc

            t = threading.Thread(target=_run, daemon=True)
            t.start()
            holders.append(holder)
            threads.append(t)
            print(f"[{cfg.name}] streaming (supervised) from {cfg.watch}")

        # don't start the --duration clock until every pipeline has either
        # come up or already failed — otherwise a short duration measures
        # Spark startup, not streaming time (bounded by a startup timeout)
        startup_deadline = time.time() + 120
        while time.time() < startup_deadline and any(
            h["q"] is None and h["error"] is None and t.is_alive()
            for h, t in zip(holders, threads)
        ):
            time.sleep(0.2)

        _wait(lambda: any(t.is_alive() for t in threads))

        # shutdown: flag first (no thread will start another query past
        # this point — supervise checks it before every restart), then
        # stop whatever is live, re-checking until the threads drain (a
        # thread mid-start can surface a fresh query after our first pass)
        stop_evt.set()
        join_deadline = time.time() + 90
        while any(t.is_alive() for t in threads) and time.time() < join_deadline:
            for holder in holders:
                q = holder["q"]
                if q is not None and q.isActive:
                    q.stop()  # clean stop → awaitTermination returns
            for t in threads:
                t.join(timeout=1.0)

        failed = 0
        for holder, t in zip(holders, threads):
            if holder["error"] is not None:
                failed += 1
                print(
                    f"[{holder['name']}] FAILED after {holder['restarts']} "
                    f"restart(s): {holder['error']}",
                    file=sys.stderr,
                )
            elif t.is_alive():
                failed += 1
                print(
                    f"[{holder['name']}] did not shut down cleanly",
                    file=sys.stderr,
                )
            else:
                print(f"[{holder['name']}] stopped")
        return 1 if failed else 0

    queries = []
    for cfg in cfgs:
        queries.append((cfg.name, _start(cfg)))
        print(f"[{cfg.name}] streaming from {cfg.watch}")

    _wait(lambda: any(q.isActive for _, q in queries))
    failed = 0
    for name, q in queries:
        if q.isActive:
            q.stop()
            print(f"[{name}] stopped")
        elif q.exception() is not None:
            # a dead query must not exit 0 — a supervisor (systemd, the
            # watcher-guard pattern) needs the failure to restart on
            failed += 1
            print(f"[{name}] FAILED: {q.exception()}", file=sys.stderr)
        else:
            print(f"[{name}] stopped")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
