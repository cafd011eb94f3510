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
  given), checkpointed (T4). Every pipeline runs in one
  ``streaming/supervisor.serve`` loop until ``--duration`` elapses, all
  have ended, or Ctrl-C; ``--supervise`` restarts a failed one from its
  checkpoint, otherwise a failure ends it.

Example::

    python -m log_agent_spark --config conf/agent.ini \\
        --mode stream --copy-dest /srv/mirror --checkpoint /srv/ckpt
"""

from __future__ import annotations

import argparse
import functools
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
    nothing and runs no sink job. It is the backfill's read and enrich
    (plans/ingest.file_meta): the source's walk admits only files the read
    returns, zero-byte ones included, so no emitted path is lost, and a row
    sink's ``plans/ingest.logfile_rows`` gives the backfill's rows."""
    from pyspark.sql import functions as F

    from log_agent_spark.plans.ingest import file_meta

    def _t(batch):
        live = batch.filter(F.col("op") != "REMOVE")
        paths = [r.path for r in live.select("path").collect()]
        return file_meta(batch.sparkSession, paths, cfg.watch, cfg.transform)

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

    if args.mode == "stream" and args.supervise and not args.checkpoint:
        # a restart without a checkpoint recomputes from scratch and
        # re-delivers everything — refuse rather than silently break the
        # flag's resume contract
        print("--supervise requires --checkpoint", file=sys.stderr)
        return 2

    spark = get_spark("log-agent")
    if args.mode == "backfill":
        from log_agent_spark.plans.ingest import write_logfile

        for cfg in cfgs:
            if not cfg.history_import:
                # S2 backfill gate (plugin.go:125-129): the operator
                # explicitly disabled history import for this biz
                print(f"[{cfg.name}] history_import off — skipped")
                continue
            # the live path's read and biz transform (plans/ingest.file_meta),
            # then the logfile projection the row sinks share
            df = build_batch_ingest(spark, cfg)
            if args.output:
                out = os.path.join(args.output, _safe(cfg.name))
                write_logfile(df, out)
                print(f"[{cfg.name}] wrote {out}")
            else:
                print(f"[{cfg.name}]")
                df.show(20, truncate=80)
        return 0

    # stream mode: one serve loop over every biz; fail-fast is max_restarts=0,
    # --supervise is the S4 watcher guard (crash → restart from checkpoint)
    from log_agent_spark.sinks.filecopy import file_copy_sink
    from log_agent_spark.sinks.multi import MultiSink, console_sink
    from log_agent_spark.streaming.pipeline import run_event_pipeline
    from log_agent_spark.streaming.supervisor import serve

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
        q = run_event_pipeline(
            read_file_events(spark, cfg),
            MultiSink(sinks),
            transform=_stream_enrich(cfg),
            checkpoint_dir=ckpt,
        )
        print(f"[{cfg.name}] streaming from {cfg.watch}")
        return q

    deadline = None

    def _elapsed() -> bool:
        # serve first asks once every pipeline has started or failed to
        # start, so a short --duration measures streaming, not Spark startup
        nonlocal deadline
        if deadline is None:
            deadline = time.monotonic() + args.duration
        return time.monotonic() >= deadline

    def _note(name, i, exc):
        print(f"[{name}] restart {i}: {exc}", file=sys.stderr)

    outcome = serve(
        {cfg.name: functools.partial(_start, cfg) for cfg in cfgs},
        max_restarts=args.max_restarts if args.supervise else 0,
        on_restart=_note,
        stop=None if args.duration is None else _elapsed,
    )
    for name, (restarts, error) in outcome.items():
        if error is not None:
            print(
                f"[{name}] FAILED after {restarts} restart(s): {error}",
                file=sys.stderr,
            )
        else:
            print(f"[{name}] stopped after {restarts} restart(s)")
    # a dead query must not exit 0 — a supervisor (systemd, the
    # watcher-guard pattern) needs the failure to restart on
    return 1 if any(e is not None for _, e in outcome.values()) else 0


if __name__ == "__main__":
    sys.exit(main())
