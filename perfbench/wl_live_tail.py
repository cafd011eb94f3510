"""live_tail: the stream agent, built the way ``__main__._start`` builds it
(autoload → read_file_events → run_event_pipeline with ``_stream_enrich``
and a MultiSink of the console and file-copy sinks, checkpointed), fed by
an open-loop lander process. One operation is one landed file: from its
last write being due to the file-copy sink returning with it, less the
configured debounce window."""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

import gen
from instrument import ProgressListener, engine_totals, progress_dict, read_jobs
from stats import median, p50, percentile

FILES_PER_FOLDER = 4
# the offered load, fixed whatever the run length: BSI test folders landed
# per second (see README.md for the rate ladder that placed it)
FOLDERS_PER_S = 2.0
DEBOUNCE_MS = 3000
WARMUP_S = 1  # an untimed burst, drained, that takes the cold start
LEAD_IN_S = 3  # untimed landing at the timed rate right before the window
DRAIN_TIMEOUT_S = 30
BATCH_GROUP = "pb-batch"


def _write_ini(path: str, watch: str) -> None:
    with open(path, "w") as f:
        f.write(
            "[GLOBAL]\nswitch = on\n\n"
            f"[BSI.ICT]\nwatch = {watch}\npatterns = \\.log$\nignores = /~\n"
            f"debounce = {DEBOUNCE_MS}\nswitch = on\n"
        )


class Deliveries:
    """What the file-copy sink wrote: (path, md5, returned_at, traced) per
    row, stamped when the sink's write returns."""

    def __init__(self) -> None:
        self.rows: list[tuple[str, str, float, bool]] = []
        self._pending: list[tuple[str, str]] = []

    def path_func(self, base):
        def _f(row):
            self._pending.append((row["filepath"], hashlib.md5(bytes(row["content"] or b"")).hexdigest()))
            return base(row)

        return _f

    def commit(self, traced: bool) -> int:
        now = time.time()
        n = len(self._pending)
        self.rows.extend((p, h, now, traced) for p, h in self._pending)
        self._pending = []
        return n

    def paths(self) -> set[str]:
        return {p for p, _, _, _ in self.rows}


def check_deliveries(log: list[dict], root: str, dest: str, rows: list) -> tuple[dict, list[str]]:
    """Per landed file: its final version copied exactly once, last, with
    identical bytes; every other write either copied or superseded.
    Returns (per-file final delivery time, errors)."""
    versions: dict[str, list[dict]] = {}
    for ev in log:
        versions.setdefault(ev["rel"], []).append(ev)
    copies: dict[str, list[tuple[str, float]]] = {}
    for p, h, at, _ in rows:
        copies.setdefault(p, []).append((h, at))
    done: dict[str, float] = {}
    errors = []
    for rel, vs in versions.items():
        vs.sort(key=lambda e: e["version"])
        final = vs[-1]["md5"]
        got = copies.get(os.path.join(root, rel), [])
        written = {v["md5"] for v in vs}
        if [h for h, _ in got].count(final) != 1 or not got or got[-1][0] != final:
            errors.append(f"{rel}: final version copied {[h for h, _ in got].count(final)} times")
            continue
        if any(h not in written for h, _ in got) or len(got) > len(vs):
            errors.append(f"{rel}: copies {len(got)} do not account for {len(vs)} writes")
            continue
        with open(os.path.join(dest, rel), "rb") as f:
            if hashlib.md5(f.read()).hexdigest() != final:
                errors.append(f"{rel}: copied bytes differ from the final version")
                continue
        done[rel] = got[-1][1]
    return done, errors


def _wait_for(pred, timeout: float, step: float = 0.05) -> bool:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if pred():
            return True
        time.sleep(step)
    return pred()


def run(ctx) -> dict:
    t = time.perf_counter()
    watch, dest, ckpt = ctx.path("watch"), ctx.path("mirror"), ctx.path("ckpt")
    os.makedirs(watch)
    timed = gen.make_schedule(ctx.seed, ctx.seconds, FOLDERS_PER_S, FILES_PER_FOLDER)
    warmup = gen.make_schedule(ctx.seed, WARMUP_S, FOLDERS_PER_S, FILES_PER_FOLDER, "WRM")
    # the lander runs on without a pause from the lead-in into the timed
    # events, so the window opens on a pipeline already at its steady state
    lead_in = gen.make_schedule(ctx.seed, LEAD_IN_S, FOLDERS_PER_S, FILES_PER_FOLDER, "LDN")
    schedule = lead_in + [{**e, "due": round(e["due"] + LEAD_IN_S, 3)} for e in timed]
    timed_rels = {e["rel"] for e in timed}
    timed_paths = {os.path.join(watch, rel) for rel in timed_rels}
    for name, events in (("schedule", schedule), ("warmup", warmup)):
        with open(ctx.path(f"{name}.json"), "w") as f:
            json.dump(events, f)
    ini = ctx.path("agent.ini")
    _write_ini(ini, watch)
    ctx.gen_s = time.perf_counter() - t

    from log_agent_spark.__main__ import _safe, _stream_enrich
    from log_agent_spark.config import autoload, read_file_events
    from log_agent_spark.sinks.filecopy import default_path, file_copy_sink
    from log_agent_spark.sinks.multi import MultiSink, console_sink
    from log_agent_spark.streaming.pipeline import run_event_pipeline

    spark = ctx.start_spark()
    tr = ctx.tracer
    # only the traced run registers a listener; the untraced run reads the
    # query's own progress log, so no callback enters this process (which
    # also runs every micro-batch's Python code) while it is timed
    listener = ProgressListener() if ctx.trace else None
    if listener:
        spark.streams.addListener(listener)

    def progress() -> list[dict]:
        if listener:
            return listener.snapshot()
        return [progress_dict(p) for p in query.recentProgress]
    (cfg,) = autoload(ini)
    dest = os.path.join(dest, _safe(cfg.name))
    deliveries = Deliveries()
    failures = [0]
    emit_batches = [0]
    stopping = [False]
    batch_no = [0]

    def timed(name, fn):
        def _f(*a):
            try:
                # spans of one micro-batch share its number as their op id
                with tr.span(name, op=f"batch{batch_no[0]}"):
                    return fn(*a)
            except Exception as exc:
                if stopping[0]:
                    raise  # query.stop() interrupting an in-flight batch
                if name.startswith("sinks."):
                    failures[0] += 1
                ctx.details.setdefault("batch_errors", []).append(f"{name}: {exc}"[:600])
                raise

        return _f

    console = console_sink(priority=0)
    console.write = timed("sinks.console.write", console.write)
    copy = file_copy_sink(dest, path_func=deliveries.path_func(default_path), priority=5)
    copy_write = timed("sinks.filecopy.write", copy.write)

    def copy_and_stamp(df):
        copy_write(df)
        if deliveries.commit(tr.active):
            emit_batches[0] += 1

    copy.write = copy_and_stamp
    enrich = timed("agent.stream_enrich", _stream_enrich(cfg))

    def enrich_batch(batch):
        # the first call of every micro-batch: tracing alternates per batch
        batch_no[0] += 1
        tr.active = tr.enabled and ctx.first_op_at is not None and batch_no[0] % 2 == 0
        if tr.enabled:
            ctx.set_group(f"{BATCH_GROUP}{batch_no[0]}" if tr.active else None)
        return enrich(batch)

    query = run_event_pipeline(
        read_file_events(spark, cfg),
        MultiSink([console, copy]),
        transform=enrich_batch,
        debounce_ms=cfg.debounce_ms or None,
        checkpoint_dir=ckpt,
    )
    ctx.phase("query_started")
    lander = None

    def land(name: str, start: float):
        return subprocess.Popen(
            [sys.executable, gen.__file__, "land", "--schedule", ctx.path(f"{name}.json"),
             "--root", watch, "--staging", ctx.path("staging"),
             "--start", repr(start), "--log", ctx.path(f"{name}.landed.json")],
        )

    try:
        # warm-up: a short burst through the whole chain takes the cold start
        # (the first micro-batch, and the first that emits to the sinks)
        lander = land("warmup", time.time())
        lander.wait(timeout=WARMUP_S + 60)
        lander = None
        n_warm = len({e["rel"] for e in warmup})
        if not _wait_for(lambda: len(deliveries.paths()) >= n_warm, 90):
            raise RuntimeError("warm-up files never reached the file-copy sink")
        ctx.phase("warmup_delivered")
        ctx.details["cold_batch_ms"] = next(iter(progress()), {}).get("duration_ms")
        start = time.time() + 0.2
        lander = land("schedule", start)
        start += LEAD_IN_S  # the first timed file is due here
        time.sleep(max(0.0, start - time.time()))
        ctx.mark_setup_done()
        batches_before = len(progress())
        lander.wait(timeout=ctx.seconds + 60)
        ctx.phase("landed")
        lander = None
        _wait_for(lambda: timed_paths <= deliveries.paths(), DRAIN_TIMEOUT_S, 0.1)
        time.sleep(0.5)  # let a straggling rewrite show up as a double copy
        ctx.phase("drained")
    finally:
        if lander is not None:
            lander.kill()
            lander.wait()
        stopping[0] = True
        query.stop()
        if listener:
            spark.streams.removeListener(listener)
    ctx.phase("query_stopped")

    with open(ctx.path("schedule.landed.json")) as f:
        log = [e for e in json.load(f) if e["rel"] in timed_rels]
    rows = [r for r in deliveries.rows if r[0] in timed_paths]
    done, errors = check_deliveries(log, watch, dest, rows)
    due = {}
    for ev in log:
        due[ev["rel"]] = max(due.get(ev["rel"], 0.0), ev["due_at"])
    traced_by_path = {p: tr_ for p, _, _, tr_ in rows}
    lat = {rel: 1000 * (at - due[rel]) - DEBOUNCE_MS for rel, at in done.items()}
    files = len(due)
    lateness = sorted(1000 * (e["landed_at"] - e["due_at"]) for e in log)
    ctx.details.update(
        files=files, writes=len(log), delivered=len(done), errors=errors[:10],
        gen_s=round(ctx.gen_s, 4),
        lander_lateness_ms={"p50": round(median(lateness), 3), "max": round(lateness[-1], 3)},
    )
    values = list(lat.values())
    by_due = sorted(lat, key=lambda rel: due[rel])
    half = len(by_due) // 2
    if half:
        # a latency that grows through the window means the offered load
        # is above what the pipeline sustains
        ctx.details["latency_p50_ms_by_half"] = [
            round(median([lat[r] for r in by_due[:half]]), 1),
            round(median([lat[r] for r in by_due[half:]]), 1),
        ]
    throughput = len(done) / (max(done.values()) - start) if done else 0.0
    all_events = progress()
    events = all_events[batches_before:]
    # batch durations through the warm-up and lead-in, and in the window
    ctx.details["batch_ms"] = {
        name: [e["duration_ms"].get("triggerExecution", 0) for e in evs]
        for name, evs in (("before", all_events[:batches_before]), ("window", events))
    }
    # the debounce fires on the first batch to start after its deadline, so
    # latency moves with the batch duration
    ctx.details["batch_ms_p50"] = p50([e["duration_ms"].get("triggerExecution", 0) for e in events])
    if not ctx.trace:
        ctx.metrics.add("setup_s", ctx.setup_s(), "s")
        ctx.metrics.add("throughput_per_s", throughput, "1/s", len(done))
        ctx.metrics.add("latency_p50_ms", median(values), "ms", len(values))
        try:
            ctx.details["latency_p95_ms"] = {"value": percentile(values, 95), "n": len(values)}
        except ValueError as exc:
            ctx.details["latency_p95_ms"] = str(exc)
    else:
        _report_layers(ctx, events, failures[0], emit_batches[0], ckpt)
        # writes of timed files that were never copied: collapsed by the
        # debounce (or the in-batch keep-latest) into a later version
        ctx.metrics.add(
            "streaming.debounce.superseded_events", len(log) - len(rows), "count", len(log)
        )
        traced = [v for rel, v in lat.items() if traced_by_path.get(os.path.join(watch, rel))]
        plain = [v for rel, v in lat.items() if not traced_by_path.get(os.path.join(watch, rel))]
        # tracing overhead on what each file waits for beyond the debounce
        ctx.report_overhead(traced, plain)
        ctx.details["traced_latency_p50_ms"] = median(values)
    return {"correct": not errors and len(done) == files, "attempted": files,
            "failed": files - len(done)}


def _report_layers(ctx, events, failures, emits, ckpt) -> None:
    m = ctx.metrics
    ctx.report_common_layers()
    dur = [e["duration_ms"] for e in events]
    state = [e["state"][0] for e in events if e["state"]]
    n = len(events)
    m.add("sources.file_events.latest_offset_ms_p50", p50([d.get("latestOffset", 0) for d in dur]), "ms", n)
    offsets = os.path.join(ckpt, "offsets")
    last = max((int(x) for x in os.listdir(offsets) if x.isdigit()), default=None)
    m.add("sources.file_events.offset_bytes_last",
          os.path.getsize(os.path.join(offsets, str(last))) if last is not None else 0, "bytes")
    m.add("streaming.debounce.state_rows_max", max((s["rows_total"] for s in state), default=0), "count", len(state))
    m.add("streaming.debounce.state_update_ms_p50", p50([s["update_ms"] for s in state]), "ms", len(state))
    m.add("streaming.debounce.state_commit_ms_p50", p50([s["commit_ms"] for s in state]), "ms", len(state))
    m.add("streaming.pipeline.batches", n, "count")
    m.add("streaming.pipeline.data_batches", sum(1 for e in events if e["rows"]), "count")
    m.add("streaming.pipeline.emit_batches", emits, "count")
    for key, name in (("triggerExecution", "trigger"), ("queryPlanning", "planning"),
                      ("walCommit", "wal_commit"), ("addBatch", "add_batch")):
        m.add(f"streaming.pipeline.{name}_ms_p50", p50([d.get(key, 0) for d in dur]), "ms", n)
    for span in ("agent.stream_enrich", "sinks.console.write", "sinks.filecopy.write"):
        t = ctx.tracer.durations(span)
        m.add(f"{span}_ms_p50", 1000 * p50(t), "ms", len(t))
    m.add("sinks.failures", failures, "count")
    _report_batch_engine(ctx)


def _report_batch_engine(ctx) -> None:
    """spark.* per micro-batch, over the traced batches' job groups."""
    groups: dict[str, list[dict]] = {}
    for j in read_jobs(ctx.spark, BATCH_GROUP):
        groups.setdefault(j["group"], []).append(j)
    per_batch = []
    for js in groups.values():
        starts = [j["start"] for j in js if j["start"]]
        ends = [j["end"] for j in js if j["end"]]
        wall = (max(ends) - min(starts)) if starts and ends else 0.0
        per_batch.append(engine_totals(js, wall))
    ctx.report_engine(per_batch)
