"""backfill_small_files: the agent's ``--mode backfill`` path over a seeded
tree of small BSI files. One operation is one pass: ``autoload`` on the
ini, ``build_batch_ingest``, ``write_logfile`` into a fresh directory."""

from __future__ import annotations

import gzip
import hashlib
import time

import gen
from instrument import noop_s
from stats import median

N_FILES = 40
WARMUP_FILES = 8
PREFIX_ROUNDS = 2


def _write_ini(path: str, watch: str) -> None:
    with open(path, "w") as f:
        f.write(
            "[GLOBAL]\nswitch = on\n\n"
            f"[BSI.ICT]\nwatch = {watch}\npatterns = .*\nignores = /~\n"
            "history_import = true\nswitch = on\n"
        )


def check_output(out_dir: str, expected: dict) -> list[str]:
    """Every expected row exactly once, with the source md5 as checksum and
    the gzip gate applied; compressed content must gunzip to the source."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        out_dir, columns=["pack", "name", "size", "checksum", "compress", "content"]
    ).to_pylist()
    errors = []
    seen = set()
    for r in t:
        key = (r["pack"], r["name"])
        if key in seen:
            errors.append(f"duplicate row {key}")
            continue
        seen.add(key)
        exp = expected.get(key)
        if exp is None:
            errors.append(f"unexpected row {key}")
            continue
        size, md5, compress = exp
        if r["size"] != size or r["checksum"] != md5:
            errors.append(f"{key}: size/checksum {r['size']}/{r['checksum']} != {size}/{md5}")
        if r["compress"] != compress:
            errors.append(f"{key}: compress={r['compress']}, gate says {compress}")
        body = r["content"] or b""
        raw = gzip.decompress(body) if r["compress"] else body
        if hashlib.md5(raw).hexdigest() != md5:
            errors.append(f"{key}: content does not match the source bytes")
    missing = set(expected) - seen
    if missing:
        errors.append(f"{len(missing)} rows missing, e.g. {sorted(missing)[0]}")
    return errors


def _prefix_layers(ctx, cfg) -> dict[str, float]:
    """Time the ingest plan prefix by prefix into noop; each layer's cost is
    the difference between consecutive prefixes."""
    from pyspark.sql import functions as F

    from log_agent_spark.functions.paths import bsi_parse
    from log_agent_spark.functions.ziputil import with_zip_members
    from log_agent_spark.plans.ingest import ingest_tree, write_logfile
    from log_agent_spark.sources.binary_files import enrich_file_meta, read_binary_tree

    spark = ctx.spark
    t = time.perf_counter()
    raw = read_binary_tree(spark, cfg.watch, ignore=cfg.ignores)
    list_s = time.perf_counter() - t
    scan = noop_s(raw)
    meta = bsi_parse(
        # the size gate ingest_tree applies by default (max_file_size)
        enrich_file_meta(raw, cfg.watch).filter(F.col("size") <= 16 * 1024 * 1024)
    )
    enrich = noop_s(meta)
    explode = noop_s(with_zip_members(meta))
    full = ingest_tree(spark, cfg.watch, ignore=cfg.ignores)
    compress = noop_s(full)
    t = time.perf_counter()
    write_logfile(full, ctx.path("out", f"prefix{time.perf_counter_ns()}"))
    write = time.perf_counter() - t
    return {
        "sources.binary_files.list_s": list_s,
        "sources.binary_files.scan_s": scan,
        "functions.paths.enrich_s": enrich - scan,
        "functions.ziputil.explode_s": explode - enrich,
        "functions.content.compress_s": compress - explode,
        "plans.ingest.write_s": write - compress,
    }


def run(ctx) -> dict:
    from log_agent_spark.functions.content import GZIP_MIN_LENGTH, NEVER_COMPRESS_EXT

    t = time.perf_counter()
    manifest = gen.make_bsi_tree(ctx.path("tree"), ctx.seed, N_FILES)
    ini = ctx.path("agent.ini")
    _write_ini(ini, ctx.path("tree"))
    # a small tree of the same shape takes the cold start (Spark's Python
    # workers, first planning); the first timed pass is still about 10%
    # slower than the rest, which the median over passes absorbs
    gen.make_bsi_tree(ctx.path("warm"), ctx.seed + 1, WARMUP_FILES)
    warm_ini = ctx.path("warm.ini")
    _write_ini(warm_ini, ctx.path("warm"))
    ctx.gen_s = time.perf_counter() - t

    from log_agent_spark.config import autoload, build_batch_ingest
    from log_agent_spark.plans.ingest import write_logfile

    spark = ctx.start_spark()
    tr = ctx.tracer

    def one_pass(i) -> None:
        with tr.span("config.autoload"):
            (cfg,) = autoload(warm_ini if i == "warm" else ini)
        with tr.span("config.build_batch_ingest"):
            df = build_batch_ingest(spark, cfg)
        with tr.span("plans.ingest.write_logfile"):
            write_logfile(df, ctx.path("out", str(i)))

    ops = ctx.run_ops(one_pass, warmups=("warm",))
    n_files = sum(1 for f in manifest["files"] if f["kind"] != "ignored")
    window = ctx.window_s
    lat = [o["s"] for o in ops]

    expected = gen.expected_backfill_rows(manifest, GZIP_MIN_LENGTH, NEVER_COMPRESS_EXT)
    failed = 0
    errors = []
    for o in ops:
        errs = check_output(ctx.path("out", str(o["i"])), expected)
        if errs:
            failed += 1
            errors.extend(errs[:3])
    ctx.details.update(
        files=n_files, rows=len(expected), passes=len(ops), errors=errors[:10],
        gen_s=round(ctx.gen_s, 4),
    )

    if not ctx.trace:
        ctx.metrics.add("setup_s", ctx.setup_s(), "s")
        ctx.metrics.add("throughput_per_s", n_files * len(ops) / window, "1/s", len(ops))
        ctx.metrics.add("latency_p50_ms", 1000 * median(lat), "ms", len(ops))
    else:
        ctx.details["traced_latency_p50_ms"] = 1000 * median(lat)
        ctx.report_common_layers()
        ctx.report_engine(ctx.traced_op_engine(ops))
        ctx.report_overhead(
            [o["s"] for o in ops if o["traced"]], [o["s"] for o in ops if not o["traced"]]
        )
        (cfg,) = autoload(ini)
        rounds = [_prefix_layers(ctx, cfg) for _ in range(PREFIX_ROUNDS)]
        for name in rounds[0]:
            ctx.metrics.add(name, median([r[name] for r in rounds]), "s", len(rounds))
        scan_tasks = (
            spark.read.format("binaryFile").option("recursiveFileLookup", "true")
            .load(cfg.watch).rdd.getNumPartitions()
        )
        nonempty = sum(1 for f in manifest["files"] if f["size"] > 0)
        ctx.metrics.add("sources.binary_files.files_per_task", nonempty / scan_tasks, "files/task")
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed}
