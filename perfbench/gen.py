"""Seeded input generators for the benchmark, kept apart from the system
under test: nothing here imports pyspark or log_agent_spark.

Each generator writes only its inputs plus a ground-truth manifest, and the
same seed always gives byte-identical output:

- ``make_bsi_tree``: a BSI-layout tree (family/model/date/testid_ts/file)
  of small files for the backfill path, with zip archives, zero-byte files
  and ``~``-prefixed files the agent must ignore.
- ``make_schedule``: the open-loop landing schedule for the live workload.
  ``python3 perfbench/gen.py land ...`` replays it in its own process,
  landing each file by atomic rename at its due time and logging when it
  actually landed.
"""

from __future__ import annotations

import argparse
import hashlib
import io
import json
import math
import os
import random
import re
import statistics
import sys
import time
import zipfile

BASE_EPOCH = 1_790_000_000  # fixed mtimes keep the tree byte- and stat-stable
TEXT_EXTS = ("log", "log", "log", "log", "txt", "csv")
NEVER_COMPRESS_EXTS = ("jpg", "png")


def md5(data: bytes) -> str:
    return hashlib.md5(data).hexdigest()


# ---------------------------------------------------------------------------
# BSI tree (backfill_small_files)
# ---------------------------------------------------------------------------
_LEVELS = ("INFO", "INFO", "INFO", "DEBUG", "WARN", "ERROR")
_PARTS = ("probe", "fixture", "rail", "dut", "scanner", "stage", "loader")


def _size(rng: random.Random) -> int:
    # lognormal, median 1 KiB: about half the files sit above the gzip gate
    return int(min(65536, max(200, rng.lognormvariate(math.log(1024), 1.3))))


def _log_bytes(rng: random.Random, size: int) -> bytes:
    out = []
    n = 0
    while n < size:
        line = (
            f"2026-10-{rng.randint(1, 28):02d} {rng.randint(0, 23):02d}:"
            f"{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d} "
            f"{rng.choice(_LEVELS)} {rng.choice(_PARTS)}{rng.randint(0, 9)} "
            f"step={rng.randint(0, 999)} v={rng.random():.5f}\n"
        )
        out.append(line)
        n += len(line)
    return "".join(out).encode()[:size]


def _zip_bytes(rng: random.Random, members: list[tuple[str, bytes]]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in members:
            info = zipfile.ZipInfo(name, date_time=(2026, 10, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, data)
    return buf.getvalue()


N_DAYS = 4  # test dates per tree: the backfill writes one partition per date


def _test_dirs(rng: random.Random, n: int, family: str | None = None) -> list[str]:
    """``n`` BSI test folders. Their dates cycle over N_DAYS fixed days, so
    every seed gives the backfill the same number of output partitions."""
    dirs = []
    for i in range(n):
        fam = family or rng.choice(("ICT", "FCT", "AOI"))
        model = f"M{rng.randint(1, 6):02d}"
        day = 1 + i % N_DAYS
        ts = (
            f"2026-10-{day:02d}_{rng.randint(0, 23):02d}_{rng.randint(0, 59):02d}"
            f"_{rng.randint(0, 59):02d}_{rng.randint(0, 999):03d}"
        )
        dirs.append(f"{fam}/{model}/2026-10-{day:02d}/T{i:05d}_{ts}")
    return dirs


def _stratified_sizes(rng: random.Random, n: int) -> list[int]:
    """``n`` lognormal sizes (median 1 KiB, 200 B to 64 KiB), one from each
    of ``n`` equal-probability strata, in random order: every seed gets the
    same size distribution, so runs differ in layout, not in total work."""
    dist = statistics.NormalDist(math.log(1024), 1.3)
    sizes = [
        int(min(65536, max(200, math.exp(dist.inv_cdf((i + rng.random()) / n)))))
        for i in range(n)
    ]
    rng.shuffle(sizes)
    return sizes


def make_bsi_tree(root: str, seed: int, n_files: int) -> dict:
    """Write ``n_files`` files in BSI layout under ``root``; return the
    manifest: one entry per file with its kind, size, md5 and, for zip
    archives, its members. Kinds come in fixed shares (4% zip archives of
    3-5 members, 2% zero-byte, 2% ``~``-ignored, a tenth of the rest
    never-compress images) at seeded positions."""
    rng = random.Random(seed)
    dirs = _test_dirs(rng, max(1, n_files // 5))
    n_zip, n_empty, n_ign = (max(1, round(share * n_files)) for share in (0.04, 0.02, 0.02))
    kinds = ["zip"] * n_zip + ["empty"] * n_empty + ["ignored"] * n_ign
    n_plain = n_files - len(kinds)
    n_img = round(0.1 * n_plain)
    kinds += ["image"] * n_img + ["plain"] * (n_plain - n_img)
    rng.shuffle(kinds)
    sizes = iter(_stratified_sizes(rng, n_files))
    files = []
    for i, kind in enumerate(kinds):
        d = dirs[i % len(dirs)]
        size = next(sizes)
        members = []
        if kind == "zip":
            ext = "zip"
            raw = [
                (f"part{j}.log", _log_bytes(rng, _size(rng)))
                for j in range(rng.randint(3, 5))
            ]
            data = _zip_bytes(rng, raw)
            members = [{"name": n, "size": len(b), "md5": md5(b)} for n, b in raw]
        elif kind == "empty":
            ext, data = "log", b""
        elif kind == "image":
            ext, data = rng.choice(NEVER_COMPRESS_EXTS), rng.randbytes(size)
        else:  # plain text, or ignored by name
            ext, data = rng.choice(TEXT_EXTS), _log_bytes(rng, size)
        name = f"{'~' if kind == 'ignored' else ''}f{i:05d}.{ext}"
        rel = f"{d}/{name}"
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)
        os.utime(path, (BASE_EPOCH + i, BASE_EPOCH + i))
        files.append(
            {"rel": rel, "name": name, "kind": kind, "ext": ext,
             "size": len(data), "md5": md5(data), "members": members}
        )
    return {"seed": seed, "root": root, "files": files}


def expected_backfill_rows(manifest: dict, gzip_min: int, never_ext: str) -> dict:
    """(pack, name) → (size, checksum, compress) for every row the backfill
    must write: one per non-ignored file, zip archives as their members.
    Members keep the archive's extension for the compression gate."""
    never = re.compile(never_ext)
    out = {}
    for f in manifest["files"]:
        if f["kind"] == "ignored":
            continue
        gate_ext = never.search(f["ext"]) is None
        if f["kind"] == "zip":
            for m in f["members"]:
                out[(f["name"], m["name"])] = (
                    m["size"], m["md5"], m["size"] > gzip_min and gate_ext
                )
        else:
            out[("", f["name"])] = (f["size"], f["md5"], f["size"] > gzip_min and gate_ext)
    return out


# ---------------------------------------------------------------------------
# Open-loop landing schedule (live_tail)
# ---------------------------------------------------------------------------
def make_schedule(
    seed: int, seconds: float, folders_per_s: float, files_per_folder: int = 4,
    family: str | None = None,
) -> list[dict]:
    """Landing events sorted by due time (seconds from the schedule start).
    ``seconds * folders_per_s`` BSI test folders of ``files_per_folder``
    files land, one at a seeded uniform time within each 1/folders_per_s
    slot: a fixed count, so the offered load is the same for every seed,
    but no fixed period for the micro-batches to lock on to. A quarter of
    the files are rewritten once or twice more, 500 ms apart. Each event
    carries the exact bytes' seed. ``family`` pins the first path segment
    (keeps two schedules apart)."""
    rng = random.Random(seed)
    events = []
    n_folders = round(seconds * folders_per_s)
    dirs = _test_dirs(rng, n_folders, family)
    for k, d in enumerate(dirs):
        t0 = (k + rng.random()) / folders_per_s
        for j in range(files_per_folder):
            rel = f"{d}/f{j}.log"
            versions = 1 + (rng.randint(1, 2) if rng.random() < 0.25 else 0)
            for v in range(versions):
                events.append(
                    {"due": round(t0 + 0.5 * v, 3), "rel": rel, "version": v,
                     "size": _size(rng), "seed": rng.getrandbits(32)}
                )
    events.sort(key=lambda e: (e["due"], e["rel"], e["version"]))
    return events


def event_bytes(ev: dict) -> bytes:
    return _log_bytes(random.Random(ev["seed"]), ev["size"])


def land(schedule_path: str, root: str, staging: str, start: float, log_path: str) -> None:
    """Replay a schedule open-loop: each file is written to ``staging`` and
    renamed into ``root`` at ``start + due``, whatever the system under test
    is doing. Writes a log of (rel, version, due, landed, md5) at the end."""
    with open(schedule_path) as f:
        events = json.load(f)
    payloads = [event_bytes(e) for e in events]  # prepared before the clock
    os.makedirs(staging, exist_ok=True)
    log = []
    for i, (ev, data) in enumerate(zip(events, payloads)):
        due = start + ev["due"]
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        dst = os.path.join(root, ev["rel"])
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        tmp = os.path.join(staging, f"{i}.tmp")
        with open(tmp, "wb") as f:
            f.write(data)
        os.rename(tmp, dst)
        log.append({**ev, "due_at": due, "landed_at": time.time(), "md5": md5(data)})
    with open(log_path, "w") as f:
        json.dump(log, f)


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="gen.py")
    sub = p.add_subparsers(dest="cmd", required=True)
    lp = sub.add_parser("land", help="replay a landing schedule open-loop")
    lp.add_argument("--schedule", required=True)
    lp.add_argument("--root", required=True)
    lp.add_argument("--staging", required=True)
    lp.add_argument("--start", type=float, required=True)
    lp.add_argument("--log", required=True)
    args = p.parse_args(argv)
    land(args.schedule, args.root, args.staging, args.start, args.log)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
