"""File-copy sink (K3, watchdog/handler/file.go:44-88).

Copies each record's content to ``dest_root/sub_dir/filename`` (or a custom
path function's output; empty ⇒ skip, file.go:49-54), then restores the
source's mtime on the copy (Chtimes, file.go:79-88).

Spark-first shape: ``foreachPartition``-style distributed writes via
``mapInPandas`` would shuffle content through Python; instead the batch
volume here is the micro-batch, so a driver-side loop over
``toLocalIterator`` writes the rows while the upstream plan stays
distributed. ``toLocalIterator`` runs one job per partition and holds one
whole partition in driver memory at a time, so the frame's partitioning
sets both the job count and the driver's footprint: the whole-file read
of both modes sizes its partitions by bytes for that reason
(sources/binary_files.read_binary_files). For cluster-scale fan-out to a
shared filesystem, swap in ``df.write.format('binaryFile')``-less
per-partition writers; the sink interface (sinks/multi.py) is unchanged.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, Row

from log_agent_spark.sinks.multi import Sink

PathFunc = Callable[[Row], str]


def default_path(row: Row) -> str:
    """file.go:44-47 dest layout: <dir>/<filename>. The directory comes from
    an EXPLICIT producer column, never a suffix heuristic (a dir legitimately
    named like the file, e.g. sub_dir='logs/a.log' + filename='a.log', would
    defeat any endswith inference — ADVICE r3): enrich_file_meta frames carry
    `folder` (the directory part, reference SubDir semantics,
    watchdog.go:338-347) which wins; hand-built frames carry `sub_dir` as a
    plain directory, joined unconditionally."""
    if "folder" in row and row["folder"] is not None:
        sub = row["folder"]
    else:
        sub = (row["sub_dir"] if "sub_dir" in row else "") or ""
    return os.path.join(sub, row["filename"])


def file_copy_sink(
    dest_root: str,
    path_func: PathFunc = default_path,
    priority: int = 0,
    preserve_mtime: bool = True,
) -> Sink:
    def _write(df: DataFrame) -> None:
        # full rows, no projection: a column whitelist here silently starves
        # path_func of whatever columns it reads (first `folder`, then any
        # custom func's column — the same failure class per incident); the
        # dominant column (content) is needed anyway, so projecting saves
        # nothing material
        for row in df.toLocalIterator():
            rel = path_func(row)
            if not rel:  # custom path '' ⇒ skip (file.go:49-54)
                continue
            dest = os.path.join(dest_root, rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            with open(dest, "wb") as f:
                f.write(bytes(row["content"] or b""))
            if preserve_mtime and row["modify_time"] is not None:
                ts = row["modify_time"].timestamp()
                os.utime(dest, (ts, ts))  # Chtimes parity, file.go:79-88

    return Sink(name="file", write=_write, priority=priority)
