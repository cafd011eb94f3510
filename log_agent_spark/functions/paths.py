"""Path-derived enrichment (SURVEY.md §2.4 M1-M4).

The reference's metadata enrichment (watchdog/watchdog.go:328-385) and the
BSI business-path parser (plugins/BSI.go:23-74), as pure column expressions
over the ``binaryFile`` source's ``_metadata``-style columns.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# testID suffix format: 2017-06-07_16_15_42_797 (BSI.go:59-74)
BSI_TIME_RE = r"(\d{4}-\d{2}-\d{2}_\d{2}_\d{2}_\d{2}_\d{3})$"
BSI_TIME_FMT = "yyyy-MM-dd_HH_mm_ss_SSS"


def sub_dir(path: Column, root: Column) -> Column:
    """Path relative to the watch root, slash-normalized, no leading slash
    (watchdog.go:337-347). The root is \\Q..\\E-quoted so regex
    metacharacters in a real watch path ((, +, [ …) are matched literally
    instead of corrupting the strip pattern."""
    rel = F.regexp_replace(
        F.regexp_replace(path, r"\\", "/"),
        F.concat(
            F.lit("^\\Q"),
            F.regexp_replace(root, r"\\", "/"),
            F.lit("\\E/?"),
        ),
        F.lit(""),
    )
    return rel


def filename(path: Column) -> Column:
    return F.substring_index(F.regexp_replace(path, r"\\", "/"), "/", -1)


def extension(path: Column) -> Column:
    """Lowercased extension without the dot; '' when none (watchdog.go:373-384)."""
    name = filename(path)
    return F.when(
        name.contains("."), F.lower(F.substring_index(name, ".", -1))
    ).otherwise(F.lit(""))


def folder(path_sub_dir: Column) -> Column:
    """Directory part of sub_dir ('' for top-level files)."""
    return F.when(
        path_sub_dir.contains("/"),
        F.regexp_replace(path_sub_dir, r"/[^/]*$", ""),
    ).otherwise(F.lit(""))


def bsi_parse(df: DataFrame, sub_dir_col: str = "sub_dir") -> DataFrame:
    """BSI Transform (plugins/BSI.go:23-57): the reference splits the
    file's DIRECTORY path (FileMeta.SubDir, watchdog/watchdog.go:347 —
    no filename) on '/', requires 4 or 5 segments
    (<family>/<model>/<date>/<test_id>[/...]), and takes the LAST segment
    as testID (BSI.go:46-51 ``pathArray[len(pathArray)-1]``). Our
    ``sub_dir`` column INCLUDES the filename, so the equivalent window is
    5-6 path segments with testID = the second-to-last (round-6 review:
    the previous 4-5-segments-of-the-full-path window was off by one —
    it conformed depth-3 directories using the FILENAME as testID and
    rejected conforming depth-5 directories). folder_time is parsed from
    testID's trailing timestamp; file_time (create_time) is overridden by
    folder_time so re-created files keep a stable key (BSI.go:30-32,
    52-54). Non-conforming paths pass through unchanged (BSI.go:46-49)."""
    cols = dict(_bsi_columns(sub_dir_col))
    if "create_time" not in df.columns:
        del cols["create_time"]
    return df.withColumns(cols)


@functools.lru_cache(maxsize=16)
def _bsi_columns(sub_dir_col: str) -> tuple[tuple[str, Column], ...]:
    """bsi_parse's (name, column) pairs, built once per column name: they
    are unresolved and session-free, and building them over py4j costs more
    than a live micro-batch's whole read (each use still gets fresh
    expression ids)."""
    segs = F.split(F.col(sub_dir_col), "/")
    n = F.size(segs)
    conforms = (n >= 5) & (n <= 6)
    # second-to-last = the deepest DIRECTORY segment. Spark 4.1.2 throws
    # INVALID_INDEX_OF_ZERO even via try_element_at when n == 1 (ADVICE r6 —
    # the old comment claimed NULL), so clamp the index to >= 1; the when()
    # keeps non-conforming paths NULL regardless of what the clamp selects.
    test_id = F.when(
        conforms, F.try_element_at(segs, F.greatest(n - 1, F.lit(1)).cast("int"))
    )
    ts_str = F.regexp_extract(test_id, BSI_TIME_RE, 1)
    folder_time = F.when(
        conforms & (ts_str != ""), F.to_timestamp(ts_str, BSI_TIME_FMT)
    ).otherwise(F.lit(None).cast("timestamp"))
    return (
        ("bsi_family", F.when(conforms, F.element_at(segs, 1))),
        ("bsi_model", F.when(conforms, F.element_at(segs, 2))),
        ("bsi_test_id", test_id),  # already conforms-guarded
        ("folder_time", folder_time),
        # M4 business-time override (BSI.go:52-54)
        ("create_time", F.coalesce(folder_time, F.col("create_time"))),
    )
