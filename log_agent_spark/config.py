"""Config-driven pipeline factory — the reference's plugin surface (P1-P6).

The reference autoloads one "plugin" per ini section that has a ``watch``
key (plugins/plugin.go:192-221): section ``FOO.BAR`` → plugin type ``FOO``
(the transform to apply), global ``KAFKA``/``CASSANDRA`` sections inherited
into each biz section (plugin.go:207-211), per-section ``switch`` gating
activation (plugin.go:57-64), ``AutoCheck`` validating config before wiring
(plugin.go:67-80), and ``AutoInit`` materializing the watch Rule + sink
list (plugin.go:112-168).

Spark-first form: an ini file parsed into ``BizConfig`` dataclasses, a
transform registry keyed by plugin prefix (BSI → bsi_parse; unknown prefix
→ identity, the SPI precedent, plugins/SPI.go:1-11), and builders that turn
a BizConfig into the batch ingest plan or the live file-event source (the
agent, ``__main__``, starts the standing pipeline over that source).

ini layout (mirrors conf/logagent.ini keys; configparser needs the global
keys in [GLOBAL] rather than header-less):

    [GLOBAL]            switch = on
    [KAFKA]             brokers = ... / topic = ...
    [CASSANDRA]         hosts = ... / keyspace = ...
    [BSI.ICT]           watch = /data/ict
                        patterns = .*\\.log$
                        ignores = ^~
                        max_nesting_level = 5
                        debounce = 3000
                        history_import = true
                        switch = on
"""

from __future__ import annotations

import configparser
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from log_agent_spark.functions.paths import bsi_parse

DEFAULT_DEBOUNCE_MS = 3000  # plugins/plugin.go:122

Transform = Callable[[DataFrame], DataFrame]

# P5 registry: plugin-type prefix → per-biz transform (P4 Transform hook).
_TRANSFORMS: dict[str, Transform] = {}


def register_transform(name: str) -> Callable[[Transform], Transform]:
    """Decorator: register a biz transform under a plugin-type name."""

    def _reg(fn: Transform) -> Transform:
        _TRANSFORMS[name.upper()] = fn
        return fn

    return _reg


def get_transform(plugin: str) -> Transform:
    """Transform for a plugin type; identity when unregistered — the SPI
    plugin inherits every default (plugins/SPI.go:1-11)."""
    return _TRANSFORMS.get(plugin.upper(), lambda df: df)


register_transform("BSI")(bsi_parse)


@dataclass
class BizConfig:
    """One standing pipeline — the fsnotify.Rule analog (fsnotify.go:21-30)."""

    name: str  # full section name, e.g. BSI.ICT
    watch: str
    plugin: str = ""  # section prefix → transform lookup (plugin.go:195-205)
    patterns: str = ".*"  # F1; '' / '.*' = match-all (fsnotify.go:184-190)
    ignores: str = ""  # F2
    max_nesting_level: int = 0  # F5; 0 = unlimited (fsnotify.go:174-179)
    debounce_ms: int = DEFAULT_DEBOUNCE_MS  # T1; 0 = bypass (watchdog.go:157-161)
    history_import: bool = True  # S2 backfill on/off (plugin.go:125-129)
    enabled: bool = True  # per-section switch (plugin.go:57-64)
    kafka: dict[str, str] = field(default_factory=dict)  # inherited globals
    cassandra: dict[str, str] = field(default_factory=dict)

    def __post_init__(self) -> None:
        if not self.plugin:
            self.plugin = self.name.split(".", 1)[0]

    @property
    def transform(self) -> Transform:
        return get_transform(self.plugin)

    def validate(self) -> None:
        """AutoCheck (plugin.go:67-80): fail fast on unusable config."""
        if not self.watch:
            raise ValueError(f"[{self.name}] 'watch' is required")
        if self.debounce_ms < 0:
            raise ValueError(f"[{self.name}] 'debounce' must be >= 0")
        if self.max_nesting_level < 0:
            raise ValueError(f"[{self.name}] 'max_nesting_level' must be >= 0")


def autoload(ini_path: str) -> list[BizConfig]:
    """Parse the ini into active, validated BizConfigs.

    Mirrors plugins.Autoload (plugin.go:192-221): every section with a
    ``watch`` key becomes a pipeline; global KAFKA/CASSANDRA inherited;
    sections switched off are dropped; the global switch drops everything.
    """
    cp = configparser.ConfigParser()
    with open(ini_path) as f:
        cp.read_file(f)

    def _on(v: str) -> bool:
        return v.strip().lower() in ("on", "true", "1", "yes")

    if cp.has_section("GLOBAL") and not _on(cp["GLOBAL"].get("switch", "on")):
        return []  # cmd/run.go:20-27 global gate

    kafka = dict(cp["KAFKA"]) if cp.has_section("KAFKA") else {}
    cassandra = dict(cp["CASSANDRA"]) if cp.has_section("CASSANDRA") else {}

    out: list[BizConfig] = []
    for section in cp.sections():
        sec = cp[section]
        if "watch" not in sec:
            continue  # plugin.go:195-205: only watch-bearing sections
        if not _on(sec.get("switch", "on")):
            continue  # IsActive (plugin.go:57-64)
        cfg = BizConfig(
            name=section,
            watch=sec["watch"],
            patterns=sec.get("patterns", ".*"),
            ignores=sec.get("ignores", ""),
            max_nesting_level=sec.getint("max_nesting_level", 0),
            debounce_ms=sec.getint("debounce", DEFAULT_DEBOUNCE_MS),
            history_import=sec.getboolean("history_import", True),
            # per-section overrides merge over the inherited globals
            # (plugin.go:207-211)
            kafka={**kafka, **{k[6:]: v for k, v in sec.items() if k.startswith("kafka_")}},
            cassandra={
                **cassandra,
                **{k[10:]: v for k, v in sec.items() if k.startswith("cassandra_")},
            },
        )
        cfg.validate()
        out.append(cfg)
    return out


def build_batch_ingest(spark: SparkSession, cfg: BizConfig) -> DataFrame:
    """AutoInit for the backfill path (S2/S3): BizConfig → logfile rows with
    the biz transform applied, the live path's read and enrich."""
    from log_agent_spark.plans.ingest import ingest_tree

    return ingest_tree(
        spark,
        cfg.watch,
        pattern=cfg.patterns,
        ignore=cfg.ignores,
        max_nesting_level=cfg.max_nesting_level,
        transform=cfg.transform,
    )


def read_file_events(spark: SparkSession, cfg: BizConfig) -> DataFrame:
    """S1 live source from config: the custom file_events DataSource with
    the Rule's filters (F1/F2/F5) pushed into the walk and its debounce
    window (T1) held by the source, projected to EVENT_SCHEMA for the
    pipeline (the watcher callback's Biz/RootPath stamping,
    watcher/fsnotify.go:49-54)."""
    from pyspark.sql import functions as F

    from log_agent_spark.sources.file_events_stream import FileEventsDataSource

    spark.dataSource.register(FileEventsDataSource)
    reader = (
        spark.readStream.format("file_events")
        .option("path", cfg.watch)
        .option("debounce_ms", str(cfg.debounce_ms))
    )
    if cfg.patterns not in ("", ".*"):
        reader = reader.option("pattern", cfg.patterns)
    if cfg.ignores:
        reader = reader.option("ignore", cfg.ignores)
    if cfg.max_nesting_level:
        reader = reader.option("max_nesting_level", str(cfg.max_nesting_level))
    raw = reader.load()
    return raw.select(
        "path",
        "op",
        F.lit(cfg.plugin).alias("biz"),
        F.lit(cfg.watch).alias("root_path"),
        F.col("mod_time").alias("ts"),
        "mod_time",
        F.lit(False).alias("is_dir"),
    )
