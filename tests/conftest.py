"""Shared pytest fixtures: one SparkSession per test session, sf0.001 data.

local mode with few shuffle partitions — stateful streaming micro-batches
otherwise run hundreds of empty tasks (see .claude/skills/verify/SKILL.md).
"""

from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from log_agent_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("tests")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
