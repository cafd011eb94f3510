"""python -m log_agent_spark: config-driven agent runner, both modes e2e."""

from __future__ import annotations

import os
import subprocess
import sys


def _write_tree(root):
    os.makedirs(os.path.join(root, "sub"), exist_ok=True)
    with open(os.path.join(root, "a.log"), "wb") as f:
        f.write(b"alpha line\n")
    with open(os.path.join(root, "sub", "b.log"), "wb") as f:
        f.write(b"beta line\n")
    with open(os.path.join(root, "skip.tmp"), "wb") as f:
        f.write(b"nope")


def _write_ini(path, watch):
    with open(path, "w") as f:
        f.write(
            "[GLOBAL]\nswitch = on\n\n"
            f"[SPI.CLI]\nwatch = {watch}\n"
            "patterns = \\.log$\n"
            "debounce = 0\n"
        )


def test_backfill_mode_writes_parquet(tmp_path):
    watch = str(tmp_path / "watched")
    _write_tree(watch)
    ini = str(tmp_path / "agent.ini")
    _write_ini(ini, watch)
    out = str(tmp_path / "out")
    proc = subprocess.run(
        [sys.executable, "-m", "log_agent_spark",
         "--config", ini, "--mode", "backfill", "--output", out],
        capture_output=True, text=True, timeout=300,
        cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    import duckdb

    got = duckdb.sql(
        f"SELECT name, size FROM read_parquet('{out}/SPI.CLI/**/*.parquet') "
        "ORDER BY name"
    ).fetchall()
    assert [r[0] for r in got] == ["a.log", "b.log"]
    assert all(r[1] > 0 for r in got)


def test_backfill_from_outside_checkout_via_pythonpath(tmp_path):
    """Python workers fork from the engine daemon (``python -m
    log_agent_spark.pyworker``); with a cwd outside the checkout the
    package is found only through PYTHONPATH, and the backfill's
    mapInPandas/pandas_udf tasks still need the daemon to start."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    watch = str(tmp_path / "watched")
    _write_tree(watch)
    ini = str(tmp_path / "agent.ini")
    _write_ini(ini, watch)
    out = str(tmp_path / "out")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, "-m", "log_agent_spark",
         "--config", ini, "--mode", "backfill", "--output", out],
        capture_output=True, text=True, timeout=300,
        cwd=str(tmp_path), env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    import duckdb

    got = duckdb.sql(
        f"SELECT name FROM read_parquet('{out}/SPI.CLI/**/*.parquet') "
        "ORDER BY name"
    ).fetchall()
    assert [r[0] for r in got] == ["a.log", "b.log"]


def test_stream_mode_copies_files(tmp_path):
    watch = str(tmp_path / "watched")
    _write_tree(watch)
    ini = str(tmp_path / "agent.ini")
    _write_ini(ini, watch)
    dest = str(tmp_path / "mirror")
    proc = subprocess.run(
        [sys.executable, "-m", "log_agent_spark",
         "--config", ini, "--mode", "stream",
         "--copy-dest", dest, "--checkpoint", str(tmp_path / "ckpt"),
         "--duration", "40"],
        capture_output=True, text=True, timeout=300,
        cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    copied = {
        os.path.relpath(os.path.join(dp, f), os.path.join(dest, "SPI.CLI"))
        for dp, _, fs in os.walk(os.path.join(dest, "SPI.CLI"))
        for f in fs
    }
    assert copied == {"a.log", os.path.join("sub", "b.log")}, (copied, proc.stderr[-800:])
    with open(os.path.join(dest, "SPI.CLI", "a.log"), "rb") as f:
        assert f.read() == b"alpha line\n"


def test_global_switch_off_is_clean_noop(tmp_path):
    ini = str(tmp_path / "agent.ini")
    with open(ini, "w") as f:
        f.write("[GLOBAL]\nswitch = off\n\n[SPI.X]\nwatch = /nowhere\n")
    proc = subprocess.run(
        [sys.executable, "-m", "log_agent_spark", "--config", ini],
        capture_output=True, text=True, timeout=120, cwd="/root/repo",
    )
    assert proc.returncode == 0
    assert "no active pipelines" in proc.stdout


def test_stream_mode_supervised_copies_files(tmp_path):
    """--supervise: the S4 guard path delivers the same result for a
    healthy pipeline (serve loop, clean stop at --duration)."""
    watch = str(tmp_path / "watched")
    _write_tree(watch)
    ini = str(tmp_path / "agent.ini")
    _write_ini(ini, watch)
    dest = str(tmp_path / "mirror")
    proc = subprocess.run(
        [sys.executable, "-m", "log_agent_spark",
         "--config", ini, "--mode", "stream", "--supervise",
         "--copy-dest", dest, "--checkpoint", str(tmp_path / "ckpt"),
         "--duration", "40"],
        capture_output=True, text=True, timeout=300,
        cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    copied = {
        os.path.relpath(os.path.join(dp, f), os.path.join(dest, "SPI.CLI"))
        for dp, _, fs in os.walk(os.path.join(dest, "SPI.CLI"))
        for f in fs
    }
    assert copied == {"a.log", os.path.join("sub", "b.log")}, (copied, proc.stderr[-800:])


def test_check_mode_validates_config_without_spark(tmp_path):
    """`--check` = the reference's `dcagent -t` self-check (cmd/test.go:7-10,
    nginx -t convention): full autoload validation, exit 0/1, no session."""
    watch = str(tmp_path / "watched")
    _write_tree(watch)
    ini = str(tmp_path / "agent.ini")
    _write_ini(ini, watch)
    proc = subprocess.run(
        [sys.executable, "-m", "log_agent_spark", "--config", ini, "--check"],
        capture_output=True, text=True, timeout=120, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "config ok: 1 active pipeline(s)" in proc.stdout

    bad = subprocess.run(
        [sys.executable, "-m", "log_agent_spark",
         "--config", str(tmp_path / "missing.ini"), "--check"],
        capture_output=True, text=True, timeout=120, cwd="/root/repo",
    )
    assert bad.returncode == 1
    assert "config check FAILED" in bad.stderr


def _run_broken_copy(tmp_path, *flags):
    """Stream mode with --copy-dest pointed at a regular file: the file-copy
    sink raises in the first batch, so the pipeline's query fails."""
    watch = str(tmp_path / "watched")
    _write_tree(watch)
    ini = str(tmp_path / "agent.ini")
    _write_ini(ini, watch)
    dest = tmp_path / "not_a_dir"
    dest.write_text("")
    return subprocess.run(
        [sys.executable, "-m", "log_agent_spark",
         "--config", ini, "--mode", "stream", "--copy-dest", str(dest),
         "--duration", "120", *flags],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )


def test_stream_mode_failure_exits_1(tmp_path):
    proc = _run_broken_copy(tmp_path)
    assert proc.returncode == 1, proc.stderr[-2000:]
    assert "[SPI.CLI] FAILED after 0 restart(s)" in proc.stderr
    assert "restart 1:" not in proc.stderr


def test_stream_mode_supervised_gives_up_after_max_restarts(tmp_path):
    proc = _run_broken_copy(
        tmp_path, "--supervise", "--max-restarts", "1",
        "--checkpoint", str(tmp_path / "ckpt"),
    )
    assert proc.returncode == 1, proc.stderr[-2000:]
    assert "[SPI.CLI] restart 1:" in proc.stderr
    assert "restart 2:" not in proc.stderr
    assert "[SPI.CLI] FAILED after 1 restart(s)" in proc.stderr


def test_supervise_without_checkpoint_exits_2_before_spark(tmp_path, monkeypatch, capsys):
    from log_agent_spark import session
    from log_agent_spark.__main__ import main

    def no_spark(*a, **k):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(session, "get_spark", no_spark)
    watch = str(tmp_path / "watched")
    _write_tree(watch)
    ini = str(tmp_path / "agent.ini")
    _write_ini(ini, watch)
    assert main(["--config", ini, "--mode", "stream", "--supervise"]) == 2
    assert "--supervise requires --checkpoint" in capsys.readouterr().err
