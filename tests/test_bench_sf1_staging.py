"""bench.py's sf1 input must neither go stale nor be skipped silently:
a staged copy is rebuilt when its source changes, and a non-directory
SPARK_GRAFT_SF1_DIR or a bench SF other than 0.1 skips the sf1 group
with a reason on stderr."""

from __future__ import annotations

import subprocess

import bench


def test_sf1_dir_env_not_a_directory_warns(monkeypatch, tmp_path, capsys):
    monkeypatch.setenv("SPARK_GRAFT_SF1_DIR", str(tmp_path / "missing"))
    assert bench._resolve_sf1_dir(str(tmp_path), 0.1) is None
    assert "is not a directory" in capsys.readouterr().err


def test_sf1_group_skip_off_sf01_says_why(monkeypatch, tmp_path, capsys):
    monkeypatch.delenv("SPARK_GRAFT_SF1_DIR", raising=False)
    assert bench._resolve_sf1_dir(str(tmp_path), 0.01) is None
    assert "sf1 group skipped" in capsys.readouterr().err


def test_sf1_staging_restages_only_when_source_changes(
    monkeypatch, tmp_path, capsys
):
    src = tmp_path / "src"
    src.mkdir()
    (src / "orders.parquet").write_bytes(b"v1")
    stage = tmp_path / "stage"
    monkeypatch.delenv("SPARK_GRAFT_SF1_DIR", raising=False)
    monkeypatch.setattr(bench, "_SF1_DEFAULT_STAGING", str(stage))
    builds = []
    # Stand-in for tools/make_sf1.py: record the call, write nothing.
    monkeypatch.setattr(subprocess, "run", lambda cmd, **kw: builds.append(cmd))

    for _ in range(2):  # staged once, then reused as is
        assert bench._resolve_sf1_dir(str(src), 0.1) == str(stage)
        assert len(builds) == 1
    (src / "orders.parquet").write_bytes(b"v2, a different size")
    assert bench._resolve_sf1_dir(str(src), 0.1) == str(stage)
    assert len(builds) == 2
    assert "restaging" in capsys.readouterr().err
