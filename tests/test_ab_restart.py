"""tools/ab_restart.py rejects incomplete command lines before it starts
any session."""

import importlib.util
import os
import sys

import pytest

_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools", "ab_restart.py",
)


@pytest.fixture
def ab_restart(monkeypatch):
    spec = importlib.util.spec_from_file_location("ab_restart", _PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    def no_session(*a, **kw):
        raise AssertionError("an incomplete command line started a session")

    monkeypatch.setattr(mod, "child", no_session)
    monkeypatch.setattr(mod.subprocess, "run", no_session)
    return mod


@pytest.mark.parametrize("argv", [
    ["--conf", "spark.io.compression.codec", "q"],
    ["--conf", "spark.io.compression.codec", "--a", "lz4", "q"],
    ["--conf", "spark.io.compression.codec", "--b", "zstd", "q"],
    ["--conf", "spark.io.compression.codec", "--child", "q"],
])
def test_incomplete_command_line_is_a_usage_error(ab_restart, monkeypatch, argv):
    monkeypatch.setattr(sys, "argv", ["ab_restart.py", *argv])
    with pytest.raises(SystemExit) as exc:
        ab_restart.main()
    assert exc.value.code == 2
