"""The tools' shared ``[sf_dir] [name ...]`` rule (tools/tool_args.py):
the first argument is the table directory exactly when it is an existing
directory. No Spark session is started."""

from __future__ import annotations

import importlib
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from tool_args import split_sf_dir  # noqa: E402

DEFAULT = "/default/sf"


def test_split_sf_dir(tmp_path, monkeypatch):
    (tmp_path / "sf0.01").mkdir()
    monkeypatch.chdir(tmp_path)
    assert split_sf_dir([], DEFAULT) == (DEFAULT, [])
    # an entry name is never taken for the table directory
    assert split_sf_dir(["sim_cosine_topk"], DEFAULT) == (
        DEFAULT,
        ["sim_cosine_topk"],
    )
    # a relative directory is one, with or without a slash
    assert split_sf_dir(["sf0.01", "a", "b"], DEFAULT) == ("sf0.01", ["a", "b"])
    assert split_sf_dir([str(tmp_path / "sf0.01")], DEFAULT) == (
        str(tmp_path / "sf0.01"),
        [],
    )
    # a path that does not exist is not a table directory
    assert split_sf_dir(["missing/sf"], DEFAULT) == (DEFAULT, ["missing/sf"])


def test_every_tool_uses_the_shared_rule():
    for tool in ("check_oracle", "invariance_check", "plan_gate", "time_queries"):
        assert importlib.import_module(tool).split_sf_dir is split_sf_dir, tool
