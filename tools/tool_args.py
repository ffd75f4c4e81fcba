"""The command-line rule the tools share: ``[sf_dir] [name ...]``."""

from __future__ import annotations

import os


def split_sf_dir(args: list[str], default: str) -> tuple[str, list[str]]:
    """(table directory, remaining arguments). The first argument is the
    table directory exactly when it names an existing directory, so a
    relative ``sf0.01`` is a directory and ``sim_cosine_topk`` an entry."""
    if args and os.path.isdir(args[0]):
        return args[0], list(args[1:])
    return default, list(args)
