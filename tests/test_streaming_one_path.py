"""Pin the one streaming delivery path: ``streaming/`` starts exactly one
query (one ``writeStream`` call site, in ``start_webhook_query``) and
carries no forked variant (``*_v2``) or transformWithState twin
(``tws``).  A second starter, body or twin fails HERE, so a fork has to
be argued for instead of growing back silently."""

from __future__ import annotations

import ast
import os

STREAMING = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "nomad_event_streamer_spark",
    "streaming",
)


def _sources():
    for name in sorted(os.listdir(STREAMING)):
        if name.endswith(".py"):
            with open(os.path.join(STREAMING, name), encoding="utf-8") as fh:
                yield name, fh.read()


def test_exactly_one_write_stream_site():
    sites = [
        f"{name}::{func.name}"
        for name, src in _sources()
        for func in ast.walk(ast.parse(src))
        if isinstance(func, ast.FunctionDef)
        for node in ast.walk(func)
        if isinstance(node, ast.Attribute) and node.attr == "writeStream"
    ]
    assert sites == ["runner.py::start_webhook_query"]


def test_no_forked_or_twin_names():
    hits = [
        f"{name}: {word}"
        for name, src in _sources()
        for word in ("_v2", "tws")
        if word in name.lower() or word in src.lower()
    ]
    assert hits == []
