"""Source scan that keeps one mechanism per job in ``parqueryd_spark/``:
published data is read through ``sources/parquet.read_resolved``, batch
state is written, merged and compacted through the ``sources/sinks`` helper
set, and availableNow ``foreachBatch`` queries start through its one
starter. No Spark needed."""

from __future__ import annotations

import ast
import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "parqueryd_spark")

RULES = [
    # (pattern, files allowed to contain it, what to use instead)
    (r"\.read\.(parquet|option)\(", {"sources/parquet.py"}, "sources/parquet.read_resolved"),
    (r"foreachBatch\(", {"sources/sinks.py", "streaming/windows.py"}, "sinks._start_available_now"),
    (r"\.drop\(\s*[\"']batch[\"']\s*\)", {"sources/sinks.py"}, "sinks.read_batches"),
    (r"batch=\{", {"sources/sinks.py"}, "sinks.write_batch"),
]


def _sources():
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as f:
                    yield os.path.relpath(path, PKG).replace(os.sep, "/"), f.read()


def test_one_mechanism_per_job():
    found = []
    for rel, text in _sources():
        for pattern, allowed, use in RULES:
            if rel in allowed:
                continue
            for m in re.finditer(pattern, text):
                line = text.count("\n", 0, m.start()) + 1
                found.append(f"{rel}:{line}: {m.group(0)!r} — use {use}")
    assert not found, "\n".join(found)


def test_batch_drop_only_in_read_batches():
    """The merge-on-read ``drop("batch")`` lives in ``read_batches`` and
    nowhere else in ``sources/sinks.py`` either."""
    with open(os.path.join(PKG, "sources", "sinks.py")) as f:
        text = f.read()
    fn = next(
        n for n in ast.parse(text).body if isinstance(n, ast.FunctionDef) and n.name == "read_batches"
    )
    lines = [
        text.count("\n", 0, m.start()) + 1
        for m in re.finditer(r"\.drop\(\s*[\"']batch[\"']\s*\)", text)
    ]
    assert lines and all(fn.lineno <= ln <= fn.end_lineno for ln in lines), lines
