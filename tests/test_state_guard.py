"""Source scan that keeps one mechanism per job in ``parqueryd_spark/``:
published data is read through ``sources/parquet.read_resolved``, batch
state (and its ``_meta`` sidecar) is written, merged and compacted through
the ``sources/sinks`` helper set, availableNow ``foreachBatch`` queries
start through its one starter, zone-map verdicts come from one planner,
datasets are swapped in only by ``sinks.atomic_publish``, every Hadoop
``FileSystem`` is resolved by ``sources/fs.HadoopFS``, every ANN route
takes its centroids from ``similarity.resolve_centroids`` and its per-query
probe and top-k windows from ``operators/similarity.py``, every exact
quantile runs through one selection engine (one pass 0, one resolve),
every band-blocked near-dup generator pairs docs through one band join, and
reused data follows the two lifetime rules of ``queries.served_artifact``:
published standing state lives in that one helper, and nothing a function
persists outlives the function — in the tests too, which share one session.
No Spark needed."""

from __future__ import annotations

import ast
import os
import re

TESTS = os.path.dirname(os.path.abspath(__file__))
PKG = os.path.join(os.path.dirname(TESTS), "parqueryd_spark")

RULES = [
    # (pattern, files allowed to contain it, what to use instead)
    (r"\.read\.(parquet|option)\(", {"sources/parquet.py"}, "sources/parquet.read_resolved"),
    (r"foreachBatch\(", {"sources/sinks.py", "streaming/windows.py"}, "sinks._start_available_now"),
    (r"\.drop\(\s*[\"']batch[\"']\s*\)", {"sources/sinks.py"}, "sinks.read_batches"),
    (r"batch=\{", {"sources/sinks.py"}, "sinks.write_batch"),
    (r"[_/]meta\"", {"sources/sinks.py"}, "sinks.write_meta / sinks.read_meta"),
    (r"(?m)^\w*_CACHE\b", set(), "queries.served_artifact, or no memo at all"),
    (r"mkdtemp\(", {"queries/__init__.py"}, "queries.served_artifact"),
    (r"os\.replace\(|os\.rename\(", set(), "sources/sinks.atomic_publish"),
    (r"getFileSystem\(", {"sources/fs.py"}, "sources/fs.HadoopFS"),
    (
        r'partitionBy\(\s*"query_id"\s*\)',
        {"operators/similarity.py"},
        "similarity._topk_per_query / _probe",
    ),
    (r"\.limit\(n_centroids\)", {"operators/similarity.py"}, "similarity.resolve_centroids"),
]


def _sources(top: str = PKG):
    for root, _dirs, files in os.walk(top):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as f:
                    yield os.path.relpath(path, top).replace(os.sep, "/"), f.read()


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


def test_file_verdicts_collected_only_by_the_planner():
    """Every zone-map consumer takes its per-file verdicts from one planner:
    the one collect of manifest stats rows (selected with
    ``F.col("column").isin(``) is in ``manifest._plan``, and the stats
    fields are read only by the planner and its evaluator helpers (and by
    ``_footer_reader``, from the parquet statistics it writes them from),
    nowhere else in the package (the parity hook ``prune_paths`` plans
    through it too)."""
    evaluator = {"_plan", "_bounds", "_keep", "_full", "_footer_reader"}
    stats = {"null_count", "has_min_max", "min_num", "max_num", "min_str", "max_str"}
    found, selects = [], []
    for rel, text in _sources():
        tree = ast.parse(text)
        spans = {
            n.name: (n.lineno, n.end_lineno)
            for n in tree.body
            if isinstance(n, ast.FunctionDef) and rel == "sources/manifest.py"
        }

        def inside(n, names):
            return any(a <= n.lineno <= b for f, (a, b) in spans.items() if f in names)

        for n in ast.walk(tree):
            if isinstance(n, ast.Attribute) and n.attr in stats and not inside(n, evaluator):
                found.append(f"{rel}:{n.lineno}: .{n.attr} read outside {sorted(evaluator)}")
            if (
                isinstance(n, ast.Call)
                and getattr(n.func, "attr", None) == "isin"
                and isinstance(n.func.value, ast.Call)
                and [getattr(a, "value", None) for a in n.func.value.args] == ["column"]
            ):
                selects.append(f"{rel}:{n.lineno}")
                if not inside(n, {"_plan"}):
                    found.append(f"{rel}:{n.lineno}: manifest stats selected outside _plan")
    assert not found, "\n".join(found)
    assert len(selects) == 1, selects
    with open(os.path.join(PKG, "sources", "manifest.py")) as f:
        plan = next(
            n for n in ast.parse(f.read()).body if isinstance(n, ast.FunctionDef) and n.name == "_plan"
        )
    collects = [n for n in ast.walk(plan) if getattr(getattr(n, "func", None), "attr", None) == "collect"]
    assert len(collects) == 1, [n.lineno for n in collects]


def test_exact_selection_has_one_pass0_and_one_resolve():
    """Every exact-selection entry point (global, grouped, disc, cont, one
    rank) runs through one engine: in ``operators/selection.py`` the
    sign+exponent pass 0 bins through ``_exponent_bucket(`` at one call site
    and the windowed resolve is the one ``row_number()`` call."""
    with open(os.path.join(PKG, "operators", "selection.py")) as f:
        tree = ast.parse(f.read())
    calls: dict[str, list[int]] = {}
    for n in ast.walk(tree):
        if isinstance(n, ast.Call):
            name = getattr(n.func, "id", getattr(n.func, "attr", None))
            calls.setdefault(name, []).append(n.lineno)
    found = [
        f"operators/selection.py: {name}( called at lines {calls.get(name)}, want one call"
        for name in ("_exponent_bucket", "row_number")
        if len(calls.get(name, [])) != 1
    ]
    assert not found, "\n".join(found)


def test_band_join_lives_only_in_block_pairs():
    """Every band-blocked near-dup generator (MinHash one-shot, served and
    incremental, SimHash, md5 SimHash, image dHash) pairs docs through one
    band join: the ``a.bh``/``b.bh`` band-hash columns are named only inside
    ``operators/dedup._block_pairs``, and ``operators/multimodal.py`` names
    none."""
    pattern = r"[\"'][ab]\.bh[\"']"
    found, inside = [], 0
    for rel, text in _sources():
        spans = [
            (n.lineno, n.end_lineno)
            for n in ast.parse(text).body
            if isinstance(n, ast.FunctionDef)
            and n.name == "_block_pairs"
            and rel == "operators/dedup.py"
        ]
        for m in re.finditer(pattern, text):
            line = text.count("\n", 0, m.start()) + 1
            if any(a <= line <= b for a, b in spans):
                inside += 1
            else:
                found.append(f"{rel}:{line}: {m.group(0)} outside dedup._block_pairs")
    assert not found, "\n".join(found)
    assert inside == 2, inside
    with open(os.path.join(PKG, "operators", "multimodal.py")) as f:
        assert not re.search(r"\bbh\b", f.read())


def _persists_without_unpersist(text: str) -> list[int]:
    """Line numbers of functions that call ``.persist(`` or ``.cache()`` but
    never ``.unpersist(`` — a CacheManager entry left for nobody to drop."""
    bad = []
    for fn in ast.walk(ast.parse(text)):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        calls = {
            (n.func.attr, n.lineno)
            for n in ast.walk(fn)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        }
        names = {name for name, _ in calls}
        if "unpersist" not in names:
            bad += [ln for name, ln in calls if name in ("persist", "cache")]
    return sorted(set(bad))


def test_every_persist_is_unpersisted_in_its_function():
    """A frame reused inside one call lives only as long as that call:
    a function that persists or caches a frame also unpersists it (or
    takes it through ``localCheckpoint`` instead). A persist left behind
    serves the next call — and the next timed bench trial — from memory.
    A test or fixture that caches a frame releases it the same way (a
    module fixture yields, then unpersists), so no test leaves a
    CacheManager entry behind for the rest of the shared session."""
    found = [
        f"{os.path.basename(top)}/{rel}:{ln}: persist()/cache() with no unpersist() "
        "in the same function"
        for top in (PKG, TESTS)
        for rel, text in _sources(top)
        for ln in _persists_without_unpersist(text)
    ]
    assert not found, "\n".join(found)
    assert _persists_without_unpersist(
        "def f(df):\n    df = df.persist()\n    return df.count()\n"
    ) == [2]
    assert _persists_without_unpersist(
        "def f(df):\n    df = df.cache()\n    n = df.count()\n    df.unpersist()\n    return n\n"
    ) == []
