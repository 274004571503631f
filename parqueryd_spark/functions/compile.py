"""Compilers from the reference's call shapes to Spark Column expressions.

The reference passes two opaque list structures straight through to its compute
dependency (reference: parqueryd/worker.py:382-385):

- ``where_terms_list``: AND-combined ``[col, op, value]`` triples with ops
  ``== != > >= < <= in "not in"`` (SURVEY.md §2 O2), plus the SQL
  spellings ``=`` and ``<>``.
- ``aggregation_list``: ``[input_col, method, output_col]`` triples, with the
  bare-name shorthand ``['col']`` meaning sum into the same name
  (reference: README.md:105,111; tests/test_simple_rpc.py:114).

Here those become Catalyst ``Column`` expressions, so predicate pushdown and
column pruning into the Parquet scan are automatic — the declarative plan is
what lets this run unchanged at 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F


class QueryCompileError(ValueError):
    """Bad where-term / agg-list shape — the engine-level analog of the
    reference's RPCError on malformed args (worker.py:404-406)."""


# SQL spellings of the canonical ops. Folded once here, so the executor
# (compile_where_terms) and the zone-map planner (sources/manifest.py) share
# one op vocabulary.
_OP_ALIASES = {"=": "==", "<>": "!="}

_COMPARE_OPS = {
    "==": lambda c, v: c == v,
    "!=": lambda c, v: c != v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
}


def normalize_where_terms(where_terms: Sequence[Sequence] | None) -> list[tuple[str, str, object]]:
    """Validate ``[[col, op, value], ...]`` and canonicalize each term to
    ``(col, op, value)``: ops lower-cased, stripped and de-aliased (``=`` ->
    ``==``, ``<>`` -> ``!=``); an ``in`` / ``not in`` value becomes a list
    (a scalar is a one-element set)."""
    out: list[tuple[str, str, object]] = []
    for term in where_terms or []:
        if not isinstance(term, (list, tuple)) or len(term) != 3:
            raise QueryCompileError(f"where term must be [col, op, value], got {term!r}")
        col_name, op, value = term
        if not isinstance(op, str):
            raise QueryCompileError(f"where op must be a string, got {op!r} in term {term!r}")
        op_key = op.strip().lower()
        op_key = _OP_ALIASES.get(op_key, op_key)
        if op_key in ("in", "not in"):
            value = list(value) if isinstance(value, (list, tuple, set)) else [value]
        elif op_key not in _COMPARE_OPS:
            raise QueryCompileError(f"unsupported where op {op!r} in term {term!r}")
        out.append((col_name, op_key, value))
    return out


def compile_where_terms(where_terms: Sequence[Sequence] | None) -> Column | None:
    """``[[col, op, value], ...]`` -> AND-combined Column predicate, or None
    for an empty/absent list (the reference's in-tree calls all pass ``[]``)."""
    preds: list[Column] = []
    for col_name, op, value in normalize_where_terms(where_terms):
        col = F.col(col_name)
        if op in ("in", "not in"):
            pred = col.isin(*value)
            if op == "not in":
                pred = ~pred
        else:
            pred = _COMPARE_OPS[op](col, F.lit(value))
        preds.append(pred)
    return reduce(lambda a, b: a & b, preds) if preds else None


def _std(col: str) -> Column:
    # Sample std (ddof=1): matches pandas .std() — the oracle the reference's own
    # differential test used (tests/test_simple_rpc.py:112-131) — and DuckDB's stddev.
    return F.stddev_samp(col)


AGG_METHODS = {
    "sum": F.sum,
    "mean": F.avg,
    "avg": F.avg,
    "count": F.count,  # non-null count, matching pandas groupby().count()
    "min": F.min,
    "max": F.max,
    "std": _std,
    "stddev": _std,
    "count_na": lambda c: F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)),
    "count_distinct": F.countDistinct,
    # sortedness was a bcolz-era optimization in the reference's dependency, not
    # a semantic (SURVEY.md §2 O5) — same result as count_distinct.
    "sorted_count_distinct": F.countDistinct,
}


def normalize_agg_list(agg_list: Sequence) -> list[tuple[str, str, str]]:
    """Normalize the reference's agg shorthand to ``(input, method, output)``:

    - ``['col']``          -> ``('col', 'sum', 'col')``   (README.md:105 [DEP])
    - ``['col', 'mean']``  -> ``('col', 'mean', 'col')``
    - ``['col', 'mean', 'out']`` unchanged
    - a bare string instead of a list is accepted as ``['col']``
    """
    out: list[tuple[str, str, str]] = []
    for item in agg_list:
        if isinstance(item, str):
            item = [item]
        if not isinstance(item, (list, tuple)) or not 1 <= len(item) <= 3:
            raise QueryCompileError(f"agg item must be [in], [in, method] or [in, method, out]; got {item!r}")
        if len(item) == 1:
            inp, method, outp = item[0], "sum", item[0]
        elif len(item) == 2:
            inp, method, outp = item[0], item[1], item[0]
        else:
            inp, method, outp = item
        method = str(method).strip().lower()
        if method not in AGG_METHODS:
            raise QueryCompileError(
                f"unsupported aggregation method {method!r}; known: {sorted(AGG_METHODS)}"
            )
        out.append((inp, method, outp))
    return out


def compile_agg_list(agg_list: Sequence) -> list[Column]:
    """Agg triples -> aliased aggregate Columns for ``groupBy().agg(...)``."""
    cols = [AGG_METHODS[m](i).alias(o) for i, m, o in normalize_agg_list(agg_list)]
    if not cols:
        raise QueryCompileError("aggregation list must not be empty")
    return cols
