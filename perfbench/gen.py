"""Seeded input generators for the benchmark workloads.

Everything the program under test receives is made here from ``--seed``:
lineitem shards and batches, the groupby call list, document corpora. The
same seed gives byte-identical inputs. Nothing here imports Spark.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATE_LO = dt.date(1992, 1, 2)
DATE_HI = dt.date(1998, 12, 1)
SPAN_DAYS = (DATE_HI - DATE_LO).days

RETURNFLAGS = np.array(["A", "N", "R"])
LINESTATUS = np.array(["F", "O"])
SHIPMODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])

KEY_COLS = ["l_returnflag", "l_linestatus", "l_linenumber", "l_shipmode"]
# (input column, method) pairs the reference's agg_list accepts
AGG_CHOICES = [
    ("l_quantity", "sum"),
    ("l_extendedprice", "sum"),
    ("l_extendedprice", "mean"),
    ("l_discount", "mean"),
    ("l_orderkey", "count"),
    ("l_partkey", "count_distinct"),
    ("l_suppkey", "count_distinct"),
    ("l_tax", "max"),
    ("l_quantity", "max"),
    ("l_extendedprice", "std"),
]


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent stream per (seed, purpose, index) — adding a consumer
    never shifts another consumer's draws."""
    return np.random.default_rng([seed, *stream])


def lineitem(rng: np.random.Generator, n: int, day_lo: int = 0, day_hi: int = SPAN_DAYS) -> pa.Table:
    """TPC-H-shaped lineitem rows, sorted on ``l_shipdate`` so that contiguous
    slices have tight min/max footers (the layout zone maps can prune)."""
    days = np.sort(rng.integers(day_lo, day_hi, n))
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    return pa.table(
        {
            "l_orderkey": rng.integers(1, 150_001, n).astype(np.int64),
            "l_partkey": rng.integers(1, 20_001, n).astype(np.int64),
            "l_suppkey": rng.integers(1, 1_001, n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": RETURNFLAGS[rng.integers(0, 3, n)],
            "l_linestatus": LINESTATUS[rng.integers(0, 2, n)],
            "l_shipmode": SHIPMODES[rng.integers(0, 7, n)],
            "l_shipdate": pa.array(
                np.datetime64(DATE_LO, "D") + days.astype("timedelta64[D]"), pa.date32()
            ),
        }
    )


def write_shards(table: pa.Table, out_dir: str, n_shards: int) -> list[str]:
    """Split ``table`` into ``n_shards`` contiguous parquet files; returns the
    bare file names (the reference's ``filenames`` argument)."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_shards + 1).astype(int)
    names = []
    for i in range(n_shards):
        name = f"lineitem_{i:02d}.parquet"
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), os.path.join(out_dir, name))
        names.append(name)
    return names


def _date(day: int) -> dt.date:
    return DATE_LO + dt.timedelta(days=int(day))


_TERMS = {
    "date_from": lambda t: ["l_shipdate", ">=", _date(t.integers(0, SPAN_DAYS))],
    "date_to": lambda t: ["l_shipdate", "<", _date(t.integers(0, SPAN_DAYS))],
    "quantity": lambda t: ["l_quantity", "<", float(t.integers(5, 45))],
    "flags": lambda t: ["l_returnflag", "in", sorted(t.choice(RETURNFLAGS, 2, replace=False).tolist())],
    "discount": lambda t: ["l_discount", ">=", float(t.integers(0, 9)) / 100.0],
    "mode": lambda t: ["l_shipmode", "not in", [str(t.choice(SHIPMODES))]],
}


def _where_terms(t: np.random.Generator, n: int) -> list[list]:
    if n == 0:
        return []
    if n == 2 and t.random() < 0.6:
        # a date range on the clustering column
        days = int(t.integers(30, SPAN_DAYS // 3))
        lo = int(t.integers(0, SPAN_DAYS - days))
        return [["l_shipdate", ">=", _date(lo)], ["l_shipdate", "<", _date(lo + days)]]
    kinds = t.choice(sorted(_TERMS), n, replace=False)
    return [_TERMS[k](t) for k in kinds]


BLOCK = 10
# The calls come from this fixed stream, the same for every seed, as TPC-H
# fixes its queries; the seed draws the data the calls run over (and the
# order of the names in each call). Which shards a call names and its
# where-term values decide how many shards survive pruning and how many rows
# come back, so drawing them per seed moved single calls 2-3x between seeds
# and a run's mean latency by more than the regressions it must catch.
_TEMPLATE_SEED = 20_240


def groupby_calls(seed: int, stream: int, n_shards: int, n: int) -> list[dict]:
    """The ``ParquetEngine.groupby`` call mix: 1-``n_shards`` shards named
    with ~10% missing names, 1-2 keys, 1-3 aggregations, 0-2 where-terms,
    half with ``manifest=``, 10% ``aggregate=False``. Blocks of ten calls hold
    these shares exactly, with shard widths stratified over 1..n_shards.
    Shards are given as a window over the shard list; :func:`name_shards`
    turns it into names against whatever shards exist when the call is made."""
    t = np.random.default_rng([_TEMPLATE_SEED, stream])
    v = rng_for(seed, stream)
    calls = []
    for b in range(0, n, BLOCK):
        manifest = t.permutation([True] * 5 + [False] * 5)
        aggregate = t.permutation([False] + [True] * 9)
        n_where = t.permutation([0, 0, 0, 1, 1, 1, 1, 2, 2, 2])
        widths = t.permutation([1 + int((j + t.random()) * n_shards / BLOCK) for j in range(BLOCK)])
        for j in range(BLOCK):
            keys = sorted(t.choice(KEY_COLS, int(t.integers(1, 3)), replace=False).tolist())
            picks = sorted(t.choice(len(AGG_CHOICES), int(t.integers(1, 4)), replace=False))
            # raw-row calls stay a few shards wide, as a client fetching rows would
            width = min(int(widths[j]), n_shards) if aggregate[j] else 1 + int(t.integers(0, 3))
            calls.append(
                {
                    "window": (float(t.random()), width),
                    "missing": int(t.binomial(width, 0.1)),
                    "shuffle": int(v.integers(0, 2**31)),
                    "groupby_cols": keys,
                    "agg_list": [[AGG_CHOICES[p][0], AGG_CHOICES[p][1], f"a{i}"] for i, p in enumerate(picks)],
                    "where_terms": _where_terms(t, int(n_where[j])),
                    "aggregate": bool(aggregate[j]),
                    "manifest": bool(manifest[j]),
                }
            )
    return calls[:n]


def name_shards(call: dict, shard_names: list[str], tag: str) -> list[str]:
    """The filenames argument of ``call`` over the shards that exist now:
    a window of ``width`` consecutive shards plus ~10% names that do not
    exist (the reference silently ignores them), in seeded order."""
    frac, width = call["window"]
    width = min(width, len(shard_names))
    start = int(frac * (len(shard_names) - width + 1))
    names = list(shard_names[start : start + width])
    names += [f"missing_{tag}_{j}.parquet" for j in range(call["missing"])]
    np.random.default_rng(call["shuffle"]).shuffle(names)
    return names


# --- documents -------------------------------------------------------------

LANGS = ["en", "es", "de", "fr"]
_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "a", "in", "it"],
    "es": ["el", "la", "de", "que", "y", "en", "los"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit"],
    "fr": ["le", "la", "et", "les", "des", "un", "est"],
}
_LANG_P = [0.55, 0.15, 0.15, 0.15]
_PUNCT = [".", ",", "!", "?"]


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size)
    return np.array(["".join(rng.choice(letters, k)) for k in lens])


def corpus(seed: int, index: int, n_docs: int, id_base: int = 0) -> pa.Table:
    """One seeded corpus: ``(doc_id, text, lang)`` with injected exact
    duplicates (~6%), shared boilerplate spans (~15% of docs carry one of 12
    24-token spans) and near-duplicate rewrites (~6%, a few tokens changed).
    Distinct ``index`` values give distinct corpora."""
    rng = rng_for(seed, 7, index)
    vocab = _vocab(rng, 3000)
    boiler = [" ".join(rng.choice(vocab, 24)) for _ in range(12)]
    texts: list[str] = []
    langs: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 20 and r < 0.06:
            j = int(rng.integers(0, i))
            texts.append(texts[j])
            langs.append(langs[j])
            continue
        if i > 20 and r < 0.12:
            j = int(rng.integers(0, i))
            toks = texts[j].split(" ")
            for p in rng.integers(0, len(toks), max(1, len(toks) // 40)):
                toks[p] = str(rng.choice(vocab))
            texts.append(" ".join(toks))
            langs.append(langs[j])
            continue
        lang = LANGS[int(rng.choice(4, p=_LANG_P))]
        n_tok = int(rng.integers(20, 160))
        stop = rng.random(n_tok) < rng.uniform(0.1, 0.45)
        words = np.where(stop, rng.choice(_MARKERS[lang], n_tok), rng.choice(vocab, n_tok))
        toks = [w + (_PUNCT[int(rng.integers(0, 4))] if rng.random() < 0.08 else "") for w in words]
        if rng.random() < 0.15:
            at = int(rng.integers(0, len(toks)))
            toks[at:at] = boiler[int(rng.integers(0, len(boiler)))].split(" ")
        texts.append(" ".join(toks))
        langs.append(lang)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(id_base, id_base + n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
        }
    )


def write_table(table: pa.Table, path: str) -> int:
    """Write one generated input file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)
