"""Deduplication operators for LLM training-data pipelines (north-star scope):
exact, n-gram Jaccard, MinHash+LSH (one-shot, served from an index, and
incremental against an index), SimHash, sub-document span/substring dedup,
duplicate-group resolution (connected components), and train/eval
decontamination.

``exact_dedup`` is one hash-groupBy on a content digest: one shuffle keyed
by the digest (never by the raw text), with map-side partial aggregation.
Every near-duplicate generator is block -> verify:

- **Block.** Each doc explodes into blocking keys, and docs sharing a key
  become candidate pairs. The banded generators (MinHash, SimHash, md5
  SimHash, image dHash) all go through one band join, :func:`_block_pairs`:
  a self-join on (band, band hash) with ``a.doc < b.doc``, or the
  incremental shape (new docs against corpus ∪ new, pairs oriented by id).
  ``ngram_jaccard_pairs`` blocks with the PPJoin prefix filter instead
  (``_prefix_candidates``): the first floor((1-t)*|S|)+1 hash-ordered
  shingles of each doc, joined with the length filter and an optional
  hot-token cap.
- **Verify.** One check per similarity: exact Jaccard over the sorted
  xxhash64 shingle arrays (``_verify_jaccard``, for prefix and MinHash) or
  true Hamming distance over 64-bit signatures (``_hamming_pairs``, for
  every SimHash flavour). Precision is 1.0 on every route.

Signatures and recall:

- **MinHash** (``minhash_signature_from_hashes``): one ``aggregate`` pass
  over each doc's shingle hashes with a ``zip_with`` running minimum of
  the affine family (a*x + b) mod (2^31 - 1). ``minhash_lsh_pairs`` builds
  the call's own :func:`minhash_index` and serves it like a published one;
  recall is 1-(1-s^r)^b (~1-5e-8 at s=0.8 with 32 bands x 4 rows).
- **SimHash** (``simhash``): 64-bit shingle-hash bit vote
  (:func:`_vote_bits`). A pair within ``max_hamming`` of each other agrees
  on at least one of ``max_hamming + 1`` bands (pigeonhole), so that many
  bands give recall 1.0 within the radius. The default is the scale config
  ``SIMHASH_SCALE_CONFIG`` (radius 3, 4 bands of 16 bits: random band
  collisions at p ~= 1.5e-5). Radius 13 / 14 bands catches every exact
  Jaccard>=0.8 pair at sf0.001-sf0.1 but prunes only about half the pair
  space, so callers opt into it per call.
- **md5 SimHash** (``simhash_md5_near_pairs``): the same vote over md5
  words, so DuckDB can rebuild the signature bit for bit for the gate
  oracle; 16 bands of 4 bits make it exact for radius <= 15.

Signatures derive from F.xxhash64 (md5 for the oracle flavour) —
deterministic across runs and clusters.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parqueryd_spark.operators.text import shingles, tokens
from parqueryd_spark.operators.util import spread_partitions as _spread

# Prime field for the affine minhash rehash family h_i(x) = (a_i*x + b_i) mod P.
# 2^31-1 keeps a*x + b far below 2^63 (ANSI mode would error on long overflow);
# collision probability within a doc's shingle set (~10^3 values in 2^31) is
# negligible for minhash purposes.
_PRIME_P = (1 << 31) - 1


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate groups by content digest; keeps the lowest id as the
    canonical representative. Returns (digest, n_copies, keep_id)."""
    # no cast on the id: min() works for any orderable id type, and casting a
    # string/UUID id to long would silently null every keep_id
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col).alias("_id"))
        .groupBy("digest")
        .agg(F.count("*").alias("n_copies"), F.min("_id").alias("keep_id"))
    )


def span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 16,
    rebuild: str = "carry",
    drop_join: str = "broadcast",
) -> DataFrame:
    """Sub-document exact dedup at fixed token-span granularity — the scalable
    analog of suffix-array substring dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): chop every document into
    contiguous ``span_tokens``-token spans, keep each distinct span's first
    occurrence corpus-wide (ordered by (doc id, span position)), and rebuild
    each document from its surviving spans. Boilerplate repeated across
    documents (headers, navigation chrome, license blocks) disappears from
    all but its first bearer while unique prose is untouched.

    Returns (doc, n_spans, n_kept, dedup_text).

    Scale design: the keep-first choice is ``groupBy(digest).agg(min(struct
    (doc, pos)))`` + join-back rather than a window — min() partial-aggregates
    map-side, so a span repeated 10^9 times (exactly the boilerplate case this
    operator exists for) reduces locally instead of piling one window
    partition with 10^9 rows. Both shuffles are keyed by the 128-bit md5
    digest, never by raw span text. Rebuild is a per-doc groupBy on the id —
    the same key the scan is usually already partitioned by.
    """
    # Pre-project the token array ONCE per doc (r16, guide §4.1): the span
    # builder slices it inside a transform lambda, where Catalyst does no
    # CSE — inlining tokens(text_col) there re-ran split(text) per SPAN
    # (measured 2x on the sf0.1 span derivation). The extra projection is
    # not collapsed back because _toks is referenced more than once and is
    # not cheap (the CollapseProject guard).
    pre = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    # greatest(..., 1): sequence(0, -1) would DESCEND, fabricating two phantom
    # spans for a zero-token doc (split never returns an empty array today,
    # but this mirrors chunk_documents' guard rather than rely on that)
    n_spans = F.greatest(
        F.ceil(F.size(toks) / F.lit(span_tokens)), F.lit(1)
    ).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * span_tokens + 1, span_tokens)),
    )
    return _keep_first_unit_dedup(pre, id_col, spans, " ", rebuild, drop_join)


def substring_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 16,
    mode: str = "rebuild",
) -> DataFrame:
    """Exact substring dedup at ARBITRARY token boundaries — the distributed
    suffix-array analog (Lee et al., "Deduplicating Training Data Makes
    Language Models Better"): every repeated substring of >= ``min_tokens``
    tokens, at ANY offset, keeps its first corpus-wide occurrence and loses
    every other one. Closes span_dedup's window-alignment gap: a repeat
    straddling fixed span boundaries slips past span digests, but every
    repeated substring of length >= N is exactly the union of its length-N
    sliding windows, each of which repeats — so flagging duplicated
    N-windows covers repeats at every offset.

    Semantics (deterministic, set-based): slide an N-token window at stride
    1 over every document; for each window content seen >= 2 times
    corpus-wide the earliest occurrence (min (doc, pos)) is the KEEPER. A
    token is dropped iff some non-keeper duplicated window covers it and no
    keeper window covers it — the keeper-protection clause keeps exactly one
    copy of a self-overlapping run (``a a a a`` at N=2 keeps ``a a``), and
    documents bearing only non-first copies lose them entirely.

    Returns, for ``mode="rebuild"``, affected documents only:
    (doc, n_tokens, n_dropped, dedup_text). ``mode="droplist"`` returns
    (doc, drop_idx sorted int array, n_dropped) without ever shuffling token
    text — the bandwidth-constrained form, composable with the droplist
    rebuild of :func:`span_dedup` (_keep_first_unit_dedup).

    Scale design: every step is linear in corpus tokens. Windows cross the
    shuffle as 128-bit md5 digests (never raw text); keep-first is
    groupBy(digest).agg(min(struct)) — map-side partials, so boilerplate
    repeated 10^9 times reduces locally; coverage is an explode of DUP
    windows only (dup-volume x N, not corpus x N) folded by ONE
    (doc, idx) aggregation (max over the covering windows' keeper flags —
    map-side partials again); the rebuild regroups kept tokens per doc. No
    window function touches an unbounded partition, no driver collect.
    """
    n = int(min_tokens)
    if n < 2:
        raise ValueError("min_tokens must be >= 2")
    base = _substr_base(df, id_col, text_col)
    wins = _substr_windows(base, n)
    marked = _mark_keepers(wins)
    cover = _cover(n)
    # a token is dropped iff >= 1 duplicated window covers it and NONE of
    # its covering windows is the keeper — i.e. max(is_keep) over the
    # covering windows is false. One explode + one (doc, idx) aggregation;
    # the previous dup_cov/keep_cov formulation (two filtered branches, each
    # explode+distinct, anti-joined) executed the whole _mark_keepers join
    # pipeline TWICE and shuffled (doc, idx) three times for the same set
    # (r15 optimization, guide §2.4 — measured 2 digest-join executions -> 1,
    # 3 (doc, idx) exchanges -> 1, identical answers pinned by the oracle
    # gate and tests/test_operators.py).
    dropped = (
        marked.select("doc", cover, "is_keep")
        .groupBy("doc", "idx")
        .agg(F.max("is_keep").alias("_any_keep"))
        .where(~F.col("_any_keep"))
        .select("doc", "idx")
    )
    return _substr_finish(base, dropped, mode)


def _substr_base(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("_toks"))


def _substr_windows(base: DataFrame, n: int) -> DataFrame:
    """(doc, pos, digest) for every stride-1 n-token window. Windows only
    exist when the doc has >= n tokens (sequence(0, negative) would DESCEND
    and fabricate phantom windows — same guard as span_dedup). unhex(md5):
    the same 128 collision-safe bits as 16 BYTES of binary instead of a
    32-char hex string — this digest is what the dominant shuffle carries
    (one window per token), so the wire volume halves."""
    ntok = F.size("_toks")
    starts = F.when(ntok >= n, F.sequence(F.lit(0), ntok - n)).otherwise(
        F.array().cast("array<int>")
    )
    return base.select(
        "doc",
        F.posexplode(
            F.transform(
                starts,
                lambda i: F.unhex(F.md5(F.concat_ws(" ", F.slice("_toks", i + 1, n)))),
            )
        ).alias("pos", "digest"),
    )


def _mark_keepers(wins: "DataFrame") -> "DataFrame":
    """(doc, pos, is_keep) for every occurrence of a DUPLICATED digest
    (count >= 2): the earliest (min (doc, pos)) occurrence is the keeper.
    Shared by the one-shot and incremental substring paths — the pinned
    incremental≡one-shot equivalence depends on these staying in lockstep."""
    groups = (
        wins.groupBy("digest")
        .agg(F.count(F.lit(1)).alias("_c"), F.min(F.struct("doc", "pos")).alias("keep"))
        .where(F.col("_c") >= 2)
        .select("digest", "keep")
    )
    return wins.join(groups, "digest").select(
        "doc",
        "pos",
        ((F.col("doc") == F.col("keep.doc")) & (F.col("pos") == F.col("keep.pos"))).alias(
            "is_keep"
        ),
    )


def _cover(n: int):
    """The token indices a window starting at pos covers, as an explode."""
    return F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))).alias("idx")


def substring_decontaminate(
    docs: DataFrame,
    contamination_index: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 16,
    mode: str = "rebuild",
) -> DataFrame:
    """Substring-grain DECONTAMINATION (VERDICT r11 item #7): scrub every
    ``min_tokens``-token window of the corpus whose content appears in a
    CONTAMINATION index — the :func:`substring_index` of a benchmark/eval
    set — at arbitrary token boundaries. The benchmark-leakage scrub for
    training corpora (composing the substring-dedup machinery with the
    decontamination family): unlike :func:`substring_dedup` there is NO
    keeper — every contaminated occurrence is dropped, in every document.

    Scale posture matches the dedup twin: the corpus side shuffles only
    (doc, pos, 16-byte digest); the index side is the benchmark's distinct
    digests (tiny — eval sets are MBs against a 100 TB corpus — so the
    digest join broadcasts); text is only re-read for affected documents'
    rebuild (or never, with ``mode="droplist"`` +
    :func:`apply_token_droplist`). Output shape matches substring_dedup:
    affected docs as (doc, n_tokens, n_dropped, dedup_text), or the
    droplist (doc, drop_idx, n_dropped)."""
    n = int(min_tokens)
    if n < 2:
        raise ValueError("min_tokens must be >= 2")
    _check_index_n(contamination_index, n, "substring_decontaminate")
    base = _substr_base(docs, id_col, text_col)
    wins = _substr_windows(base, n)
    taint = contamination_index.select("digest").distinct()
    dropped = wins.join(taint, "digest").select("doc", _cover(n)).distinct()
    return _substr_finish(base, dropped, mode)


def _substr_finish(base: DataFrame, dropped: DataFrame, mode: str) -> DataFrame:
    """Shared tail of the substring-dedup paths: turn (doc, idx) dropped
    tokens into either a droplist or rebuilt affected documents."""
    if mode == "droplist":
        return dropped.groupBy("doc").agg(
            F.array_sort(F.collect_list(F.col("idx").cast("int"))).alias("drop_idx"),
            F.count(F.lit(1)).cast("long").alias("n_dropped"),
        )
    if mode != "rebuild":
        raise ValueError(f"unknown mode {mode!r} (rebuild | droplist)")
    affected = dropped.select("doc").distinct()
    tokpos = base.join(affected, "doc").select(
        "doc", F.posexplode("_toks").alias("idx", "tok")
    )
    kept = tokpos.join(dropped, ["doc", "idx"], "left_anti")
    rebuilt = kept.groupBy("doc").agg(
        F.count(F.lit(1)).cast("long").alias("_n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "tok"))), lambda s: s["tok"]
            ),
        ).alias("_text"),
    )
    # left join so a FULLY-dropped document (no keeper window in it at all)
    # still appears, with an empty rebuild
    return (
        base.join(affected, "doc")
        .select("doc", F.size("_toks").cast("long").alias("n_tokens"))
        .join(rebuilt, "doc", "left")
        .select(
            "doc",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("_n_kept", F.lit(0))).alias("n_dropped"),
            F.coalesce("_text", F.lit("")).alias("dedup_text"),
        )
    )


def substring_index(
    df: DataFrame, id_col: str, text_col: str, min_tokens: int = 16
) -> DataFrame:
    """The persistable substring-dedup INDEX of a standing corpus: its
    DISTINCT window digests, one 16-byte binary row each — the artifact a
    100 TB pipeline stores (parquet via ``atomic_publish``, appending each
    increment's digests as its own batch) so daily increments dedup against
    the corpus WITHOUT re-reading or re-hashing historical text. Same
    posture as :func:`minhash_index`; the expensive tokenize->window->md5
    pass runs exactly once per document ever.

    The window length rides along as a constant ``n`` column (RLE-encoded
    to ~nothing in parquet): digests of 8-token windows can never match
    digests of 16-token windows, so an index consumed at the wrong grain
    would SILENTLY match nothing — contaminated/duplicated text passing as
    clean. Every consumer validates ``n`` against its own ``min_tokens``
    and raises on mismatch (review r12); indexes published before the
    column existed skip the check (documented pre-meta layout)."""
    n = int(min_tokens)
    return (
        _substr_windows(_substr_base(df, id_col, text_col), n)
        .select("digest")
        .distinct()
        .withColumn("n", F.lit(n).cast("int"))
    )


def _check_index_n(index: DataFrame, min_tokens: int, what: str) -> None:
    """Raise if a substring index's recorded window length disagrees with
    the grain it is being consumed at (silently matching nothing is the
    failure mode this prevents). Pre-``n`` indexes (no column / all-null
    from schema-merged old batches) skip the check."""
    if "n" not in index.columns:
        return
    probe = index.select("n").where(F.col("n").isNotNull()).limit(1).collect()
    if probe and int(probe[0]["n"]) != int(min_tokens):
        raise ValueError(
            f"{what}: index was built with min_tokens={int(probe[0]['n'])} but is "
            f"being consumed at min_tokens={int(min_tokens)} — digests of "
            "different window lengths never match, so this would silently "
            "report zero duplicates/contamination; rebuild the index or pass "
            "the matching min_tokens"
        )


def substring_dedup_increment(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 16,
    mode: str = "rebuild",
) -> DataFrame:
    """Incremental :func:`substring_dedup`: dedup ONLY the increment —
    against the standing corpus (via its :func:`substring_index`) and
    against itself — at O(increment) cost; historical text is never
    re-read. Output shape matches substring_dedup, restricted to increment
    documents.

    Equivalence contract (pytest-pinned): provided increment doc ids sort
    AFTER every standing id (the natural ingest order), the result equals a
    one-shot ``substring_dedup`` over the concatenated corpus restricted to
    the increment docs — a window matching ANY standing digest is a
    duplicate (the global keeper lives in the standing corpus), and fresh
    digests resolve keepers among the increment alone. Standing documents'
    outputs never change retroactively (their first occurrences stay
    keepers), so incremental maintenance is sound — the same argument as
    the minhash index. ``mode="droplist"`` composes with
    :func:`apply_token_droplist`.
    """
    n = int(min_tokens)
    if n < 2:
        raise ValueError("min_tokens must be >= 2")
    _check_index_n(index, n, "substring_dedup_increment")
    base = _substr_base(new_docs, id_col, text_col)
    wins = _substr_windows(base, n)
    standing = index.select("digest").distinct()
    # windows whose content exists in the standing corpus: every occurrence
    # here is a duplicate (total count >= 2, keeper in the past)
    hits = wins.join(standing, "digest")
    fresh = wins.join(standing, "digest", "left_anti")
    fresh_marked = _mark_keepers(fresh)
    cover = _cover(n)
    # same single-aggregation coverage resolution as the one-shot path (r15,
    # lockstep contract): standing-index hits are never keepers (the global
    # keeper lives in the past), fresh windows carry their computed flag;
    # a token survives iff some covering window is a keeper.
    dropped = (
        hits.select("doc", cover, F.lit(False).alias("is_keep"))
        .unionByName(fresh_marked.select("doc", cover, "is_keep"))
        .groupBy("doc", "idx")
        .agg(F.max("is_keep").alias("_any_keep"))
        .where(~F.col("_any_keep"))
        .select("doc", "idx")
    )
    return _substr_finish(base, dropped, mode)


def apply_token_droplist(
    df: DataFrame, droplist: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Rebuild documents from a persisted :func:`substring_dedup`
    ``mode="droplist"`` table — the deferred half of the droplist contract:
    compute drop indices once (cheap, text never shuffled), persist them,
    and apply to the standing corpus wherever/whenever bandwidth allows.
    Returns every input document as (doc, n_tokens, n_dropped, dedup_text);
    documents absent from the droplist pass through rebuilt unchanged.
    One broadcast-or-AQE doc-keyed join + a per-doc index filter — no
    token-grain shuffle at apply time.

    The filter is O(tokens + drops) per document (ADVICE r11 — the previous
    per-token array_contains was O(tokens x drops), quadratic on a heavily
    deduplicated long document): array_except(positions, drop_idx) hashes
    the drop set once and preserves position order, so the kept indices map
    straight back onto the token array."""
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("doc"), toks.alias("_toks"))
    joined = base.join(droplist.select("doc", "drop_idx"), "doc", "left").withColumn(
        "_drop", F.coalesce("drop_idx", F.array().cast("array<int>"))
    )
    ntok = F.size("_toks")
    # sequence(0, -1) would DESCEND on an empty token array — guard it
    positions = F.when(ntok > 0, F.sequence(F.lit(0), ntok - 1)).otherwise(
        F.array().cast("array<int>")
    )
    kept = F.transform(
        F.array_except(positions, F.col("_drop").cast("array<int>")),
        lambda i: F.element_at("_toks", i + 1),
    )
    return joined.select(
        "doc",
        F.size("_toks").cast("long").alias("n_tokens"),
        F.size("_drop").cast("long").alias("n_dropped"),
        F.concat_ws(" ", kept).alias("dedup_text"),
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    rebuild: str = "carry",
    drop_join: str = "broadcast",
) -> DataFrame:
    """Sub-document exact dedup at NATURAL unit granularity (paragraphs /
    lines) — the C4/Dolma form: each distinct ``sep``-delimited unit keeps
    its first corpus-wide occurrence and documents are rebuilt ``sep``-joined
    from the survivors. Prefer this over :func:`span_dedup` when the corpus
    has real structural delimiters; fall back to fixed token spans when text
    is an undelimited stream. Same skew-safe plan (see span_dedup), same
    output shape (doc, n_spans, n_kept, dedup_text)."""
    return _keep_first_unit_dedup(
        df, id_col, F.split(F.col(text_col), sep), sep, rebuild, drop_join
    )


def _keep_first_unit_dedup(
    df: DataFrame,
    id_col: str,
    units: F.Column,
    join_sep: str,
    rebuild: str = "carry",
    drop_join: str = "broadcast",
) -> DataFrame:
    """Shared keep-first machinery over a per-doc array of text units.

    Two rebuild plans, same answer — the choice is a CPU-vs-network trade:

    - ``rebuild="carry"`` (default): span text rides along through the digest
      join-back and the doc-grain regroup. The unit-array expression is
      evaluated twice and the text crosses two shuffles, but nothing is
      re-derived — on a single box (and on clusters with fast interconnect)
      this is ~30% faster end-to-end because the span split/slice expression
      is the expensive part, not the wire.
    - ``rebuild="droplist"``: span text never crosses a shuffle. The exploded
      side is cut to (doc, pos, digest) before the digest shuffle, only the
      LOSING positions (the duplicates — a small fraction of a mostly-unique
      corpus) come back as per-doc drop lists, and documents are rebuilt by
      index-filtering the unit array on the original doc-grain rows. The
      drop-list join is HINTED broadcast (r12 — measured: leaving it to AQE
      plans a SortMergeJoin whose base-side shuffle WRITE ships all the text
      even when AQE later converts to broadcast, silently voiding the plan's
      whole point; tests/test_shuffle_telemetry.py pins the contract in
      bytes). The broadcast payload is int position lists for DUPLICATED
      docs only; for a pathologically all-duplicated corpus — where the
      drop lists themselves could exceed broadcast/driver limits and the
      hinted join would ABORT rather than degrade — pass
      ``drop_join="shuffle"`` (the pre-hint plan: AQE decides, text pays one
      shuffle write) or prefer ``carry`` / the deferred droplist serving
      (substring_dedup mode="droplist" + apply_token_droplist), which never
      rebuilds inline.

    Keep-first in both is ``groupBy(digest).agg(min(struct(doc, pos)))`` —
    map-side partials, so a span repeated 10^9 times reduces locally instead
    of piling one window partition (the reason this is not a ROW_NUMBER).

    r16 (guide §4.1/§1.2, the predict_lang lesson applied to generators):
    a ``units`` expression that slices a token array inside a lambda must
    read that array from a PRE-PROJECTED column of ``df`` (see span_dedup's
    ``_toks``) — lambdas get no CSE, so an inlined ``slice(split(text))``
    re-ran split(text) PER SPAN (~12x per doc at span_tokens=3; measured
    1.09 -> 0.53 s for the sf0.1 span derivation). A lambda-free ``units``
    (paragraph_dedup's ``split(text, sep)``) runs once per row either way
    and needs no pre-projection. ``units`` must never hold a NULL element
    (``split`` and ``concat_ws`` produce none): see the keeper join below.
    The carry path's keeper join-back is also cut to DUPLICATED digests
    only (count >= 2, the _mark_keepers posture):
    singleton spans are their own keepers by definition, so a left join
    with null keep => kept is identical — and the join build side shrinks
    from every distinct span to just the duplicated ones (~10x at sf0.1,
    more at scale where boilerplate is the small fraction).
    """
    # Explode the units EXPRESSION directly (no intermediate _units
    # projection, no isNotNull pre-filter on the exploding side): projecting
    # the array first looked equivalent, but Generate's inferred
    # size(...) > 0 filter then pushed below BOTH projections and
    # re-inlined the full span-builder — split(text) per span, per doc,
    # just to test emptiness (measured: the whole carry row 1.9-2.1 s in
    # that shape vs 0.95-1.1 s in this one at sf0.1).
    spans = df.select(F.col(id_col).alias("doc"), F.posexplode(units).alias("pos", "span"))
    if rebuild == "droplist":
        spans = spans.select("doc", "pos", F.md5("span").alias("digest"))
        # NOTE: unlike the carry path below, keepers here stay UNFILTERED
        # (every digest, not just duplicated ones). The dup-only cut made the
        # keepers size estimate corpus-dependent enough that AQE flipped the
        # spans⋈keepers strategy between broadcast and SMJ across otherwise
        # identical corpora, destabilizing the pinned text-size-invariant
        # shuffle contract (test_shuffle_telemetry) for no measured win —
        # this path's join probe is the digest-only spans either way.
        keepers = spans.groupBy("digest").agg(F.min(F.struct("doc", "pos")).alias("keep"))
        drops = (
            spans.join(keepers, "digest")
            .where(
                (F.col("doc") != F.col("keep.doc")) | (F.col("pos") != F.col("keep.pos"))
            )
            .groupBy("doc")
            .agg(F.array_sort(F.collect_list("pos")).alias("drop_pos"))
        )
        base = (
            df.select(F.col(id_col).alias("doc"), units.alias("_units"))
            # a null unit array produces no span rows (and hence no output
            # row) under the carry plan; keep that contract
            .where(F.col("_units").isNotNull())
        )
        if drop_join not in ("broadcast", "shuffle"):
            raise ValueError(f"drop_join must be 'broadcast' or 'shuffle'; got {drop_join!r}")
        drops_side = F.broadcast(drops) if drop_join == "broadcast" else drops
        joined = base.join(drops_side, "doc", "left").withColumn(
            "drop_arr", F.coalesce("drop_pos", F.array().cast("array<int>"))
        )
        kept = F.filter("_units", lambda u, i: ~F.array_contains(F.col("drop_arr"), i))
        return joined.select(
            "doc",
            F.size("_units").cast("long").alias("n_spans"),
            (F.size("_units") - F.size("drop_arr")).cast("long").alias("n_kept"),
            F.concat_ws(join_sep, kept).alias("dedup_text"),
        )
    spans = spans.withColumn("digest", F.md5("span"))
    keepers = (
        spans.groupBy("digest")
        .agg(F.count(F.lit(1)).alias("_c"), F.min(F.struct("doc", "pos")).alias("keep"))
        .where(F.col("_c") >= 2)
        .select("digest", "keep")
    )
    # left join: a span whose digest is NOT duplicated has no keeper row and
    # is kept by definition (it IS its first occurrence). This relies on
    # every digest being non-null, i.e. on no NULL unit (md5(NULL) is NULL):
    # a NULL digest never equals its keeper's, so NULL units would all read
    # as kept instead of being deduplicated among themselves.
    marked = spans.join(keepers, "digest", "left").withColumn(
        "is_kept",
        F.col("keep").isNull()
        | ((F.col("doc") == F.col("keep.doc")) & (F.col("pos") == F.col("keep.pos"))),
    )
    return marked.groupBy("doc").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.when(F.col("is_kept"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.concat_ws(
            join_sep,
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("is_kept"), F.struct("pos", "span")))
                ),
                lambda s: s["span"],
            ),
        ).alias("dedup_text"),
    )


def _hashed_shingle_arrays(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(doc, sh: sorted array<long>) — each doc's shingle set as sorted
    xxhash64 longs. The shared intermediate of the Jaccard-family operators:
    candidate generation (prefix slice needs the sort), minhash signatures
    (affine rehash of the same longs) and exact verification (array_intersect)
    all read it, and tokenize->shingle->hash is the dominant per-doc cost —
    without sharing, one query evaluates that pipeline up to 3x (prefix pass
    + one verify join per pair side). Returned lazy: an operator that reads
    it more than once takes it through ``localCheckpoint(eager=True)``, so
    it lives exactly as long as that call's plan (hashes are ~8 bytes per
    shingle)."""
    return _spread(df).select(
        F.col(id_col).alias("doc"),
        F.array_sort(F.transform(shingles(F.col(text_col), k), lambda s: F.xxhash64(s))).alias(
            "sh"
        ),
    )


def _verify_jaccard(
    candidates: DataFrame, docs_arr: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate (id_a, id_b) pairs.

    Joins the candidate list (small) to the per-doc shingle-HASH arrays and
    computes intersection sizes JVM-side — two joins proportional to the
    candidate count, instead of re-exploding and shuffling every shingle of
    every doc. Arrays hold xxhash64 longs, not shingle strings: ~10x less data
    through the join shuffle and long-vs-long array_intersect instead of
    string comparisons (collisions within a ~100-element set are ~1e-15 —
    negligible against a 64-bit hash). Returns (id_a, id_b, jaccard) filtered
    to >= threshold.
    """
    return (
        candidates.join(docs_arr.withColumnsRenamed({"doc": "id_a", "sh": "sa"}), "id_a")
        .join(docs_arr.withColumnsRenamed({"doc": "id_b", "sh": "sb"}), "id_b")
        .withColumn("common", F.size(F.array_intersect("sa", "sb")))
        .withColumn(
            "jaccard",
            F.col("common") / (F.size("sa") + F.size("sb") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _prefix_candidates(
    base: DataFrame, threshold: float, max_prefix_df: int | None
) -> DataFrame:
    """PPJoin candidate generation over the (doc, sh) hashed-shingle base:
    prefix slice + self-join with the length filter, optionally dropping
    prefix tokens whose document frequency exceeds ``max_prefix_df``.
    Returns distinct (id_a, id_b) with id_a < id_b."""
    # Per-row prefix extraction: the shared sorted hash array sliced to the
    # first floor((1-t)*n)+1 — all array-side, no explode+window shuffle.
    # +1e-9 guards the double-arithmetic shortfall: (1-0.8)*n computes as
    # 0.19999999999999996*n, and floor() would lose one prefix element for
    # n divisible by 5, breaking the exactness guarantee at the threshold
    prefix_len = (F.floor((1 - threshold) * F.size("sh") + 1e-9) + 1).cast("int")
    prefix = base.select(
        "doc",
        F.size("sh").alias("n"),
        F.explode(F.slice("sh", F.lit(1), prefix_len)).alias("s"),
    )
    # left side of the self-join; the hot-key cap filters only this side
    prefix_a = prefix
    if max_prefix_df is not None:
        # Hot-key cap (VERDICT r6 #4): a corpus-wide boilerplate shingle in
        # many prefixes is a join hot key generating ~df^2/2 candidates. Drop
        # prefix tokens with df > cap from candidate generation — they are
        # non-discriminative (PPJoin suffix-filter argument). The hot list is
        # tiny (<= prefix_rows/cap tokens); AQE broadcasts the anti join while
        # it fits — no hint, so the plan reverts if the list ever grows.
        # Filtering ONE side suffices (r15, guide §2.4): the pair join is on
        # token EQUALITY, so a pair sharing only a hot token can't match once
        # the token is absent from side a — identical candidate set to
        # filtering both sides, at half the hot-aggregation executions (the
        # before plan ran the Generate+HashAggregate+Exchange hot derivation
        # and its anti-join TWICE, once per self-join side).
        hot = (
            prefix.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_prefix_df)
            .select("s")
        )
        prefix_a = prefix.join(hot, "s", "left_anti")
    return (
        prefix_a.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc") < F.col("b.doc"))
            & (F.col("b.n") >= threshold * F.col("a.n"))
            & (F.col("a.n") >= threshold * F.col("b.n")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_prefix_df: int | None = 1000,
) -> DataFrame:
    """All-pairs n-gram Jaccard >= threshold, with prefix filtering.

    Candidate generation uses the PPJoin-family prefix-filter theorem: order
    each doc's shingles by a global total order (their hash); two sets with
    Jaccard >= t MUST share at least one shingle among each one's first
    floor((1-t)*|S|)+1 shingles. Joining only those prefixes shrinks the
    inverted-index join by ~(1-t) squared while remaining exact; candidates
    are then verified with true Jaccard over the full sets (precision 1.0).
    Returns (id_a, id_b, jaccard) with id_a < id_b.

    Candidates also pass the PPJoin LENGTH filter (Jaccard >= t implies
    t*|A| <= |B| <= |A|/t): with the shared hashed-array base, |S| is one
    size() per DOC (a plain column copied through the explode), and the extra
    join predicates cut candidates ~3x (223k -> 82k) for a measured ~20%
    end-to-end win at sf0.1. (An earlier formulation that recomputed the
    shingle pipeline per exploded row made the same filter 2x SLOWER —
    the filter is only as cheap as its size() evaluation.)

    ``max_prefix_df`` (default 1000) bounds the hot-key blowup a corpus-wide
    boilerplate shingle would cause in the prefix self-join (~df^2/2
    candidates within one key): prefix tokens seen in more than that many
    documents are excluded from candidate generation. RECALL CONTRACT: with
    the cap active the result is exact UNLESS a true pair's shared prefix
    tokens are ALL above the cap. The prefix is the hash-minimal (i.e., a
    pseudo-random) sample of each doc's shingles, so a miss requires every
    sampled shared shingle to be corpus-boilerplate — probability decays
    geometrically in prefix length x the pair's non-boilerplate fraction;
    pairs similar only through boilerplate are exactly the ones near-dup
    pipelines do not want. Pass ``max_prefix_df=None`` for the fully exact
    guarantee (verification is exact either way — precision stays 1.0).

    The call runs one Spark job: it checkpoints the shared shingle arrays
    eagerly (the within-call lifetime rule of ``queries.served_artifact``,
    which also notes that the checkpoint is lost with its executor).
    """
    base = _hashed_shingle_arrays(df, id_col, text_col, k).localCheckpoint(eager=True)
    candidates = _prefix_candidates(base, threshold, max_prefix_df)
    return _verify_jaccard(candidates, base, threshold)


def minhash_signature_from_hashes(hash_arr_col, num_hashes: int = 128):
    """Minhash signature from a precomputed array<long> of shingle xxhash64
    values (the shared ``_hashed_shingle_arrays`` intermediate).

    ONE aggregate pass over the shingle hashes with a num_hashes-wide running
    minimum accumulator: per shingle x, candidate_i = (a_i*x + b_i) mod P with
    a_i = 2i+1, b_i = 7919*(i+1). (The naive per-hash formulation — num_hashes
    separate array transforms — re-evaluates the shingle/xxhash pipeline per
    hash function and was ~60x slower end-to-end.)
    """
    base = F.transform(hash_arr_col, lambda h: F.pmod(h, F.lit(_PRIME_P)))
    a_arr = F.array(*[F.lit(2 * i + 1).cast("long") for i in range(num_hashes)])
    b_arr = F.array(*[F.lit(7919 * (i + 1)).cast("long") for i in range(num_hashes)])
    init = F.array_repeat(F.lit(_PRIME_P).cast("long"), num_hashes)

    def step(acc, x):
        cand = F.zip_with(a_arr, b_arr, lambda a, b: F.pmod(a * x + b, F.lit(_PRIME_P)))
        return F.zip_with(acc, cand, lambda m, c: F.least(m, c))

    return F.aggregate(base, init, step)


def _rows_per_band(num_hashes: int, bands: int) -> int:
    """Signature rows per LSH band: the bands must tile the signature."""
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple of bands ({bands}); "
            "otherwise signature rows are silently dropped or banding degenerates"
        )
    return num_hashes // bands


def _explode_bands(docs_with_sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """(doc, sig) -> (doc, band, bh): hash each ``rows``-wide signature band —
    the LSH blocking key."""
    return (
        docs_with_sig.select(
            "doc",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.alias("band"),
                        F.xxhash64(F.concat_ws("_", F.slice("sig", b * rows + 1, rows))).alias(
                            "bh"
                        ),
                    ),
                )
            ).alias("bb"),
        ).select("doc", "bb.band", "bb.bh")
    )


def _block_pairs(left: DataFrame, right: DataFrame | None = None, carry=()) -> DataFrame:
    """The one band join of every near-dup generator: (doc, band, bh,
    *carry) rows that share a band hash become candidate pairs.

    ``right=None`` is the self-join, each pair once with ``a.doc < b.doc``.
    With ``right``, every ``left`` doc meets every other ``right`` doc and
    each pair is oriented by id — the incremental shape, where ``left`` is
    the new docs and ``right`` corpus ∪ new, so new-new pairs found from
    both ends collapse in the ``distinct``. Returns distinct (id_a, id_b,
    <c>_a, <c>_b for each carried column c) with id_a < id_b."""
    oriented = right is not None
    a, b = F.col("a.doc"), F.col("b.doc")

    def pick(c: str, first: bool) -> F.Column:
        x, y = F.col(f"a.{c}"), F.col(f"b.{c}")
        if not first:
            x, y = y, x
        return F.when(a < b, x).otherwise(y) if oriented else x

    cols = [pick("doc", True).alias("id_a"), pick("doc", False).alias("id_b")]
    for c in carry:
        cols += [pick(c, True).alias(f"{c}_a"), pick(c, False).alias(f"{c}_b")]
    on = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & ((a != b) if oriented else (a < b))
    )
    other = right if oriented else left
    return left.alias("a").join(other.alias("b"), on).select(*cols).distinct()


def _minhash_pairs(
    index: DataFrame, bands: int, rows: int, threshold: float, right: DataFrame | None = None
) -> DataFrame:
    """MinHash near-dup pairs over (doc, sh, sig) index rows: band keys from
    the signatures, the band join, then exact Jaccard over the shingle
    arrays. With ``right`` (corpus ∪ new index rows), ``index`` holds the new
    docs and only pairs touching them are found; a doc id in both indexes is
    verified once."""
    banded = _explode_bands(index, bands, rows)
    if right is None:
        return _verify_jaccard(_block_pairs(banded), index.select("doc", "sh"), threshold)
    candidates = _block_pairs(banded, _explode_bands(right, bands, rows))
    arrays = right.select("doc", "sh").dropDuplicates(["doc"])
    return _verify_jaccard(candidates, arrays, threshold)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified with exact Jaccard: the call's own
    :func:`minhash_index` served through :func:`minhash_pairs_from_index`'s
    route (split each signature into ``bands`` bands of
    ``num_hashes//bands`` rows, equi-join on (band, band hash), verify the
    candidates only — precision 1.0). The index is checkpointed eagerly (the
    within-call lifetime rule of ``queries.served_artifact``), so the
    tokenize->shingle->hash pipeline and the signature run once per doc, in
    one Spark job; the signature-width probe of the served route is skipped
    because this call built the signatures itself.
    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    rows = _rows_per_band(num_hashes, bands)
    index = minhash_index(df, id_col, text_col, k, num_hashes).localCheckpoint(eager=True)
    return _minhash_pairs(index, bands, rows, threshold)


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 128,
) -> DataFrame:
    """Build the persistable dedup INDEX for a document set: one row per doc
    with its shingle-hash array and minhash signature, (doc, sh, sig).

    This is the artifact a 100 TB pipeline stores (parquet via
    ``atomic_publish``) so that each day's increment is deduped against the
    corpus WITHOUT re-reading or re-shingling historical text — the expensive
    tokenize->shingle->xxhash pass runs exactly once per document ever. The
    index is ~1-2% the size of the text it summarizes (128 longs + the
    shingle hashes)."""
    base = _hashed_shingle_arrays(df, id_col, text_col, k)
    return base.withColumn("sig", minhash_signature_from_hashes(F.col("sh"), num_hashes))


def _check_sig_len(index: DataFrame, num_hashes: int, what: str) -> None:
    """Raise if a stored minhash index's signature length disagrees with the
    serving parameters (review r12): served longer than stored, the trailing
    bands slice past the array end and hash the SAME empty prefix for every
    document — each degenerate band emits the full n^2/2 candidate set
    (correct output after verification, catastrophic cost at scale); served
    shorter, banding silently uses a prefix and recall quietly changes."""
    probe = index.select(F.size("sig").alias("w")).limit(1).collect()
    if probe and int(probe[0]["w"]) != int(num_hashes):
        raise ValueError(
            f"{what}: stored signatures have {int(probe[0]['w'])} hashes but "
            f"num_hashes={int(num_hashes)} was requested — banding would "
            "silently degenerate (empty-slice bands emit all-pairs "
            "candidates; prefix bands change recall); serve with the "
            "publish-time num_hashes or re-index"
        )


def minhash_pairs_from_index(
    index: DataFrame,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup pairs SERVED from a published :func:`minhash_index` — the
    steady-state posture (VERDICT r11 item #4, matching the ANN rows): text
    is never read, tokenized, shingled, or hashed again. Band keys explode
    from the STORED 128-long signatures (cheap column math), buckets
    self-join, and verification is exact Jaccard over the STORED shingle
    arrays — identical output to :func:`minhash_lsh_pairs` on the indexed
    corpus (same banding, same verification), at index-scan cost instead of
    corpus-scan cost. At 100 TB this is the difference between re-shingling
    petabytes per run and scanning the ~1-2% index.
    Returns (id_a, id_b, jaccard) with id_a < id_b."""
    rows = _rows_per_band(num_hashes, bands)
    _check_sig_len(index, num_hashes, "minhash_pairs_from_index")
    return _minhash_pairs(index, bands, rows, threshold)


def incremental_minhash_pairs(
    new_index: DataFrame,
    corpus_index: DataFrame,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup pairs INVOLVING AT LEAST ONE NEW DOC: the increment is checked
    against the existing corpus index (new-vs-corpus) and against itself
    (new-vs-new) — never corpus-vs-corpus, which the previous runs already
    covered. Both inputs are ``minhash_index`` outputs; ids must share one
    global space.

    Candidate generation explodes band keys from the STORED signatures (cheap
    column math — no text reprocessing) and bucket-joins new bands against
    corpus+new bands; verification is exact Jaccard over the stored shingle
    arrays, so precision is 1.0 exactly like the one-shot path. Cost scales
    with |increment| x bucket collision rate, not |corpus|^2 — the property
    that makes daily dedup of a growing 100 TB corpus affordable.
    Returns (id_a, id_b, jaccard) with id_a < id_b.

    Re-ingestion note: a doc id present in BOTH indexes (the same doc
    re-submitted in an increment) is treated as one document — the verify
    side dedupes on id so pair rows are emitted once, and the new-vs-corpus
    self-pair is excluded rather than reported as a Jaccard-1.0 duplicate of
    itself. Ids must refer to the same text in both indexes; resolving
    *conflicting* texts under one id is upstream's job."""
    rows = _rows_per_band(num_hashes, bands)
    _check_sig_len(new_index, num_hashes, "incremental_minhash_pairs(new_index)")
    _check_sig_len(corpus_index, num_hashes, "incremental_minhash_pairs(corpus_index)")
    cols = ["doc", "sh", "sig"]
    both = corpus_index.select(cols).unionByName(new_index.select(cols))
    return _minhash_pairs(new_index, bands, rows, threshold, right=both)


def near_dup_groups(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve near-dup pairs into duplicate GROUPS (connected components of
    the pair graph): every doc's ``group_id`` is the smallest doc id reachable
    from it, which doubles as the canonical keep-id — the last step of a dedup
    pipeline (pairs alone don't say which docs to drop when duplicates chain
    A~B~C without A~C).

    Iterative min-label propagation with a driver-side fixpoint loop — the
    idiomatic Spark shape for an algorithm SQL can't express in one pass. Per
    round: one shuffle join of labels onto the (cached) symmetrized edge list,
    a min-aggregate, and a convergence count; labels are ``localCheckpoint``-ed
    each round so the plan/lineage stays constant instead of growing per
    iteration. Rounds to converge = graph diameter. Near-dup clusters are
    near-cliques (diameter 1-2 — verified transitively-chained fixtures
    converge in 2 rounds), so the loop runs 2-4 times in practice; if
    ``max_iter`` rounds pass without convergence (adversarial chain-shaped
    graphs), the computation falls back to the O(log n)-round
    large-star/small-star contraction (:func:`star_contraction_groups`)
    instead of silently returning component-splitting labels.

    Returns (doc_id, group_id) for every doc that appears in ``pairs``
    (singletons never enter the graph — their keep decision is trivial).
    """
    edges = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    edges = edges.persist()
    labels = (
        edges.select(F.col("a").alias("node")).distinct().withColumn("label", F.col("node"))
    ).localCheckpoint()
    changed = 0
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("label").alias("nbr"))
        )
        new_labels = (
            labels.join(nbr_min, labels["node"] == nbr_min["a"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nbr"), F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        # Non-converged labels would silently split components (docs kept
        # that should have been grouped) — never return them. The graph's
        # diameter exceeded max_iter, which is exactly the shape the star
        # contraction handles in O(log n) rounds.
        warnings.warn(
            f"near_dup_groups: min-label propagation did not converge in "
            f"{max_iter} rounds (long-chain graph); falling back to "
            f"large-star/small-star contraction",
            stacklevel=2,
        )
        return star_contraction_groups(pairs, id_a=id_a, id_b=id_b)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("group_id"))


def _dedup_edges(e: DataFrame) -> DataFrame:
    return e.where(F.col("u") != F.col("v")).distinct()


def _large_star(sym_edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., 'Connected Components in MapReduce
    and Beyond'): each node u connects its LARGER neighbors to the minimum of
    its neighborhood-plus-self — strictly decreasing edge targets, provably
    halving component height every other round. Input must be symmetrized."""
    mins = sym_edges.groupBy("u").agg(F.min("v").alias("mn"))
    return _dedup_edges(
        sym_edges.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.least(F.col("mn"), F.col("u")).alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient every edge large->small, then each node
    re-points its smaller neighbors (and itself) at the minimum one."""
    e = _dedup_edges(
        edges.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    )
    mins = e.groupBy("u").agg(F.min("v").alias("mn"))
    repointed = (
        e.join(mins, "u")
        .where(F.col("v") != F.col("mn"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
    )
    return _dedup_edges(repointed.union(mins.select("u", F.col("mn").alias("v"))))


def star_contraction_groups(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star/small-star contraction
    — O(log n) rounds regardless of graph shape, vs min-label propagation's
    O(diameter). The scale path for adversarial chain graphs (a 10k-node path
    converges in ~a dozen rounds where label propagation needs 10k); for the
    near-clique graphs real near-dup pipelines produce, plain
    :func:`near_dup_groups` converges faster per round and wins.

    Fixpoint detection: a round's edge set is fingerprinted as
    (count, sum(xxhash64(u,v))) — identical fingerprints on consecutive
    rounds terminate the loop (a 64-bit sum collision between consecutive
    differing edge sets is negligible). At the fixed point every component is
    a star centered on its minimum node, so labels read directly off the
    edges. Returns (doc_id, group_id) for every node in ``pairs``.
    """
    nodes = (
        pairs.select(F.col(id_a).alias("node"))
        .union(pairs.select(F.col(id_b).alias("node")))
        .distinct()
        .localCheckpoint()
    )
    edges = _dedup_edges(
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    ).localCheckpoint()

    def _fingerprint(e: DataFrame) -> tuple:
        # sum in decimal: a long sum of 64-bit hashes overflows (ANSI mode
        # raises); decimal(38,0) holds ~1e19 rows' worth of headroom
        row = e.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row.n, row.h)

    prev = None
    for _ in range(max_rounds):
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        edges = _small_star(_large_star(sym)).localCheckpoint()
        fp = _fingerprint(edges)
        if fp == prev:
            break
        prev = fp
    else:
        raise RuntimeError(
            f"star_contraction_groups did not converge in {max_rounds} rounds"
        )
    # stars: every non-root points straight at its component minimum
    labels = edges.select(F.col("u").alias("node"), F.col("v").alias("label"))
    return (
        nodes.join(labels, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce(F.col("label"), F.col("node")).alias("group_id"),
        )
    )


def contamination_stats(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    bench_text_col: str | None = None,
    min_hits: int = 1,
    hashed: bool = True,
) -> DataFrame:
    """Train/eval decontamination: per-corpus-document overlap with the k-gram
    set of a benchmark corpus (the GPT-3/Gopher-style contamination check —
    a training doc sharing >= ``min_hits`` k-grams with any eval document is
    flagged for removal before training).

    Scale design (100 TB corpus vs MB-scale eval suites): the benchmark gram
    set is distinct-collapsed and BROADCAST; the corpus side explodes its
    distinct shingles and left-joins the broadcast set, then re-aggregates per
    doc — the corpus is never shuffled by gram, only by its own doc id for the
    final count (map-side combinable). With ``hashed=True`` both sides join on
    xxhash64 longs: 8 bytes/gram through the broadcast instead of strings,
    semantics identical up to 64-bit collisions (~1e-10 for an eval-suite-sized
    gram set). Shingle semantics (distinct k-grams, whole-doc fallback under k
    tokens) are shared with the Jaccard/MinHash family (:func:`shingles`).

    Returns one row per corpus doc: (doc, n_grams, n_hits, contaminated).
    """
    btext = bench_text_col or text_col
    bench = benchmark.select(F.explode(shingles(F.col(btext), k)).alias("g")).distinct()
    corp = corpus.select(
        F.col(id_col).alias("doc"), F.explode(shingles(F.col(text_col), k)).alias("g")
    )
    if hashed:
        bench = bench.select(F.xxhash64("g").alias("g"))
        corp = corp.select("doc", F.xxhash64("g").alias("g"))
    joined = corp.join(
        F.broadcast(bench.withColumn("_hit", F.lit(1))), "g", "left"
    )
    return (
        joined.groupBy("doc")
        .agg(F.count("*").alias("n_grams"), F.count("_hit").alias("n_hits"))
        .withColumn("contaminated", F.col("n_hits") >= min_hits)
    )


def _vote_bits(hashes, bits: int) -> F.Column:
    """The SimHash vote: bit b of the result is set when bit b is set in more
    than half of the ``hashes`` (array<long>). Masks are built with shiftleft
    (JVM long shift, where 1<<63 is the sign bit) rather than a Python
    ``1 << b`` literal, which overflows LongType at b=63."""

    def bit(b: int) -> F.Column:
        # helper closure, NOT a default lambda arg: pyspark's higher-order
        # lambdas are arity-introspected, so a 3-arg lambda would get b bound
        # to an unresolved lambda variable instead of the int
        vote = F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc + (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1),
        )
        return F.when(vote > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
            F.lit(0).cast("long")
        )

    # OR, not +: masks are disjoint so they're equivalent, but OR can never
    # trip ANSI overflow checks when bit 63 (the long sign bit) is set
    out = bit(0)
    for b in range(1, bits):
        out = out.bitwiseOR(bit(b))
    return out


def simhash(text_col, bits: int = 64, k: int = 3) -> F.Column:
    """SimHash signature over k-gram *shingles*: per bit position, sign of the
    vote sum over shingle hashes. Pure higher-order functions — one pass.

    Shingles, not raw tokens: on a small-vocabulary corpus every document
    shares most of the token set, so token-level signatures collapse to near
    identical values; shingle sets differ like their Jaccard similarity does.
    Supports up to 64 bits (:func:`_vote_bits`).
    """
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in [1, 64], got {bits}")
    return _vote_bits(F.transform(shingles(text_col, k), lambda t: F.xxhash64(t)), bits)


def _md5_simhash(text_col, k: int = 3) -> F.Column:
    """Cross-engine-reproducible 64-bit SimHash: each shingle votes with the
    first and the second 8 hex chars of its md5 as two 32-bit words, and the
    signature is ``(vote(hi) << 32) | vote(lo)``. ANY engine with md5 and
    integer shifts reproduces it bit for bit — this variant exists to give
    the simhash gate query an exact DuckDB oracle. Production signatures use
    :func:`simhash` (one xxhash64 pass: ~10x cheaper than md5)."""
    gs = shingles(text_col, k)

    def word(start: int) -> F.Column:
        return _vote_bits(
            F.transform(gs, lambda s: F.conv(F.substring(F.md5(s), start, 8), 16, 10).cast("long")),
            32,
        )

    return F.shiftleft(word(1), 32).bitwiseOR(word(9))


def simhash_bands(sig_col, bits: int, bands: int) -> F.Column:
    """Split a ``bits``-wide signature into ``bands`` contiguous blocking
    bands as an array of (band, bh) structs. Band widths differ by at most
    one bit (wider bands first), so EVERY signature bit participates in
    exactly one band — a ``bits // bands`` fixed width would silently leave
    ``bits % bands`` high bits out of blocking. Extraction uses
    shiftrightunsigned: with bit 63 set, arithmetic shiftright would smear
    the sign bit across every band. Any partition of the bits preserves the
    pigeonhole guarantee.
    """
    base, extra = divmod(bits, bands)
    widths = [base + 1 if i < extra else base for i in range(bands)]
    offsets = [sum(widths[:i]) for i in range(bands)]
    structs = []
    for i, (off, w) in enumerate(zip(offsets, widths)):
        shifted = F.shiftrightunsigned(sig_col, off)
        if w < 64:
            shifted = shifted.bitwiseAND(F.lit((1 << w) - 1))
        # w == 64 (bands=1): the mask would be 2^64-1, unrepresentable as a
        # long literal — and the full shifted value IS the band already
        structs.append(F.struct(F.lit(i).alias("band"), shifted.alias("bh")))
    return F.array(*structs)


def _text_sigs(df: DataFrame, id_col: str, text_col: str, sig) -> DataFrame:
    """(doc, sig): ``sig`` maps the text column to each doc's signature."""
    return _spread(df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t"))).select(
        "doc", sig(F.col("_t")).alias("sig")
    )


def _hamming_candidates(sigs: DataFrame, bits: int, bands: int) -> DataFrame:
    """Banded blocking over (doc, sig) rows: pairs that agree on at least one
    of the ``bands`` exact bands of their ``bits``-wide signatures. Returns
    distinct (id_a, id_b, sig_a, sig_b)."""
    # a zero-width band is shared by every doc (all n^2 pairs), and
    # bands < 1 has no bands at all (no pairs, silently)
    if not 1 <= bands <= bits:
        raise ValueError(f"bands must be in [1, bits={bits}], got {bands}")
    banded = sigs.select("doc", "sig", F.explode(simhash_bands("sig", bits, bands)).alias("bb"))
    return _block_pairs(banded.select("doc", "sig", "bb.band", "bb.bh"), carry=("sig",))


def _hamming_pairs(sigs: DataFrame, bits: int, bands: int, max_hamming: int) -> DataFrame:
    """Banded blocking verified by true Hamming distance: (id_a, id_b,
    hamming) for every candidate within ``max_hamming``. With
    ``bands >= max_hamming + 1`` every pair within the radius shares a band
    (pigeonhole), so the result is the all-pairs Hamming filter."""
    return (
        _hamming_candidates(sigs, bits, bands)
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    bands: int = 4,
) -> DataFrame:
    """Banded-blocking candidate pairs (pre-verification): signatures are
    split into ``bands`` exact-match blocks and pairs sharing any block are
    emitted once. The block join is a hash join on (band, band_hash) — the
    selectivity knob is band width (bits/bands): 16-bit bands collide at
    random with p ~= 2^-16 per band. Returns (id_a, id_b, sig_a, sig_b)."""
    sigs = _text_sigs(df, id_col, text_col, lambda t: simhash(t, bits))
    return _hamming_candidates(sigs, bits, bands)


# The production (100 TB) blocking config — and the simhash_near_pairs
# DEFAULT: classic 64-bit/radius-3/4-band SimHash — 16-bit bands, random
# band-collision p ~= 1.5e-5, so the candidate set is a vanishing fraction of
# the pair space (asserted <=1% at sf0.1 in tests, measured ~0.02%). Recall
# tradeoff vs the gate config measured on this corpus: radius 3 catches 14/25
# of the exact Jaccard>=0.8 pairs at sf0.01 (web-style near-dups perturb
# fewer bits and do better); the gate query opts into radius 13 / 14 bands
# explicitly for full recall.
SIMHASH_SCALE_CONFIG = {"bits": 64, "max_hamming": 3, "bands": 4}


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    max_hamming: int = 3,
    bands: int | None = None,
) -> DataFrame:
    """Near-dup candidates via banded SimHash blocking, verified by true
    hamming distance. With ``bands >= max_hamming + 1`` (the default), every
    pair within the hamming radius shares at least one exact band (pigeonhole),
    so recall within the radius is 1.0. ``bands`` must be in [1, bits].
    Returns (id_a, id_b, hamming).

    The DEFAULT is the production config (``SIMHASH_SCALE_CONFIG``: classic
    64-bit / radius-3 / 4 pigeonhole bands of 16 bits): band collisions are
    random at p ~= 1.5e-5, so the candidate set is a vanishing fraction of the
    pair space (asserted <=1% at sf0.1, measured ~0.02%) — a bare call is
    scale-safe on a billion-doc corpus, where the candidate count IS the cost
    of the verify join.

    Wider radii trade that pruning for recall: radius 3 catches 14/25 of the
    exact Jaccard>=0.8 pairs on this synthetic corpus (its near-dups perturb
    more bits than web-page near-dups do), while radius 13 / 14 bands — the
    gate query's explicit config — catches 28/28 (sf0.001), 25/25 (sf0.01),
    256/256 (sf0.1) with <=12 extras. But 14 bands over 64 bits are only 4-5
    bits wide, so an unrelated pair matches some band with p ~= 0.5: that
    config prunes only ~half the pair space and exists for recall, not speed —
    opt into it per-call (``max_hamming=13``), never as the default.
    """
    # bands >= max_hamming + 1 gives the pigeonhole guarantee (recall 1.0 within
    # the radius); fewer bands is allowed as a scale/recall tradeoff — wider
    # bands block far more selectively, and recall stays high because a real
    # near-dup's differing bits rarely spread across every band
    if bands is None:
        bands = max_hamming + 1
    sigs = _text_sigs(df, id_col, text_col, lambda t: simhash(t, bits))
    return _hamming_pairs(sigs, bits, bands, max_hamming)


def simhash_md5_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    max_hamming: int = 13,
) -> DataFrame:
    """Near-dup pairs on the md5 SimHash (:func:`_md5_simhash`), blocked by
    16 pigeonhole bands of 4 bits and verified by true hamming distance.
    With 16 bands, every pair within hamming 15 shares a band, so for
    ``max_hamming <= 15`` the result equals the brute-force all-pairs hamming
    filter exactly — which is what the DuckDB oracle computes, independently
    verifying the banding machinery's recall guarantee. Returns
    (id_a, id_b, hamming)."""
    if max_hamming > 15:
        raise ValueError(f"max_hamming must be <= 15 for 16-band blocking, got {max_hamming}")
    sigs = _text_sigs(df, id_col, text_col, lambda t: _md5_simhash(t, k))
    return _hamming_pairs(sigs, 64, 16, max_hamming)


def near_dup_groups_increment(
    old_labels: DataFrame,
    new_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Incremental duplicate-group maintenance: fold a batch of NEW near-dup
    pairs into an existing (doc_id, group_id) labeling at
    O(increment + touched groups) — the standing corpus's untouched groups
    are never re-propagated, so daily dedup increments (the
    streaming/dedup.py + minhash-index-append pipeline emits exactly such
    pair batches) cost proportional to what changed, not to history.

    Works because a group's labeling IS its connectivity: each touched
    group is reconstituted as star edges (member -> group label), unioned
    with the new pairs, and re-resolved with :func:`near_dup_groups` — the
    star graph has the same components as the original group (and diameter
    2, so the fixpoint loop converges immediately), and min-labels are
    stable under this contraction because the group label is the group's
    minimum id. Equivalence with a from-scratch recompute over
    (old edges ∪ new pairs) is pytest-pinned, including increments that
    MERGE previously separate groups and re-applied (replayed) increments.

    Returns the full updated labeling: untouched rows pass through verbatim.
    """
    ends = (
        new_pairs.select(F.col(id_a).alias("node"))
        .union(new_pairs.select(F.col(id_b).alias("node")))
        .distinct()
    )
    touched = (
        old_labels.join(ends, old_labels["doc_id"] == ends["node"])
        .select("group_id")
        .distinct()
    )
    affected = old_labels.join(touched, "group_id")
    star = affected.filter(F.col("doc_id") != F.col("group_id")).select(
        F.col("doc_id").alias(id_a), F.col("group_id").alias(id_b)
    )
    resolved = near_dup_groups(
        star.unionByName(new_pairs.select(F.col(id_a), F.col(id_b))),
        id_a,
        id_b,
        max_iter,
    )
    untouched = old_labels.join(touched, "group_id", "left_anti")
    return untouched.select("doc_id", "group_id").unionByName(
        resolved.select("doc_id", "group_id")
    )
