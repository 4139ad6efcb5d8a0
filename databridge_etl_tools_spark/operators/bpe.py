"""Distributed BPE-style merge learning.

Two constructions, one merge semantics (greedy left-to-right
non-overlapping fuse of the most frequent adjacent pair, Sennrich et
al. 2016):

- :func:`bpe_fit` / :func:`bpe_apply` — the TOKEN-level variant:
  units are whitespace tokens, adjacency spans the whole document
  (learns frequent word bigrams / phrases). Incremental since round
  6: the corpus-wide pair-count shuffle runs ONCE; each round
  re-processes only the documents that actually CONTAIN the winning
  pair and patches the count table with their before/after delta, so
  per-round shuffle cost is proportional to the pair's document
  frequency, not the corpus.
- :func:`bpe_fit_words` / :func:`bpe_apply_words` — the standard
  word-frequency-table construction (what subword BPE trainers
  actually do): collapse the corpus to its DISTINCT-word frequency
  table (one corpus-wide shuffle, once), split each word into
  characters, then learn merges WITHIN words with pair counts
  weighted by word frequency. Every per-round quantity — the
  count-weighted pair shuffle and the Arrow merge pass — is sized by
  the word VOCABULARY (Heaps-law sublinear in corpus size), never by
  the corpus. Encoding a corpus replays the merge table over the
  target corpus's distinct words and joins the finished
  word→subwords map back (size-aware broadcast), so the corpus pays
  one tokenize + one join, not one pass per merge rule.

Determinism: each round's winning pair is the (count desc, a asc,
b asc) maximum — a total order — and the greedy left-to-right merge
is a pure function of the unit sequence, so merge tables and
re-tokenized corpora are identical across engines, partitionings and
retries. No RNG, no driver-order dependence.

The merge pass runs in ``mapInPandas`` — a genuine can't-express
case: the greedy non-overlapping fold carries sequential state, and
a Catalyst ``aggregate`` lambda would rebuild the accumulator array
per element (interpreted, O(units²) per row — the repo's documented
HOF hazard), while the Arrow pass is O(units) per row. Each round's
state is re-materialized (lineage cut), so the plan never grows with
the merge count — the k-means/connected-components iteration
discipline.

Oracle-backed in the catalog since r8: the fixed merge count
unrolls the loop into a CTE chain (queries/textops.py
``_bpe_oracle`` — per-level pair recount + argmax + sentinel-
wrapped greedy string replace), so both constructions are
cross-engine-verified end to end; exact merge semantics are ALSO
pinned against pure-python twins in tests/test_bpe.py.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import route as RT
from .materialize import materialize
from .textstats import tokens
from .util import maybe_broadcast

#: word→subwords maps broadcast at or under this row count (same
#: budget as the vocab/span tables — a distinct-word table is
#: Heaps-law bounded but unbounded in principle).
WORD_BROADCAST_MAX_ROWS = 4_000_000


def _pair_counts(units: DataFrame, weight: str | None = None) -> DataFrame:
    """Adjacent-pair counts over ``_toks``; optionally weighted by a
    per-row count column (the word-frequency-table construction)."""
    pairs = F.expr(
        "transform(sequence(1, size(_toks) - 1),"
        " i -> struct(_toks[i - 1] AS a, _toks[i] AS b))"
    )
    cols = [F.explode(pairs).alias("p")] + ([F.col(weight)] if weight else [])
    w = F.col(weight) if weight else F.lit(1)
    return (
        units.where(F.size("_toks") >= 2)
        .select(*cols)
        .groupBy("p.a", "p.b")
        .agg(F.sum(w).cast("bigint").alias("c"))
    )


def _has_adjacent(a: str, b: str) -> Column:
    """Null-safe predicate: ``_toks`` contains ``a`` immediately
    followed by ``b``. Guarded so short arrays yield False, never
    NULL (a NULL predicate would drop the row from BOTH the affected
    and the untouched branch of the round's split)."""
    idx = F.sequence(F.lit(0), F.size("_toks") - 2)
    hit = F.exists(
        idx,
        lambda i: (F.get("_toks", i) == F.lit(a)) & (F.get("_toks", i + 1) == F.lit(b)),
    )
    return F.when(F.size("_toks") >= 2, hit).otherwise(F.lit(False))


def _merge_pass(units: DataFrame, a: str, b: str, joined: str) -> DataFrame:
    """Left-to-right non-overlapping fuse of adjacent (a, b) → joined."""

    def run(batches: Iterator) -> Iterator:
        for pdf in batches:
            out = []
            for toks in pdf["_toks"]:
                seq = list(toks)
                merged = []
                i = 0
                while i < len(seq):
                    if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                        merged.append(joined)
                        i += 2
                    else:
                        merged.append(seq[i])
                        i += 1
                out.append(merged)
            pdf = pdf.copy()
            pdf["_toks"] = out
            yield pdf

    return units.mapInPandas(run, units.schema)


def bpe_fit(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 10,
    min_count: int = 2,
    sep: str = "▁",  # ▁ — marks learned merge boundaries
) -> "tuple[list[tuple[int, str, str, int]], DataFrame]":
    """Learn up to ``n_merges`` token-level merge rules. Returns
    ``(merges, units)``: ``merges`` as ``[(step, a, b, count)]`` (the
    rule table, driver-side — n_merges bounded scalars, like k-means
    centroids) and ``units`` the re-tokenized corpus ``(<id_col>,
    _toks)`` after all merges. Stops early when no pair reaches
    ``min_count``.

    Scale shape (round-6 rewrite): the corpus-wide pair-count shuffle
    runs ONCE, before the loop. Each round then (1) collects the
    1-row argmax from the materialized count table, (2) splits the
    corpus on a map-side JVM adjacency predicate, (3) runs the Arrow
    merge pass over ONLY the affected documents, (4) patches the
    count table with the affected docs' before/after pair-count delta
    (two affected-sized shuffles + one pair-vocabulary-sized outer
    join), and (5) re-materializes the corpus as untouched ∪ merged —
    a map-side linear rewrite, no shuffle. So per-round SHUFFLE cost
    is proportional to the winning pair's document frequency (late
    rounds: near-zero), and the only corpus-sized work is the
    predicate scan + rewrite. The previous construction paid a full
    corpus pair-count shuffle AND a full-corpus Arrow pass every
    round."""
    units = materialize(
        docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    )
    counts = materialize(_pair_counts(units))
    merges: list[tuple[int, str, str, int]] = []
    for step in range(n_merges):
        top = counts.orderBy(F.desc("c"), F.asc("a"), F.asc("b")).limit(1).collect()
        if not top or top[0]["c"] < min_count:
            break
        a, b, c = top[0]["a"], top[0]["b"], int(top[0]["c"])
        merges.append((step, a, b, c))
        hit = _has_adjacent(a, b)
        affected = units.where(hit)
        merged = materialize(_merge_pass(affected, a, b, f"{a}{sep}{b}"))
        delta = (
            _pair_counts(affected)
            .select("a", "b", (-F.col("c")).alias("c"))
            .unionByName(_pair_counts(merged))
            .groupBy("a", "b")
            .agg(F.sum("c").alias("d"))
        )
        counts = materialize(
            counts.join(delta, ["a", "b"], "full_outer")
            .select(
                "a",
                "b",
                (
                    F.coalesce(F.col("c"), F.lit(0)) + F.coalesce(F.col("d"), F.lit(0))
                ).alias("c"),
            )
            .where(F.col("c") > 0)
        )
        units = materialize(units.where(~hit).unionByName(merged))
    return merges, units


def bpe_apply(
    docs: DataFrame,
    merges: "list[tuple[int, str, str, int]]",
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "▁",
) -> DataFrame:
    """Replay a learned token-level merge table over a corpus
    (training/serving parity): same greedy left-to-right semantics,
    applied in learned order. One Arrow pass per rule, zero
    shuffles."""
    units = materialize(
        docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    )
    for _, a, b, _c in sorted(merges):
        units = _merge_pass(units, a, b, f"{a}{sep}{b}")
    return units


def _chars() -> Column:
    return F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")


def _fit_words_py(
    rows: "list[tuple[str, int]]",
    n_merges: int,
    min_count: int,
    sep: str,
) -> "tuple[list[tuple[int, str, str, int]], dict[str, list[str]]]":
    """Driver-side replica of the word-table BPE loop — bit-identical
    to the distributed rounds: same freq-weighted pair counts, same
    (count desc, a asc, b asc) argmax (string ties break on UTF-8
    BYTES, matching Spark's UTF8String binary ordering), same
    left-to-right non-overlapping fuse, same ``min_count`` stop.
    Incremental: each round touches only the words containing the
    winning pair (the delta-update every real BPE trainer uses)."""
    from collections import defaultdict

    units: "dict[str, list[str]]" = {}
    freq: "dict[str, int]" = {}
    for w, f in rows:
        units[w] = list(w)
        freq[w] = int(f)
    pc: "dict[tuple[str, str], int]" = defaultdict(int)
    occ: "dict[tuple[str, str], set[str]]" = defaultdict(set)

    def count_word(w: str, sign: int) -> None:
        toks = units[w]
        f = freq[w] * sign
        for i in range(len(toks) - 1):
            p = (toks[i], toks[i + 1])
            pc[p] += f
            if sign > 0:
                occ[p].add(w)
            else:
                occ[p].discard(w)

    for w in units:
        count_word(w, +1)
    merges: "list[tuple[int, str, str, int]]" = []
    for step in range(n_merges):
        best_key = None
        best = None
        for p, c in pc.items():
            if c < min_count:
                continue
            k = (-c, p[0].encode("utf-8"), p[1].encode("utf-8"))
            if best_key is None or k < best_key:
                best_key, best = k, (p, c)
        if best is None:
            break
        (a, b), c = best
        merges.append((step, a, b, int(c)))
        joined = f"{a}{sep}{b}"
        for w in list(occ.get((a, b), ())):
            count_word(w, -1)
            seq = units[w]
            merged = []
            i = 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                    merged.append(joined)
                    i += 2
                else:
                    merged.append(seq[i])
                    i += 1
            units[w] = merged
            count_word(w, +1)
    return merges, units


def bpe_fit_words(
    docs: DataFrame,
    *,
    text_col: str = "text",
    n_merges: int = 10,
    min_count: int = 2,
    sep: str = "▁",
    driver_vocab_budget: "int | None" = None,
) -> "tuple[list[tuple[int, str, str, int]], DataFrame]":
    """Standard subword BPE over the distinct-word frequency table
    (the construction every real tokenizer trainer uses — Sennrich et
    al. 2016's learn_bpe): ONE corpus-wide shuffle builds ``(w,
    freq)``, each word splits into characters, and every round learns
    the (freq-weighted count desc, a asc, b asc)-max adjacent pair
    WITHIN words. Returns ``(merges, words)`` with ``words`` =
    ``(w, freq, _toks)`` — the finished word→subwords map.

    Scale: per-round cost is word-VOCABULARY-sized (Heaps-law
    sublinear in corpus size) — one weighted pair-count shuffle over
    the word table + one Arrow merge pass over the word table — vs
    the token-level variant's corpus-sized rounds. This is why the
    word-table construction is the scale path for subword-tokenizer
    training; the token-level variant remains the right tool when
    merges must cross word boundaries (phrase mining). No end-of-word
    marker is appended (document-level token counts stay exact); add
    one upstream by mapping ``text → text + ' </w>'``-style suffixes
    per token if word-boundary-aware merges are needed."""
    words = materialize(
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .withColumn("_toks", _chars())
    )
    # size-aware routing: the merge LOOP is vocabulary-sized work
    # with a sequential dependence between rounds — at demo scale the
    # 2·n_merges fixed-latency jobs dominate it (measured ~0.4 s per
    # round for a 50 k-word table). When the vocabulary fits the
    # driver budget, run the rounds as in-memory delta updates
    # (bit-identical: pinned against the distributed loop in
    # tests/test_bpe.py) and rebuild the finished word table; past
    # the budget the distributed per-round loop below is the honest
    # path. One bounded count probe decides (the ``bpe`` budget in
    # ``operators.route``): vocabulary rows are short strings, far
    # below Spark's result-size cap, so a Row collect behind the
    # count is safe.
    if driver_vocab_budget is None:
        driver_vocab_budget = RT.budget("bpe")
    if (
        driver_vocab_budget > 0
        and words.agg(F.count(F.lit(1))).collect()[0][0]
        <= driver_vocab_budget
    ):
        rows = [
            (r["w"], int(r["freq"]))
            for r in words.select("w", "freq").collect()
        ]
        merges, units = _fit_words_py(rows, n_merges, min_count, sep)
        fdict = dict(rows)
        final = docs.sparkSession.createDataFrame(
            [(w, fdict[w], t) for w, t in units.items()],
            "w string, freq bigint, _toks array<string>",
        )
        return merges, final
    merges: list[tuple[int, str, str, int]] = []
    for step in range(n_merges):
        top = (
            _pair_counts(words, weight="freq")
            .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["c"] < min_count:
            break
        a, b, c = top[0]["a"], top[0]["b"], int(top[0]["c"])
        merges.append((step, a, b, c))
        words = materialize(_merge_pass(words, a, b, f"{a}{sep}{b}"))
    return merges, words


def bpe_apply_words(
    docs: DataFrame,
    merges: "list[tuple[int, str, str, int]]",
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "▁",
) -> DataFrame:
    """Encode a corpus with a learned word-level merge table:
    ``(<id_col>, _toks)`` where ``_toks`` concatenates each word's
    subword units in document order (empty docs yield empty arrays).

    Scale: the merge rules replay over the TARGET corpus's
    distinct-word table (vocabulary-sized Arrow passes — handles OOV
    words by construction, they just split further), then ONE
    positional explode + size-aware word-map join + ordered
    reassembly (the struct-sort collect pattern —
    partition-independent). The corpus pays one tokenize pass and
    one join, never a per-rule pass."""
    toks = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_w"))
    dw = materialize(
        toks.select(F.explode("_w").alias("w")).distinct().withColumn("_toks", _chars())
    )
    for _, a, b, _c in sorted(merges):
        dw = _merge_pass(dw, a, b, f"{a}{sep}{b}")
    dw = materialize(dw)
    ex = toks.select(id_col, F.posexplode("_w").alias("pos", "w"))
    agg = (
        ex.join(maybe_broadcast(dw, WORD_BROADCAST_MAX_ROWS), "w")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.expr(
                    "transform(sort_array(collect_list(struct(pos, _toks))),"
                    " s -> s._toks)"
                )
            ).alias("_toks")
        )
    )
    return (
        toks.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("_toks", F.expr("CAST(array() AS array<string>)")).alias(
                "_toks"
            ),
        )
    )
