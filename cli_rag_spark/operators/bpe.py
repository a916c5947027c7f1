"""BPE merge training — the iterative tokenizer-training loop
(Sennrich et al. 2016), distributed.

``bpe_pair_stats`` (plans/queries_corpus.py) measures iteration 0;
this module runs the actual LOOP: repeatedly find the corpus-wide
most frequent adjacent symbol pair and merge it everywhere. The
distributable heavy step per iteration is the weighted pair count —
one explode + partial-aggregated groupBy over the DISTINCT-WORD table
(BPE's standard compression: the corpus collapses to (word, freq)
once, so iteration cost scales with vocabulary, not corpus size).
The argmax is a 1-row TakeOrderedAndProject collect; the merge is a
pure-map literal string replace.

Symbol sequences are pipe-wrapped strings — every symbol carries
its own delimiters (``|c||h||a||r|``) — and a merge of pair (a, b)
is ``replace("|a||b|", "|ab|")`` — literal
``replace`` is left-to-right non-overlapping in Spark AND DuckDB,
which is exactly BPE's scan order, so the whole loop replays in the
SQL oracle as chained CTE stages. Words are restricted to
``^[a-z]+$`` so the delimiter can never collide with a symbol.

Ties on the pair count break lexicographically (a asc, b asc) —
deterministic across engines and cluster sizes.

At 100 TB: the word-freq table is the only corpus-sized aggregation
(one shuffle on the word key); each of the V merge iterations then
touches only |vocab| rows. This is why production BPE trainers are
feasible at web scale — and the structure survives here: nothing in
the loop scans the corpus twice.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cli_rag_spark.functions.let import let
from cli_rag_spark.functions.text import tokens

_SEP = "|"
_SEP_RE = re.escape(_SEP)


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over lowercase alphabetic tokens — the corpus
    compression every BPE iteration reuses.

    spread_small_input was A/B'd here (r16) and NOT shipped: a
    single-split input gives the (word) partial aggregate PERFECT
    map-side combine (every word pre-counted once before the
    exchange); spreading to 32 partitions shuffles up to 32× the
    distinct-word rows, and the interleaved runs read bpe_encode_stats
    2.37 s / 5.3 CPU-s unspread vs 2.54 / 13.0 spread (bpe_merges
    1.82/3.8 vs 1.92/6.7) — the tokenize parallelism never repays the
    lost combine."""
    toks = tokens(F.lower(F.col(text_col)))
    words = docs.select(F.explode(toks).alias("word")).where(
        F.col("word").rlike(r"^[a-z]+$")
    )
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))


def _initial_symbols(word) -> F.Column:
    # each symbol carries BOTH its delimiters ("|a||b|", not "|a|b|"):
    # with a shared boundary pipe, consecutive merges would fail —
    # replace consumes the boundary of the next candidate ("aaaa" with
    # pair (a,a) must give |aa||aa|, not |aa|a|a|)
    return F.array_join(
        F.transform(F.split(word, ""), lambda c: F.concat(F.lit(_SEP), c, F.lit(_SEP))),
        "",
    )


def pair_counts(syms_freq: DataFrame) -> DataFrame:
    """(a, b, n): corpus-weighted adjacent-pair frequencies of the
    current symbol sequences. explode + groupBy — map-side combined."""
    syms = F.filter(F.split(F.col("syms"), _SEP_RE), lambda x: x != "")
    pairs = syms_freq.select(
        "freq",
        F.explode(let(syms, lambda arr: F.when(
            F.size(arr) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(arr) - 1),
                lambda i: F.struct(
                    F.element_at(arr, i).alias("a"),
                    F.element_at(arr, i + 1).alias("b"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<a:string,b:string>>")))).alias("p"),
    )
    return pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
        F.sum("freq").alias("n")
    )


def bpe_train_merges(
    docs: DataFrame, n_merges: int, text_col: str = "text"
) -> tuple[list[dict], DataFrame]:
    """Run ``n_merges`` BPE iterations; returns (merges, final symbol
    table). Each merge dict: {step, a, b, n}.

    Driver work per iteration is ONE collected row (the argmax pair) —
    the same driver/cluster split as Lloyd's k-means (operators/ann.py
    kmeans_refine): tiny decisions on the driver, heavy counts on the
    cluster.
    """
    if n_merges <= 0:
        raise ValueError("n_merges must be positive")
    wf = word_frequencies(docs, text_col)
    syms = wf.select(_initial_symbols(F.col("word")).alias("syms"), "freq")
    # the word table is the only corpus-derived state and is reused
    # every iteration — persist once. Each merge stacks a pure-map
    # string replace on the persisted base; every CHECKPOINT_EVERY
    # merges the current frame is localCheckpoint-ed (same lineage
    # discipline as operators/components.py), so a long merge schedule
    # costs O(n_merges) replace evaluations total, not O(n_merges²)
    # replays of the whole chain per pair count.
    base = syms.persist()
    syms = base
    CHECKPOINT_EVERY = 8
    merges: list[dict] = []
    for step in range(1, n_merges + 1):
        best_rows = (
            pair_counts(syms)
            .orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not best_rows:
            break
        best = best_rows[0]
        merges.append(
            {"step": step, "a": best["a"], "b": best["b"], "n": best["n"]}
        )
        syms = syms.select(
            F.replace(
                F.col("syms"),
                F.lit(f"{_SEP}{best['a']}{_SEP}{_SEP}{best['b']}{_SEP}"),
                F.lit(f"{_SEP}{best['a']}{best['b']}{_SEP}"),
            ).alias("syms"),
            "freq",
        )
        if step % CHECKPOINT_EVERY == 0:
            syms = syms.localCheckpoint(eager=True)
    if merges and len(merges) >= CHECKPOINT_EVERY:
        # the returned frame no longer depends on the cached base
        syms = syms.localCheckpoint(eager=True)
    base.unpersist(blocking=False)  # repeated trainer calls must not
    # accumulate session-lifetime cached copies (review r5); short
    # schedules recompute the word table on later use — one scan
    return merges, syms


def bpe_encode_counts(
    docs: DataFrame,
    merges: list[dict],
    text_col: str = "text",
    broadcast_dict: bool = False,
) -> DataFrame:
    """Apply a TRAINED merge list to the corpus — the inference half of
    the tokenizer lifecycle — and return per-row token accounting:
    DF[<docs columns...>, n_words, n_bpe_tokens].

    Not a per-occurrence replace chain: encoding is a DICTIONARY JOIN.
    The distinct-word table runs the merge chain once (pure-map literal
    replaces, same rewrite the trainer applied), yielding
    word -> final-symbol-count; the corpus then equi-joins its words
    against that dictionary. Cost: one corpus scan + a vocabulary-sized
    map side — exactly how production tokenizers amortize encode at
    scale. ``broadcast_dict`` hints the dictionary broadcast (vocab
    tables are MBs; default off keeps the decision explicit).

    Same word model as training: lowercase ``^[a-z]+$`` tokens; other
    tokens don't count (they never entered the merge statistics)."""
    syms = word_frequencies(docs, text_col).select(
        "word", _initial_symbols(F.col("word")).alias("syms")
    )
    for m in merges:
        syms = syms.select(
            "word",
            F.replace(
                F.col("syms"),
                F.lit(f"{_SEP}{m['a']}{_SEP}{_SEP}{m['b']}{_SEP}"),
                F.lit(f"{_SEP}{m['a']}{m['b']}{_SEP}"),
            ).alias("syms"),
        )
    dictionary = syms.select(
        "word",
        F.size(F.filter(F.split(F.col("syms"), _SEP_RE), lambda x: x != ""))
        .cast("long")
        .alias("_n_sym"),
    )
    if broadcast_dict:
        dictionary = F.broadcast(dictionary)
    # explode_outer + left join: a row with NO alphabetic tokens (or
    # empty text) must still appear with zero counts — the per-row
    # accounting contract; an inner explode+join would drop it
    words = docs.select(
        "*",
        F.explode_outer(
            F.filter(
                tokens(F.lower(F.col(text_col))), lambda w: w.rlike("^[a-z]+$")
            )
        ).alias("word"),
    )
    return (
        words.join(dictionary, "word", "left_outer")
        .groupBy(*docs.columns)
        .agg(
            F.sum(F.col("word").isNotNull().cast("long")).alias("n_words"),
            F.coalesce(F.sum("_n_sym"), F.lit(0)).cast("long").alias("n_bpe_tokens"),
        )
    )
