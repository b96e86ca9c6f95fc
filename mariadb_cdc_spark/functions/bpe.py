"""Distributed BPE (byte-pair-encoding) vocabulary learning + tokenization.

The training-data pipeline's tokenizer step, Spark-first. The scale trick
is the classic one (Sennrich et al., "Neural Machine Translation of Rare
Words with Subword Units", ACL 2016): BPE training operates on the
WORD-FREQUENCY table, not the raw corpus — a 100 TB corpus has a distinct
vocabulary orders of magnitude smaller than its token stream, so one
corpus scan builds the (word, count) relation and every merge iteration
after that is a shuffle over distinct words only.

Training loop (per merge):
  1. explode each word's adjacent symbol pairs, weighted by word count;
  2. groupBy(pair).sum — map-side combinable;
  3. take the arg-max pair (count desc, pair asc — the deterministic
     tie-break), one driver row;
  4. rewrite every word's symbol array with the merged pair (a pure
     Catalyst left-to-right fold — greedy non-overlapping, the BPE rule).
Driver state is O(num_merges) merge rules. Plans are re-materialized
every few iterations (localCheckpoint) so the chained array folds don't
grow an unbounded lineage.

Tokenization (`apply_bpe`) is the hot path — per-document, corpus-sized —
so it runs as an Arrow-batched pandas UDF with the merge ranks compiled
into a dict (the standard merge-priority algorithm); training stays
JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_WORD_SPLIT = r"\s+"
_BATCH_SEP = "\x1f"  # joins a pair's symbols into its batch map key


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) over whitespace-split text — the one corpus-sized scan."""
    return (
        docs.select(
            F.explode(F.split(F.col(text_col), _WORD_SPLIT)).alias("word")
        )
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent symbol pairs per word, weighted by word frequency."""
    pairs = F.expr(
        "transform(slice(syms, 1, size(syms) - 1),"
        " (s, i) -> struct(s as a, syms[i + 1] as b))"
    )
    return (
        words.where(F.size("syms") > 1)
        .select(F.explode(pairs).alias("p"), "n")
        .groupBy("p.a", "p.b")
        .agg(F.sum("n").alias("cnt"))
    )


def _merge_expr(a: str, b: str):
    """Greedy left-to-right non-overlapping merge of (a,b) -> a+b inside a
    symbol array, as one Catalyst aggregate fold."""
    la, lb, lab = F.lit(a), F.lit(b), F.lit(a + b)
    return F.aggregate(
        F.col("syms"),
        F.expr("cast(array() as array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == la)
            & (s == lb),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(lab)
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _merge_batch_expr(pairs: list[tuple[str, str]]):
    """Greedy left-to-right merge of a SYMBOL-DISJOINT pair batch in one
    Catalyst fold. Because no two pairs share a symbol (and no pair's
    concatenation is another pair's symbol, and no symbol holds
    _BATCH_SEP — see _select_batch), one pass with a lookup map is
    exactly the composition of the per-pair folds."""
    sep = _BATCH_SEP
    mapping = F.create_map(
        *[x for a, b in pairs for x in (F.lit(a + sep + b), F.lit(a + b))]
    )
    return F.aggregate(
        F.col("syms"),
        F.expr("cast(array() as array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & mapping[
                F.concat(F.element_at(acc, -1), F.lit(sep), s)
            ].isNotNull(),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    mapping[F.concat(F.element_at(acc, -1), F.lit(sep), s)]
                ),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _select_batch(
    rows, k: int, taken: int, limit: int
) -> list[tuple[str, str]]:
    """Greedily pick up to k mutually-independent pairs from the ranked
    snapshot: no shared symbols, and no pair whose merged symbol collides
    with another chosen pair's symbol (so one fold == sequential folds).
    A pair whose symbols contain _BATCH_SEP never joins a batch: the
    batch fold keys its map on a + _BATCH_SEP + b, so such a key can also
    match a different adjacent pair. It ends the batch, and is merged
    alone (the exact _merge_expr fold) when it ranks first."""
    chosen: list[tuple[str, str]] = []
    used: set[str] = set()
    for r in rows:
        if len(chosen) >= k or taken + len(chosen) >= limit:
            break
        a, b = r["a"], r["b"]
        if _BATCH_SEP in a or _BATCH_SEP in b:
            if not chosen:
                chosen.append((a, b))
            break
        # `used` holds every chosen pair's symbols AND its concatenation,
        # so this one test covers both conflict directions (candidate
        # symbol == chosen concat, candidate concat == chosen symbol)
        if a in used or b in used or (a + b) in used:
            continue
        chosen.append((a, b))
        used.update((a, b, a + b))
    return chosen


def learn_bpe(
    docs: DataFrame,
    text_col: str = "text",
    num_merges: int = 32,
    checkpoint_every: int = 8,
    batch_k: int = 1,
    return_stats: bool = False,
):
    """Learn `num_merges` BPE merge rules from the corpus. Deterministic:
    ties on pair count break to the lexicographically smallest (a, b).
    Returns the ordered merge list (or (merges, stats) with
    `return_stats=True`; stats["rounds"] = Spark jobs spent on pair
    counting).

    `batch_k` is the jobs-vs-exactness dial. k=1 (default) is the exact
    sequential algorithm: one pair-count job + one argmax collect per
    merge — fine for small vocabularies, a scale-killer at 32k merges
    (32k sequential Spark jobs). k>1 applies the standard batched-merge
    approximation: each round ranks the pair table once and takes up to k
    mutually-independent pairs (no shared symbols, no concat collisions),
    so a round's single fold provably equals applying its pairs
    sequentially; the approximation is only in SELECTION — counts are
    from the round's snapshot, so a pair created mid-round (e.g. (x, ab)
    right after (a,b)) can't be chosen until the next round. Training
    becomes O(num_merges / k_effective) jobs. k=8..64 is the standard
    production range for subword vocabularies.
    """
    words = word_counts(docs, text_col).withColumn(
        # split-to-characters; drop the trailing empty string Spark's
        # split(limit=-1) keeps
        "syms",
        F.filter(F.split("word", "(?!^)"), lambda s: s != ""),
    ).select("syms", "n").persist()
    words.count()

    merges: list[tuple[str, str]] = []
    rounds = 0
    while len(merges) < num_merges:
        rounds += 1
        # over-fetch the candidate ranking: conflicts skip entries, so a
        # k-batch may need to look deeper than k rows
        top = (
            _pair_counts(words)
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(max(4 * batch_k, 16))
            .collect()
        )
        batch = _select_batch(top, batch_k, len(merges), num_merges)
        if not batch:
            break
        merges.extend(batch)
        prev = words
        words = words.withColumn(
            "syms",
            _merge_expr(*batch[0]) if len(batch) == 1
            else _merge_batch_expr(batch),
        )
        if rounds % checkpoint_every == 0:
            # truncate the chained-fold lineage; keep the iteration cheap
            words = words.localCheckpoint(eager=True)
        else:
            words = words.persist()
            words.count()
        prev.unpersist()
    words.unpersist()
    if return_stats:
        return merges, {"rounds": rounds}
    return merges


def apply_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize with a learned merge list: Arrow-batched pandas UDF, the
    merge-priority algorithm (repeatedly merge the best-ranked adjacent
    pair) per word. Corpus-sized but embarrassingly parallel — no shuffle."""
    from pyspark.sql.functions import pandas_udf

    rank = {pair: r for r, pair in enumerate(merges)}

    @pandas_udf("array<string>")
    def _tok(text):
        import re

        def word_tokens(w):
            syms = list(w)
            while len(syms) > 1:
                best, best_r = None, None
                for i in range(len(syms) - 1):
                    r = rank.get((syms[i], syms[i + 1]))
                    if r is not None and (best_r is None or r < best_r):
                        best, best_r = i, r
                if best is None:
                    break
                syms[best : best + 2] = [syms[best] + syms[best + 1]]
            return syms

        return text.map(
            lambda t: [
                s
                for w in re.split(_WORD_SPLIT, t or "")
                if w
                for s in word_tokens(w)
            ]
        )

    return docs.withColumn(out_col, _tok(F.col(text_col)))


def initial_pair_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The first training iteration's relation — adjacent CHARACTER pairs
    weighted by word frequency — exposed for oracle checking: (a, b, cnt)."""
    words = word_counts(docs, text_col).withColumn(
        "syms", F.filter(F.split("word", "(?!^)"), lambda s: s != "")
    )
    return _pair_counts(words).withColumnRenamed("cnt", "cnt")
