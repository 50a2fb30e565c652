"""Distributed BPE tokenizer training + encoding — the
learn-the-tokenizer-from-the-corpus step of an LLM data pipeline
(Sennrich et al. 2016 word-level BPE; GPT-2-style rank-greedy apply).

Design:

- **Training works on the DISTINCT-WORD table, not the corpus**: the
  classic trainer trick — pre-tokenize (whitespace, optional
  lowercase), groupBy word -> frequency, and every merge iteration
  touches |vocab| rows instead of |corpus| tokens. At crawl scale the
  word table is still a DataFrame (1e8 distinct words is a small
  shuffle of (word, freq, symbols)); the corpus itself is read ONCE.
- **Each merge iteration** explodes adjacent symbol pairs (weighted by
  word frequency), takes the global top pair (one-row driver collect —
  O(n_merges) tiny actions, the same budget as the component loop's
  convergence counts), and applies the merge map-side as a SEQUENTIAL
  left fold over the symbol array (F.aggregate — greedy left-to-right,
  exactly the single-node reference semantics). Lineage is
  localCheckpoint-truncated per iteration: without the cut the symbol
  column would nest one fold expression per merge and the planner
  would blow up (same failure mode as connected_components).
- **Encoding** is the one justified Pandas kernel: GPT-2's
  lowest-rank-first merge loop per word, with a per-batch word cache
  (real corpora repeat words heavily), Arrow-batched via mapInPandas.
- Ties in pair counts break to the LEXICOGRAPHICALLY SMALLEST pair —
  deterministic across engines and partitionings (counts are exact
  BIGINTs; UTF-8 binary order == code-point order).

Scope note: character splitting uses a regex position split, which
operates on UTF-16 code units JVM-side — astral-plane characters
(outside the BMP) would split into surrogate halves and differ from
the pure-Python twin; the contract is BMP text (web-corpus pipelines
normalize first). The twin (tools/oracle_twins.py) implements the same
spec single-node with dict counters — an independent implementation,
never this module.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

END = "</w>"  # end-of-word marker: lets BPE learn whole-word tokens

MERGES_SCHEMA = "rank long, left_sym string, right_sym string"
ENCODE_SCHEMA = "doc_id long, n_tokens long, n_unique_tokens long"


def _word_table(docs: DataFrame, lowercase: bool) -> DataFrame:
    text = F.lower(F.col("text")) if lowercase else F.col("text")
    words = docs.select(
        F.explode(
            F.filter(F.split(text, r"\s+"), lambda x: x != "")
        ).alias("word")
    )
    freq = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    # split keeps a trailing "" (zero-width match at end-of-string,
    # limit=-1 semantics) — filter it or END attaches to a phantom char
    chars = F.filter(F.split(F.col("word"), r"(?!^)"), lambda c: c != "")
    n = F.size(chars)
    symbols = F.concat(
        F.slice(chars, 1, n - 1),
        F.array(F.concat(F.element_at(chars, -1), F.lit(END))),
    )
    return freq.select("word", "freq", symbols.alias("symbols"))


def _apply_merge(symbols, left: str, right: str):
    """Greedy left-to-right merge of adjacent (left, right) into
    left+right — a sequential F.aggregate fold, matching the reference
    single-node semantics exactly ('aaa' under (a,a) -> [aa, a])."""
    merged = left + right
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        # try_element_at: ANSI mode (Spark 4 default) makes plain
        # element_at THROW on the empty accumulator's index -1
        lambda acc, x: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-pair frequency table (a, b, n) over the distinct-word
    table — one explode + one partial-agg groupBy per round."""
    pairs = words.select(
        "freq",
        F.explode(
            F.when(
                F.size("symbols") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("symbols") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("symbols"), i).alias("a"),
                        F.element_at(F.col("symbols"), i + 1).alias("b"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        ).alias("p"),
    )
    return pairs.groupBy("p.a", "p.b").agg(F.sum("freq").alias("n"))


def _select_batch(
    rows, want: int, min_pair_count: int, full_table: bool, universe: set
):
    """Driver-side batch selection over the sorted top-T pair rows:
    the maximal SYMBOL-DISJOINT PREFIX of the (count desc, lex) order,
    truncated to counts strictly above the first conflict's count.
    Returns (selected [(a, b)], stop_training).

    Exactness argument (vs the one-merge-per-round trainer):
    - Applying symbol-disjoint merges as a sequential fold chain is
      literally sequential composition, so only the COUNTING times
      differ — the proof obligation is that each selected p_i would
      still be the argmax at sequential step i.
    - Merging (a,b) changes only pairs touching a or b: pairs (x,a)/
      (b,y)/(b,a) DECREASE; brand-new pairs (x,ab)/(ab,y)/(ab,ab)
      are count-bounded by those same pre-existing conflicting pairs
      (each new occurrence consumed one of theirs). Every conflicting
      pair sits at/after the truncation point (else it would have
      truncated earlier — prefix property), so its count <= c_stop <
      count(p_i): no new or changed pair can leapfrog a kept p_i, and
      the bound is strict so count ties (where lex order could flip
      the choice) cannot arise.
    - The one hole is a STRING COLLISION: a pre-existing literal
      symbol equal to the concatenation a+b (possible only when a
      previous merge or the base alphabet produced that exact string;
      tracked in ``universe``). Then old pairs involving that symbol
      can INCREASE, and the bound above fails — so a colliding pair
      is only ever applied as a SINGLETON batch (batch size 1 == the
      per-merge algorithm, exact by definition), and a scanned row
      whose side is a string merged earlier in this batch truncates
      like any conflict.
    """
    selected: list[tuple[str, str]] = []
    used: set[str] = set()
    new_strings: set[str] = set()
    c_stop = None  # count bound for everything not selected
    saw_tail = True  # scan fell off the collected rows
    for r in rows:
        if r["n"] < min_pair_count:
            saw_tail = False  # nothing below threshold threatens
            break
        a, b = r["a"], r["b"]
        if (
            len(selected) == want
            or a in used
            or b in used
            or a in new_strings
            or b in new_strings
        ):
            c_stop = r["n"]
            saw_tail = False
            break
        if a + b in universe:
            if selected:  # leave the colliding pair for its own round
                c_stop = r["n"]
                saw_tail = False
                break
            return [(a, b)], False  # singleton == exact per-merge step
        selected.append((a, b))
        used.update((a, b))
        new_strings.add(a + b)
    if not selected:
        return [], not rows or rows[0]["n"] < min_pair_count
    if saw_tail and not full_table:
        c_stop = rows[-1]["n"]  # uncollected pairs are bounded by the tail
    if c_stop is not None:
        selected = [selected[0]] + [
            p for i, p in enumerate(selected[1:], 1) if rows[i]["n"] > c_stop
        ]
    return selected, False


def bpe_train(
    docs: DataFrame,
    n_merges: int = 24,
    min_pair_count: int = 2,
    lowercase: bool = True,
    batch: int = 8,
    stats: dict | None = None,
) -> list[tuple[int, str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the
    ordered merge list [(rank, left, right), ...] — small by
    construction (vocab-building output, thousands of rows at most),
    so it returns driver-side; persist it yourself or feed it straight
    to :func:`bpe_encode` / :func:`merges_df`. Stops early when the
    best remaining pair's corpus count drops below ``min_pair_count``.

    ``batch`` (VERDICT r04 #6) selects up to that many merges per
    pair-count round — the standard top-k-non-conflicting trick, here
    with a truncation rule that makes the output PROVABLY identical to
    ``batch=1`` (see :func:`_select_batch`): the driver round-trip and
    recount-job budget drops ~batch× at real vocab sizes while the
    merge list stays bit-identical (parity pytests incl. randomized
    small-alphabet corpora that force the collision path; the
    independent twin in tools/oracle_twins.py stays per-merge)."""
    words = _word_table(docs, lowercase).localCheckpoint(eager=True)
    # the alphabet is hundreds of rows — collect once so string
    # collisions (merged string == pre-existing symbol) are detectable
    # driver-side; see _select_batch
    universe = {
        r["s"]
        for r in words.select(F.explode("symbols").alias("s")).distinct().collect()
    }
    merges: list[tuple[int, str, str]] = []
    rounds = 0
    while len(merges) < n_merges:
        rounds += 1
        want = min(batch, n_merges - len(merges))
        top_t = max(64, 8 * want)
        rows = (
            _pair_counts(words)
            .orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(top_t)
            .collect()
        )
        selected, stop = _select_batch(
            rows, want, min_pair_count, len(rows) < top_t, universe
        )
        if stop or not selected:
            break
        col = F.col("symbols")
        for a, b in selected:
            merges.append((len(merges), a, b))
            universe.add(a + b)
            col = _apply_merge(col, a, b)
        words = words.withColumn("symbols", col).localCheckpoint(eager=True)
    if stats is not None:
        stats["rounds"] = rounds
    return merges


def merges_df(spark, merges: list[tuple[int, str, str]]) -> DataFrame:
    return spark.createDataFrame(merges, MERGES_SCHEMA)


VOCAB_SCHEMA = "token_id long, token string"


def bpe_vocab(
    docs: DataFrame,
    merges: list[tuple[int, str, str]],
    lowercase: bool = True,
) -> DataFrame:
    """The learned vocabulary table (token_id, token) — what sizes the
    embedding matrix: the corpus's base ALPHABET (every initial symbol:
    single characters plus last-char+``</w>`` forms actually observed)
    with ids 0..A-1 in lexicographic order, then one merged token per
    merge at id A+rank. Ids are deterministic given (corpus, merges).
    The alphabet distinct+sort runs over a tiny table (|alphabet| is
    hundreds); the global row_number window there is O(alphabet), never
    O(corpus)."""
    from pyspark.sql import Window

    # == explode's rows; a plain explode of the bound column gets an
    # inferred size filter pushed below the projection (re-splits words)
    alpha = (
        _word_table(docs, lowercase)
        .select(F.posexplode_outer("symbols").alias("_pos", "token"))
        .filter(F.col("_pos").isNotNull())
        .select("token")
        .distinct()
    )
    w = Window.orderBy("token")
    alpha_ids = alpha.select(
        (F.row_number().over(w) - 1).cast("long").alias("token_id"), "token"
    )
    n_alpha = alpha.agg(F.count(F.lit(1)).alias("n"))
    spark = docs.sparkSession
    merged = (
        spark.createDataFrame(
            [(r, a + b) for r, a, b in merges], "rank long, token string"
        )
        .crossJoin(F.broadcast(n_alpha))
        .select((F.col("n") + F.col("rank")).cast("long").alias("token_id"), "token")
    )
    return alpha_ids.unionByName(merged)


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """GPT-2-style apply: repeatedly merge ALL occurrences of the
    lowest-rank adjacent pair until none of the pairs are ranked."""
    if not word:
        return []
    sym = list(word[:-1]) + [word[-1] + END]
    while len(sym) >= 2:
        best = None
        best_rank = None
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = (sym[i], sym[i + 1]), r
        if best is None:
            break
        a, b = best
        out: list[str] = []
        for x in sym:
            if out and out[-1] == a and x == b:
                out[-1] = a + b
            else:
                out.append(x)
        sym = out
    return sym


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[int, str, str]],
    lowercase: bool = True,
) -> DataFrame:
    """Tokenize every document with a learned merge list. The merge
    table ships inside the Arrow kernel closure (it is vocabulary-
    sized); per batch a word->tokens cache collapses the heavy repeat
    structure of real text. Returns (doc_id, n_tokens,
    n_unique_tokens)."""
    import re

    import pandas as pd

    ranks = {(left, right): rank for rank, left, right in merges}
    # re.ASCII: match the JVM training side's \s (Java \s is ASCII-only;
    # Python str.split() would also split on U+00A0 etc.)
    ws = re.compile(r"\s+", re.ASCII)

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        cache: dict[str, list[str]] = {}
        for batch in batches:
            out = {"doc_id": [], "n_tokens": [], "n_unique_tokens": []}
            for _, r in batch.iterrows():
                text = r["text"] or ""
                if lowercase:
                    text = text.lower()
                n_tokens = 0
                uniq: set[str] = set()
                for word in ws.split(text):
                    if not word:
                        continue
                    toks = cache.get(word)
                    if toks is None:
                        toks = _encode_word(word, ranks)
                        cache[word] = toks
                    n_tokens += len(toks)
                    uniq.update(toks)
                out["doc_id"].append(r["doc_id"])
                out["n_tokens"].append(n_tokens)
                out["n_unique_tokens"].append(len(uniq))
            yield pd.DataFrame(out)

    return docs.select("doc_id", "text").mapInPandas(gen, ENCODE_SCHEMA)
