"""Byte-pair-encoding vocabulary training and distributed
tokenization — the sample-train / map-apply pattern of a real
tokenizer pipeline (Sennrich et al. 2016; the GPT-2 merge-rank apply
loop), shaped for a corpus that does not fit one machine.

Training (`train_bpe_merges_spark`) runs over the WHOLE corpus with
no corpus-sized collect at any scale: ONE distributed word-count
aggregation is the only stage whose input scales with the corpus,
and the merge loop runs on its vocabulary-bounded output — on the
driver below `driver_vocab_limit` (the bounded-driver-state posture
of the PQ codebook and IVF centroid trainers in
``operators/similarity.py``), or as per-round Spark aggregations
above it (only the single winning pair is collected per round). The
apply pass is the one deliberate pandas-UDF surface in this module:
greedy lowest-rank merging is an iterative per-token loop no built-in
expression can express, so it runs Arrow-batched with a per-batch word
cache (Zipf makes the cache hit rate high), map-only, no shuffle.

Everything is integer/string compute — no floats anywhere — so the
pure-Python oracle replica (tools/gen_expected.py:gen_bpe_tokens) is
exact by construction.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

END = "</w>"

# Java \s (the Spark-side split in word_freq_table) matches ONLY
# ASCII whitespace; Python str.split() also splits on Unicode
# whitespace (U+00A0, U+0085, U+2028, ...). Every Python-side
# tokenizer here must use this regex or the driver path, the
# Spark-rounds path, and the apply pass silently disagree on
# non-ASCII-whitespace corpora (ADVICE r07).
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")

# Python mirror of functions/text.py:CJK_CHAR_CLASS (same three BMP
# ranges, where Python re / Java / RE2 agree exactly) — the
# script-aware word splitter for the Arrow-side tokenize/apply passes
# (VERDICT r11 item 3).
_CJK_RE = re.compile(
    "([\u4E00-\u9FFF\u3040-\u30FF\uAC00-\uD7A3])"
)


def _java_ws_words(
    t: str | None, script_aware: bool = False
) -> list[str]:
    """Tokenize exactly like Spark's ``split(lower(x), '\\\\s+')`` +
    empty filter: lowercase, split on ASCII whitespace only. With
    ``script_aware``, every Han/Kana/Hangul codepoint first becomes
    its own word (mirrors functions/text.py:cjk_spaced)."""
    s = (t or "").lower()
    if script_aware:
        s = _CJK_RE.sub(r" \1 ", s)
    return [w for w in _JAVA_WS.split(s) if w]


def _word_freqs(texts: list[str]) -> dict[tuple[str, ...], int]:
    freqs: dict[tuple[str, ...], int] = {}
    for t in texts:
        for w in _java_ws_words(t):
            sym = tuple(list(w) + [END])
            freqs[sym] = freqs.get(sym, 0) + 1
    return freqs


def train_merges_on_texts(
    texts: list[str], n_merges: int = 50
) -> list[tuple[str, str]]:
    """Classic BPE training over a word-frequency table: per round,
    count adjacent symbol pairs weighted by word frequency, merge the
    most frequent pair (ties: lexicographically smallest pair — the
    pinned deterministic tie-break), stop early when no pair repeats.
    Pure integer counting on the vocab-bounded word table — O(vocab ×
    merges) driver work, independent of corpus size."""
    return _train_on_freqs(_word_freqs(texts), n_merges)


def _train_on_freqs(
    freqs: dict[tuple[str, ...], int], n_merges: int
) -> list[tuple[str, str]]:
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for sym, c in freqs.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pairs[best] < 2:
            break
        merges.append(best)
        merged = best[0] + best[1]
        nxt: dict[tuple[str, ...], int] = {}
        for sym, c in freqs.items():
            out: list[str] = []
            i = 0
            while i < len(sym):
                if (
                    i + 1 < len(sym)
                    and sym[i] == best[0]
                    and sym[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            key = tuple(out)
            nxt[key] = nxt.get(key, 0) + c
        freqs = nxt
    return merges


def _merge_pair_expr(col: str, a: str, b: str):
    """Left-to-right single-pass merge of adjacent ``(a, b)`` inside a
    symbol array, as a pure JVM-side ``aggregate`` fold (no UDF): the
    accumulator carries the emitted prefix plus one pending symbol;
    a hit emits the fused token and clears the pending slot — exactly
    the ``i += 2`` skip of the driver trainer's rewrite loop."""
    init = F.struct(
        F.expr("CAST(array() AS array<string>)").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc, s):
        hit = (
            acc["pend"].isNotNull()
            & (acc["pend"] == F.lit(a))
            & (s == F.lit(b))
        )
        return F.struct(
            F.when(acc["pend"].isNull(), acc["out"])
            .when(hit, F.concat(acc["out"], F.array(F.lit(a + b))))
            .otherwise(F.concat(acc["out"], F.array(acc["pend"])))
            .alias("out"),
            F.when(hit, F.lit(None).cast("string"))
            .otherwise(s)
            .alias("pend"),
        )

    def finish(acc):
        return F.when(acc["pend"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pend"]))
        )

    return F.aggregate(F.col(col), init, step, finish)


def word_freq_table(
    df: DataFrame,
    text_col: str = "text",
    max_words: int | None = None,
    script_aware: bool = False,
) -> DataFrame:
    """ONE corpus-wide pass over raw text: whitespace-split, lowercase,
    groupBy word — the only stage whose input scales with the corpus;
    its output is vocabulary-bounded. Optional ``max_words`` keeps the
    table top-K by ``(freq DESC, word ASC)`` for open-vocabulary
    corpora (the standard trainer cap), bounding every later stage."""
    base = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    if script_aware:
        from .text import cjk_spaced  # noqa: PLC0415

        base = cjk_spaced(base)
    words = (
        df.select(F.explode(F.split(base, r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    if max_words is not None:
        words = words.orderBy(F.desc("freq"), F.asc("w")).limit(max_words)
    return words


def train_bpe_merges_spark(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    max_words: int | None = None,
    driver_vocab_limit: int = 200_000,
    script_aware: bool = False,
) -> list[tuple[str, str]]:
    """Whole-corpus BPE training with NO corpus-sized collect at any
    corpus size. Word counting is always ONE distributed aggregation
    (`word_freq_table`) — the only stage whose input scales with the
    corpus; everything after runs on its vocabulary-bounded output.

    Two exact, equivalent merge-loop paths (pinned equal by
    tests/test_corpus_boilerplate.py):

    - **driver path** (vocab ≤ ``driver_vocab_limit`` rows, or capped
      by ``max_words``): collect the bounded word-frequency table and
      run the classic loop — the same bounded-driver-state posture as
      the PQ codebook / IVF centroid trainers.
    - **Spark-rounds path** (open vocabulary above the limit): each
      merge round is a Spark aggregation over the symbol table
      (adjacent-pair explode → freq-weighted sum → top-1); the ONLY
      per-round collect is the single winning pair. The merge apply is
      the JVM-side `_merge_pair_expr` fold with an eager
      localCheckpoint barrier (the PageRank loop shape,
      operators/graph.py). Per-round cost is O(vocab), independent of
      corpus size.

    Tie-break and stop rule (max freq, then lexicographically smallest
    pair; stop when the best pair occurs < 2 times) match
    `train_merges_on_texts` on both paths."""
    words = word_freq_table(df, text_col, max_words, script_aware)
    # ONE probe job decides the path: a (limit+1)-bounded collect —
    # never more than driver_vocab_limit+1 rows reach the driver, and
    # the common small-vocab case skips a separate count() pass.
    probe = words.limit(driver_vocab_limit + 1).collect()
    if len(probe) <= driver_vocab_limit:
        freqs = {
            tuple(list(r["w"]) + [END]): int(r["freq"]) for r in probe
        }
        return _train_on_freqs(freqs, n_merges)
    return _train_merges_spark_rounds(words, n_merges)


def _train_merges_spark_rounds(
    words: DataFrame, n_merges: int
) -> list[tuple[str, str]]:
    """Open-vocabulary merge loop: all per-round state stays on the
    executors; the driver sees one (pair, count) row per round."""
    sym_df = (
        words.select(
            F.concat(F.split(F.col("w"), ""), F.array(F.lit(END))).alias(
                "sym"
            ),
            "freq",
        )
        .localCheckpoint(eager=True)
    )
    pair_expr = F.expr(
        "transform(slice(sym, 1, size(sym)-1),"
        " (s, i) -> struct(s AS a, sym[i+1] AS b))"
    )
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            sym_df.select(F.explode(pair_expr).alias("p"), "freq")
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["c"] < 2:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        sym_df = sym_df.select(
            _merge_pair_expr("sym", a, b).alias("sym"), "freq"
        ).localCheckpoint(eager=True)
    return merges


def encode_word_symbols(
    word: str, ranks: dict[tuple[str, str], int]
) -> list[str]:
    """Greedy merge-rank apply (the GPT-2 loop): repeatedly merge the
    present pair with the LOWEST training rank until none applies;
    returns the final symbol list (the word's BPE tokens)."""
    sym = list(word) + [END]
    while len(sym) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_i = i
        if best_rank is None:
            break
        sym[best_i : best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    return sym


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> int:
    """Token count of :func:`encode_word_symbols`."""
    return len(encode_word_symbols(word, ranks))


def bpe_token_counts(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    script_aware: bool = False,
) -> DataFrame:
    """Corpus-wide tokenization under a trained merge list: per
    document, the whitespace word count and the BPE token count.
    Map-only Arrow-batched apply with a per-batch word→count cache;
    output is all-integer, so the oracle never touches a float."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("n_words", LongType()),
            StructField("n_bpe_tokens", LongType()),
        ]
    )

    def batches(it):
        cache: dict[str, int] = {}
        for pdf in it:
            ids, nw, nt = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                words = _java_ws_words(t, script_aware)
                total = 0
                for w in words:
                    c = cache.get(w)
                    if c is None:
                        c = encode_word(w, ranks)
                        cache[w] = c
                    total += c
                ids.append(int(i))
                nw.append(len(words))
                nt.append(total)
            import pandas as pd  # noqa: PLC0415

            yield pd.DataFrame(
                {id_col: ids, "n_words": nw, "n_bpe_tokens": nt}
            )

    return df.select(id_col, text_col).mapInPandas(batches, schema)


def bpe_tokenize(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    script_aware: bool = False,
) -> DataFrame:
    """The actual tokenizer output a pretraining pipeline writes: one
    row per BPE token — (id, token_pos, token) with token_pos the
    0-based position in the document's token stream. This is the
    train→tokenize→pack chain's middle stage (`doc_pack_sequences`
    consumes per-doc token counts; this emits the tokens themselves).

    Map-only Arrow-batched apply (the bpe_token_counts posture) with a
    per-batch word→symbols cache (Zipf makes the hit rate high); the
    1→N row fan-out happens inside the batch, so the plan is a
    shuffle-free scan at any corpus size. Token STRINGS are emitted
    rather than ids: an id table is one broadcast-join away when a
    fixed vocabulary exists, and strings keep the output
    engine-comparable (the expected-file oracle replica re-derives the
    exact stream).
    """
    ranks = {pair: i for i, pair in enumerate(merges)}
    from pyspark.sql.types import StringType  # noqa: PLC0415

    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("token_pos", LongType()),
            StructField("token", StringType()),
        ]
    )

    def batches(it):
        cache: dict[str, list[str]] = {}
        for pdf in it:
            ids, pos, toks = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                p = 0
                for w in _java_ws_words(t, script_aware):
                    syms = cache.get(w)
                    if syms is None:
                        syms = encode_word_symbols(w, ranks)
                        cache[w] = syms
                    for s in syms:
                        ids.append(int(i))
                        pos.append(p)
                        toks.append(s)
                        p += 1
            import pandas as pd  # noqa: PLC0415

            yield pd.DataFrame(
                {id_col: ids, "token_pos": pos, "token": toks}
            )

    return df.select(id_col, text_col).mapInPandas(batches, schema)
