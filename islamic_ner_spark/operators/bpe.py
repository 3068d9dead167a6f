"""Distributed BPE tokenizer training over the documents corpus.

A 100 TB pretraining pipeline trains its tokenizer on the corpus it is
about to tokenize; the reference pipeline (which consumes pre-tokenized
Sanadset rows, `scripts/ingest_sanadset.py`) has no equivalent, so this
operator is specified directly against the classic byte-pair-encoding
algorithm (Sennrich et al. 2016, doc-level variant without end-of-word
markers) with every step made engine-exact so the driver's DuckDB
oracle can replay the whole training loop bit-for-bit.

The scale decomposition is the textbook one:

- **One corpus-wide exchange, total.**  The only pass that touches the
  corpus is the word-frequency count (pre-tokenize with the same
  GPT-2-style regex the token_stats query uses, then groupBy(word)) —
  map-side partial aggregation collapses each partition to its distinct
  words before the shuffle.  Everything after operates on the capped
  word-frequency table.
- **Iterations are vocabulary-sized.**  The working table is the
  exploded (word, freq, pos, sym) symbol sequence of the top
  ``vocab_cap`` words — at most ``vocab_cap x max_word_len`` rows
  regardless of corpus size (the cap is taken deterministically by
  (freq DESC, word), a TakeOrderedAndProject, not a global sort).  Each
  merge round is two window passes and one two-column aggregation over
  that small table; the per-round argmax is a bounded 1-row collect
  (same discipline as the IVF k-means trainer).
- **Determinism / oracle-exactness.**  Frequencies are integer sums,
  the winning pair breaks ties lexicographically, and the greedy
  leftmost-non-overlapping merge is expressed relationally (run
  grouping over match positions + alternate-keep) instead of a
  sequential scan — the identical window algebra runs in DuckDB, so
  the oracle replays training as unrolled CTEs like the PageRank one.

Greedy-overlap note: within a maximal run of consecutive match
positions p, p+1, ..., merging at p consumes p+1's left symbol, so
classic BPE merges p, p+2, ... — exactly the odd-ranked rows of the
run, which is what the (pos - row_number) run grouping keeps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from islamic_ner_spark.operators.materialize import materialize

# GPT-2-style pre-tokenizer: letter runs / digit runs / symbol runs.
# Same pattern the token_stats oracle proved identical between Java
# regex and DuckDB's RE2.
PRETOKEN_RE = r"\p{L}+|\p{N}+|[^\s\p{L}\p{N}]+"

N_MERGES = 6
VOCAB_CAP = 512


def word_frequencies(
    docs: DataFrame, vocab_cap: int = VOCAB_CAP, pattern: str = PRETOKEN_RE
) -> DataFrame:
    """(word, freq) for the top ``vocab_cap`` corpus words, capped
    deterministically by (freq DESC, word ASC).  The one corpus-wide
    pass; partial aggregation runs before the exchange."""
    return (
        docs.select(
            F.explode(F.regexp_extract_all("text", F.lit(pattern), F.lit(0))).alias(
                "word"
            )
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(vocab_cap)
    )


def initial_symbols(words: DataFrame) -> DataFrame:
    """Explode each word into its character symbols:
    (word, freq, pos, sym) with pos 1-based.  Words are distinct keys
    (it is a frequency table), so (word, pos) identifies a symbol."""
    return words.select(
        "word",
        "freq",
        F.posexplode(F.regexp_extract_all("word", F.lit("."), F.lit(0))).alias(
            "pos", "sym"
        ),
    ).select("word", "freq", (F.col("pos") + 1).alias("pos"), "sym")


def _bigrams(syms: DataFrame) -> DataFrame:
    """Adjacent symbol pairs: each row gains nxt = the following symbol
    within its word (NULL at word end)."""
    w = Window.partitionBy("word").orderBy("pos")
    return syms.withColumn("nxt", F.lead("sym").over(w))


def _merge_round(bi: DataFrame, left: str, right: str) -> DataFrame:
    """Apply one learned merge (left, right) greedily left-to-right and
    re-number positions.  ``bi`` is the _bigrams() view of the current
    symbol table."""
    matches = bi.where((F.col("sym") == left) & (F.col("nxt") == right)).select(
        "word", "pos"
    )
    # leftmost-non-overlapping: group consecutive match positions into
    # runs (pos - row_number is constant within a run), keep odd ranks
    w_run = Window.partitionBy("word").orderBy("pos")
    runs = matches.withColumn("grp", F.col("pos") - F.row_number().over(w_run))
    w_in_run = Window.partitionBy("word", "grp").orderBy("pos")
    kept = (
        runs.withColumn("rn", F.row_number().over(w_in_run))
        .where(F.col("rn") % 2 == 1)
        .select("word", "pos")
    )
    # two targeted equi-joins: pos in kept -> emit the merged symbol;
    # pos-1 in kept -> this row's symbol was consumed, drop it
    k1 = kept.withColumn("is_merge", F.lit(True))
    k2 = kept.select("word", (F.col("pos") + 1).alias("pos")).withColumn(
        "is_drop", F.lit(True)
    )
    out = (
        bi.join(k1, ["word", "pos"], "left")
        .join(k2, ["word", "pos"], "left")
        .where(F.col("is_drop").isNull())
        .select(
            "word",
            "freq",
            "pos",
            F.when(F.col("is_merge"), F.concat("sym", "nxt"))
            .otherwise(F.col("sym"))
            .alias("sym"),
        )
    )
    w_renum = Window.partitionBy("word").orderBy("pos")
    return out.select(
        "word", "freq", F.row_number().over(w_renum).alias("pos"), "sym"
    )


def learn_bpe(
    docs: DataFrame,
    n_merges: int = N_MERGES,
    vocab_cap: int = VOCAB_CAP,
    pattern: str = PRETOKEN_RE,
    words: DataFrame | None = None,
) -> DataFrame:
    """Train ``n_merges`` BPE merges; returns the learned merge table
    (step, left_sym, right_sym, pair_freq) ordered by step.

    Stops early if the vocabulary runs out of bigrams (every word fully
    merged) — the oracle replay mirrors this by producing empty
    iteration rows past that point.

    ``words`` optionally supplies a precomputed capped (word, freq)
    table so a caller that already aggregated the corpus (e.g.
    :func:`encode_corpus`) avoids a second corpus-wide pass.
    """
    spark = docs.sparkSession
    if words is None:
        words = word_frequencies(docs, vocab_cap, pattern)
    syms = initial_symbols(words)
    syms = materialize(syms)
    learned: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        bi = _bigrams(syms)
        top = (
            bi.where(F.col("nxt").isNotNull())
            .groupBy("sym", "nxt")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("sym"), F.asc("nxt"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, cnt = top[0]["sym"], top[0]["nxt"], int(top[0]["cnt"])
        learned.append((step, left, right, cnt))
        if step < n_merges:
            syms = materialize(_merge_round(bi, left, right))
    return spark.createDataFrame(
        learned, "step INT, left_sym STRING, right_sym STRING, pair_freq BIGINT"
    )


def encode_words(
    words: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """Apply learned merges (in learned order — the classic subword-nmt
    application rule) to a distinct-word table; returns (word, n_sym),
    the BPE token count per word.

    ``words`` must be distinct on ``word``; the table is
    vocabulary-sized, so the whole encode loop — one :func:`_merge_round`
    per learned merge, each two window passes + two targeted equi-joins
    — never touches corpus-sized data.
    """
    syms = initial_symbols(words.select("word", F.lit(1).alias("freq")))
    syms = materialize(syms)
    for left, right in merges:
        syms = materialize(_merge_round(_bigrams(syms), left, right))
    return syms.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("n_sym"))


def encode_corpus(
    docs: DataFrame,
    n_merges: int = N_MERGES,
    vocab_cap: int = VOCAB_CAP,
    pattern: str = PRETOKEN_RE,
) -> DataFrame:
    """Tokenize the corpus with a corpus-trained BPE: train
    ``n_merges`` merges (capped vocabulary), apply them to EVERY
    distinct corpus word, and report per-document token statistics —
    the operational step a pretraining pipeline runs right after
    tokenizer training, with the standard scale decomposition:

    - tokenization work happens once per DISTINCT word (vocabulary-
      sized symbol tables through the merge rounds), never once per
      occurrence — the same distinct-strings discipline the linking
      ladder uses;
    - the corpus is touched exactly twice, both as narrow exchanges:
      ONE word-count aggregation whose vocabulary-sized result is
      checkpointed and serves both the training cap and the encode
      word set, and the (doc_id, word) explode that the encoded
      lengths join back onto (word-keyed equi-join, partial-agg sum
      per doc).

    Returns (doc_id, n_words, n_tokens, tokens_per_word_x1000) for
    every document with at least one pre-token; the ratio is integer
    fixed-point so both engines floor identically.
    """
    wf_full = materialize(
        docs.select(
            F.explode(
                F.regexp_extract_all("text", F.lit(pattern), F.lit(0))
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    train_words = wf_full.orderBy(F.desc("freq"), F.asc("word")).limit(vocab_cap)
    merges_df = learn_bpe(docs, n_merges, vocab_cap, pattern, words=train_words)
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in merges_df.orderBy("step").collect()
    ]
    occurrences = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all("text", F.lit(pattern), F.lit(0))).alias(
            "word"
        ),
    )
    encoded = encode_words(wf_full.select("word"), merges)
    return (
        occurrences.join(encoded, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_sym").cast("long").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_tokens",
            F.expr("(n_tokens * 1000) div n_words")
            .cast("long")
            .alias("tokens_per_word_x1000"),
        )
    )
