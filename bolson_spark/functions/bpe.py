"""Byte-pair-encoding tokenizer training & encoding — the tokenizer-
construction step of a training-data pipeline, as distributed Spark
jobs.

Algorithm (Sennrich et al. 2016, "Neural Machine Translation of Rare
Words with Subword Units"): start from characters, repeatedly merge
the most frequent adjacent symbol pair. The distributed formulation
works on the WORD-FREQUENCY table, not the corpus: tokenize-and-count
once (one shuffle over the corpus), then every merge round runs on
the vocabulary (Zipf: |vocab| ≪ corpus size) — pair counting is an
explode + map-side-combined sum, the merge itself is a narrow
higher-order-lambda map, and only the single winning pair is ever
collected per round. localCheckpoint truncates the per-round plan
lineage (the merge expression would otherwise nest once per round).

Determinism: ties on pair count break lexicographically, so the merge
table is a pure function of the corpus — same table on any engine,
run, or cluster size. Not SQL-expressible (data-dependent iteration),
so the registry entry is rows-only and correctness is covered by
ground-truth pytest fixtures (tests/test_functions.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _sql_str(s: str) -> str:
    """A Spark-SQL single-quoted string literal for `s`."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _merge_pair_sql(inner: str, left: str, right: str) -> str:
    """Apply one BPE merge to the symbol array whose SQL text is
    `inner`: leftmost-first greedy replacement of adjacent (left,
    right) with left+right, as a single left-to-right aggregate fold
    (matches the sequential semantics of the reference algorithm — a
    merged symbol cannot re-pair with the element it just consumed).

    Returned as SQL TEXT, not a Column — the `double_array_lit` move
    applied to the merge chain: building the 12-level fold through
    the Column API cost ~75 ms of py4j round trips PER MERGE (0.85 s
    for a 12-merge chain, measured, an SF-independent driver
    constant), while formatting the text here and letting the JVM
    parse it once is ~8x faster."""
    a, b = _sql_str(left), _sql_str(right)
    ab = _sql_str(left + right)
    return (
        f"aggregate({inner}, CAST(array() AS array<string>), "
        f"(acc, s) -> CASE WHEN ((size(acc) > 0) "
        f"AND (element_at(acc, -1) = {a})) AND (s = {b}) "
        f"THEN concat(slice(acc, 1, size(acc) - 1), array({ab})) "
        f"ELSE concat(acc, array(s)) END)"
    )


def word_freq_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over whitespace tokens — the compressed input every
    BPE trainer actually iterates on. One shuffle over the corpus."""
    return (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


# Above this many distinct words, the driver merge loop's collect()
# is a driver-OOM risk (a noisy web-scale corpus has 10^8-10^9
# distinct "words" — URLs, hex hashes) and bpe_train(mode="auto")
# routes to the fully distributed merge loop instead. 4M rows is
# ~100s of MB on the driver — comfortably inside driver memory, far
# outside scheduling-overhead territory for the distributed loop.
DRIVER_VOCAB_CAP = 4_000_000


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    min_freq: int = 1,
    max_vocab: int | None = None,
    mode: str = "auto",
    driver_vocab_cap: int = DRIVER_VOCAB_CAP,
) -> list[tuple[str, str, int]]:
    """Learn `n_merges` BPE merges from the corpus. Returns the merge
    table [(left, right, pair_count), ...] in merge order.

    Architecture: ONE distributed job builds the word-frequency table
    (the only step that touches 100 TB), then the merge loop runs on
    the Zipf-bounded vocabulary — driver-local while the vocabulary
    fits (millions of rows — the fast path: per-merge Spark jobs on a
    table that iterates in milliseconds locally would be pure
    scheduling overhead), FULLY DISTRIBUTED once it doesn't. ``mode``:

    - ``"auto"`` (default): materialize the vocabulary once
      (localCheckpoint), count it, and pick — driver loop at or under
      `driver_vocab_cap` rows, distributed loop above. There is no
      input on which this collects an unbounded table.
    - ``"driver"`` / ``"distributed"``: force a path. Both routes stay
      because ``"auto"`` picks between them from the vocabulary size
      it measures, and each is the independent check on the other
      (tests assert identical merge tables).

    The distributed loop runs one `groupBy(pair).sum(freq)` + a
    1-row collect per merge round over the vocabulary table, applies
    the merge as the same `_merge_pair_sql` codegen expression the
    encoder uses, and localCheckpoints per round to truncate lineage
    — O(rounds) jobs over |vocab| rows, O(1) driver transfer.

    `min_freq` drops the long noise tail; `max_vocab` hard-caps the
    vocabulary (deterministic: ordered by freq DESC, word ASC before
    the cut). The default is EXACT (no cap): capping is an
    APPROXIMATION — pair counts sum across all words containing the
    pair, so a large dropped tail can in principle carry enough
    aggregate mass to change a merge decision. The caps are the
    standard production tradeoff for noisy web corpora whose tail is
    hash/URL junk; the auto guard above makes the EXACT path safe at
    any scale regardless.

    Determinism: ties on pair count break lexicographically on
    (left, right) — Python codepoint order on the driver, UTF8 binary
    order in Spark: identical for the ASCII corpora this runs on, so
    both paths yield the same table on any engine or cluster size.
    """
    if mode not in ("auto", "driver", "distributed"):
        raise ValueError(f"unknown mode {mode!r}")
    wf = word_freq_table(df, text_col)
    if min_freq > 1:
        wf = wf.where(F.col("freq") >= min_freq)
    if max_vocab is not None:
        wf = wf.orderBy(F.col("freq").desc(), F.col("word")).limit(max_vocab)
    if mode == "auto":
        # one materialization serves the count probe AND whichever
        # loop runs — the corpus-wide shuffle is never re-executed
        wf = wf.localCheckpoint()
        mode = "driver" if wf.count() <= driver_vocab_cap else "distributed"
    if mode == "distributed":
        return _bpe_train_distributed(wf, n_merges)
    rows = wf.collect()
    vocab: list[tuple[list[str], int]] = [
        (list(r.word), int(r.freq)) for r in rows
    ]
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, freq in vocab:
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + freq
        if not counts:
            break
        # max count, ties broken lexicographically (ASCII/codepoint
        # order — identical to Spark's UTF8 binary ordering for the
        # ASCII corpora this runs on)
        (left, right), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if n <= 0:
            break
        merges.append((left, right, n))
        merged = left + right
        new_vocab = []
        for syms, freq in vocab:
            out: list[str] = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = merged
                else:
                    out.append(s)
            new_vocab.append((out, freq))
        vocab = new_vocab
    return merges


def _bpe_train_distributed(
    wf: DataFrame, n_merges: int
) -> list[tuple[str, str, int]]:
    """The scale path of :func:`bpe_train`: the merge loop as Spark
    jobs over the (word, freq) table. Per round: adjacent-pair explode
    -> map-side-combined `groupBy(pair).sum(freq)` -> collect exactly
    ONE winning row -> apply the merge with the same `_merge_pair_sql`
    codegen fold the encoder uses -> localCheckpoint (truncates the
    per-round lineage so the merge expression doesn't nest). Driver
    transfer is one row per round; the vocabulary never leaves the
    cluster."""
    vocab = wf.select(
        F.split(F.col("word"), "").alias("syms"), F.col("freq")
    ).localCheckpoint()
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        best = (
            vocab.where(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size("syms") - 2),
                        lambda i: F.struct(
                            F.get("syms", i).alias("left"),
                            F.get("syms", i + 1).alias("right"),
                        ),
                    )
                ).alias("pair"),
                "freq",
            )
            .groupBy("pair.left", "pair.right")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.col("n").desc(), "left", "right")
            .limit(1)
            .collect()
        )
        if not best:
            break
        left, right, n = best[0].left, best[0].right, int(best[0].n)
        merges.append((left, right, n))
        vocab = vocab.select(
            F.expr(_merge_pair_sql("syms", left, right)).alias("syms"),
            "freq",
        ).localCheckpoint()
    return merges


def bpe_encode_col(col: str, merges: list[tuple[str, str, int]]) -> Column:
    """Tokenize the word column named `col` with a learned merge table:
    char split, then the merges applied in training order (a static
    expression chain — the merge table is tiny and enters the plan as
    literals). The whole chain is formatted as SQL text and parsed by
    the JVM in ONE call (:func:`_merge_pair_sql` — 0.85 s -> 0.10 s
    driver time for a 12-merge chain, measured, SF-independent)."""
    inner = f"split({col}, '')"
    for left, right, _ in merges:
        inner = _merge_pair_sql(inner, left, right)
    return F.expr(inner)
