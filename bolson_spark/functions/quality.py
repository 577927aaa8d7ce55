"""Gopher/C4-style document quality filtering over the `documents`
table — the rule-based pre-training corpus filter family (word counts,
word-length bounds, alphabetic-word fraction, symbol ratios, and
repetition metrics).

Design (100 TB posture): the per-document scalar metrics are one
narrow map of built-in expressions (whole-stage codegen, no shuffle).
The repetition metric (top-bigram fraction) needs a per-(doc, bigram)
count, which is the standard token-pipeline shape: explode → two
map-side-combined aggregations keyed by doc_id — scale-safe, no
broadcast, no skew beyond document length itself. Nothing here is a
Python UDF.

Rule thresholds follow the public Gopher paper's filter family
(Rae et al. 2021, "Scaling Language Models: ... Gopher", table A1)
adapted to the synthetic corpus; every metric is also expressible in
ANSI SQL so the whole filter is DuckDB-oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bolson_spark.functions.text import explode_once

# Filter thresholds (Gopher-flavored, corpus-adapted).
MIN_WORDS = 20
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN = 2.0
MAX_MEAN_WORD_LEN = 12.0
MIN_ALPHA_WORD_FRAC = 0.8
MAX_SYMBOL_WORD_RATIO = 0.1
MIN_UNIQUE_WORD_FRAC = 0.2
MAX_TOP_BIGRAM_FRAC = 0.20


def words_col(col: Column) -> Column:
    """Whitespace tokens with empties dropped (identical semantics to
    DuckDB ``list_filter(string_split_regex(text, '\\s+'), ...)``)."""
    return F.filter(F.split(col, r"\s+"), lambda w: w != F.lit(""))


def quality_metrics(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-document quality metrics + keep flag.

    Output: (id_col, n_words, mean_word_len, unique_word_frac,
    alpha_word_frac, symbol_word_ratio, top_bigram_frac, keep) —
    floats rounded to 6 so the DuckDB oracle hashes identically.

    ONE narrow map, zero exchanges (r10): the word array is bound once
    per row via ``bind_array`` and every metric — including
    top_bigram_frac, which used to pay explode + two doc_id shuffles +
    a join back — is a field of a single struct computed from the
    bound array. top_bigram_frac uses the repetition_metrics 'local'
    recipe: sort the doc's bigram array and fold it once; runs of
    adjacent equal bigrams are the counts, best run / n_bigrams the
    fraction (the explode alternative is scale-safe too, but the
    counting group always lives inside one row, so the exchange bought
    nothing). The bind_array lambda variable matters doubly here:
    downstream `.where("keep")` gates get predicate-pushdown-inlined
    below the projection, and alias substitution re-evaluates a plain
    column reference like the word array ONCE PER REFERENCE (measured
    7.5x on the composed pipelines) — a lambda variable is a
    materialized value substitution cannot inline."""
    from bolson_spark.functions.dedup import _spread

    # The metric struct is built as SQL TEXT parsed in ONE selectExpr
    # (r11, the one-parse sweep): the Column-API form — a bind_array'd
    # struct of five ratio folds plus the bigram run-fold — spent
    # ~0.5 s of py4j round trips per call, an SF-independent driver
    # constant paid by every pipeline composition that gates on
    # quality (training_corpus/neardup/spandedup/dsir + the two
    # direct queries). The SQL mirrors the former Column tree field
    # for field; the bind_array discipline is preserved (ws is the
    # single-element transform's lambda variable, so the word array
    # is evaluated once per row and substitution cannot inline it).
    # Zero-word documents: every ratio is CASE WHEN size(ws) > 0 —
    # NULL, not a divide-by-zero; keep still evaluates FALSE via
    # n_words. 0/1-word docs guard the bigram array to NULL
    # (sequence(1, 0) counts DOWN in Spark and would manufacture
    # junk bigrams).
    def ratio(expr: str) -> str:
        return f"CASE WHEN size(ws) > 0 THEN round({expr}, 6) END"

    def occurrences(needle: str, length: int) -> str:
        # literal-substring count via length arithmetic — identical
        # in Spark and DuckDB (no regex dialect involved)
        return (
            f"(length({text_col}) -"
            f" length(replace({text_col}, '{needle}', ''))) / {length}"
        )

    flush = "CASE WHEN acc.run > acc.best THEN acc.run ELSE acc.best END"
    bigr = (
        "CASE WHEN size(ws) >= 2 THEN array_sort(transform("
        "sequence(1, size(ws) - 1),"
        " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1))"
        ")) END"
    )
    top_c = (
        f"aggregate({bigr}, "
        "named_struct('prev', cast(null as string),"
        " 'run', cast(0 as bigint), 'best', cast(0 as bigint)), "
        "(acc, g) -> CASE WHEN acc.prev IS NOT NULL AND g = acc.prev"
        " THEN named_struct('prev', acc.prev, 'run', acc.run + 1,"
        " 'best', acc.best)"
        " ELSE named_struct('prev', g, 'run', cast(1 as bigint),"
        f" 'best', {flush}) END, "
        f"acc -> {flush})"
    )
    metrics = (
        "named_struct("
        "'n_words', size(ws), "
        "'mean_word_len', "
        + ratio(
            "aggregate(ws, cast(0.0 as double),"
            " (acc, x) -> acc + length(x)) / size(ws)"
        )
        + ", 'unique_word_frac', "
        + ratio("size(array_distinct(ws)) / size(ws)")
        + ", 'alpha_word_frac', "
        + ratio("size(filter(ws, x -> x rlike '[a-zA-Z]')) / size(ws)")
        + ", 'symbol_word_ratio', "
        + ratio(
            f"({occurrences('#', 1)} + {occurrences('...', 3)}) / size(ws)"
        )
        + ", 'top_bigram_frac', CASE WHEN size(ws) >= 2 THEN"
        f" round({top_c} / (size(ws) - 1), 6) END"
        ")"
    )
    # metrics are CPU per row, not bytes — decouple map parallelism
    # from file layout when the input is under-split (no-op at scale)
    base = _spread(df).selectExpr(
        id_col,
        "element_at(transform(array("
        f"filter(split({text_col}, '\\\\s+'), w -> w != '')"
        f"), ws -> {metrics}), 1) AS _m",
    )
    out = base.select(
        id_col,
        F.col("_m.n_words").alias("n_words"),
        F.col("_m.mean_word_len").alias("mean_word_len"),
        F.col("_m.unique_word_frac").alias("unique_word_frac"),
        F.col("_m.alpha_word_frac").alias("alpha_word_frac"),
        F.col("_m.symbol_word_ratio").alias("symbol_word_ratio"),
        F.col("_m.top_bigram_frac").alias("top_bigram_frac"),
    )
    keep = (
        (F.col("n_words") >= MIN_WORDS)
        & (F.col("n_words") <= MAX_WORDS)
        & (F.col("mean_word_len") >= MIN_MEAN_WORD_LEN)
        & (F.col("mean_word_len") <= MAX_MEAN_WORD_LEN)
        & (F.col("alpha_word_frac") >= MIN_ALPHA_WORD_FRAC)
        & (F.col("symbol_word_ratio") <= MAX_SYMBOL_WORD_RATIO)
        & (F.col("unique_word_frac") >= MIN_UNIQUE_WORD_FRAC)
        & (F.coalesce(F.col("top_bigram_frac"), F.lit(0.0))
           <= MAX_TOP_BIGRAM_FRAC)
    )
    # NULL-text docs have NULL n_words -> NULL keep; pin to FALSE (a
    # degenerate doc is never keepable, and NULL booleans render
    # engine-differently through pandas)
    return out.withColumn("keep", F.coalesce(keep, F.lit(False)))


# Gopher Table A1 repetition thresholds (Rae et al. 2021): a document
# is rejected when the most common {2,3,4}-gram covers more than
# {20,18,16}% of its characters, or when duplicated {5,6,7,8}-grams
# cover more than {15,14,13,12}%.
TOP_NGRAM_CHAR_FRAC_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
DUP_NGRAM_CHAR_FRAC_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12}


def repetition_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The FULL Gopher repetition-signal family (Rae et al. 2021,
    Table A1) in its published CHARACTER-fraction form — complementing
    the registry's existing repetition slots (quality_metrics: top-
    bigram SLOT fraction; gopher_repetition: top-word slot + dup-
    trigram OCCURRENCE fractions; dup_ngram_fraction: cross-document
    distinct-8-gram overlap) with the per-n character coverage the
    paper actually thresholds on:

    - ``top{n}_char_frac`` (n=2,3,4): characters attributed to the
      single most frequent n-gram, ``count * chars(gram) / chars(doc)``
      — the standard published approximation (overlapping occurrences
      count their characters independently, so the fraction can
      exceed 1 on degenerate input; thresholds are far below that).
      Ties on count break by gram ASC, so the metric is deterministic
      and engine-independent.
    - ``dup{n}_char_frac`` (n=5,6,7,8): characters attributed to ALL
      occurrences of n-grams appearing >= 2 times,
      ``sum(count * chars(gram)) / chars(doc)`` (same convention).
    - ``keep``: TRUE iff every fraction is within its Table A1
      threshold (TOP_NGRAM_CHAR_FRAC_MAX / DUP_NGRAM_CHAR_FRAC_MAX).

    One row per input document; NULL/too-short text reports zero
    fractions and keep=TRUE (nothing repeats in it — the same
    manifest contract as dup_span_coverage).

    Scale shape: one narrow map, no gram shuffle. Every (doc, n, gram)
    group lives entirely inside one row's gram array, so the count
    never needs an exchange: per n, sort the doc's gram array and fold
    it once (the char_entropy sorted-run recipe) — adjacent equal
    grams form runs; walking runs in ascending gram order makes "first
    strictly-greater count wins" exactly the count-DESC, gram-ASC
    tie-break; dup sums accumulate run_len * chars(gram) for runs
    >= 2. O(L log L) per doc in whole-stage codegen, no explode, no
    join back. Fractions are a single integer division rounded to 6,
    the documented cross-engine float recipe."""
    from bolson_spark.functions.dedup import _spread

    ns = sorted(TOP_NGRAM_CHAR_FRAC_MAX) + sorted(DUP_NGRAM_CHAR_FRAC_MAX)

    # the fold is CPU per row, not bytes — decouple map parallelism
    # from file layout when the input is under-split (no-op at scale)
    df = _spread(df)
    top_ns = set(TOP_NGRAM_CHAR_FRAC_MAX)

    # The whole per-document fold is built as SQL TEXT and parsed in
    # ONE selectExpr (r11, the bpe/_minhash_prep one-parse pattern):
    # the Column-API form — 7 nested aggregate() folds with struct
    # accumulators and per-field lambdas — spent ~1.3 s of py4j round
    # trips per call (profiled: build 1.3-1.5 s vs 0.7 s exec at
    # sf0.1), an SF-independent driver constant. The SQL below mirrors
    # the former Column tree field for field (explicit bigint casts
    # keep accumulator types identical); results are pinned by the
    # hand-computed fixture test and by the DuckDB oracle, on the
    # registry corpus and on a crafted tie/degenerate corpus.

    def grams_sql(n: int) -> str:
        # one gram stream per n, sorted so adjacent equals form runs;
        # ascending gram order makes "first strictly-greater count
        # wins" exactly the count-DESC, gram-ASC published tie-break
        return (
            f"array_sort(CASE WHEN size(ws) >= {n} THEN "
            f"transform(sequence(1, size(ws) - {n - 1}),"
            f" i -> array_join(slice(ws, i, {n}), ' ')) "
            "ELSE cast(array() as array<string>) END)"
        )

    def top_sql(n: int) -> str:
        flush_c = "CASE WHEN acc.run > acc.best THEN acc.run ELSE acc.best END"
        flush_ch = (
            "CASE WHEN acc.run > acc.best THEN acc.run *"
            " cast(length(acc.prev) as bigint) ELSE acc.chars END"
        )
        return (
            f"aggregate({grams_sql(n)}, "
            "named_struct('prev', cast(null as string),"
            " 'run', cast(0 as bigint), 'best', cast(0 as bigint),"
            " 'chars', cast(0 as bigint)), "
            "(acc, g) -> CASE WHEN acc.prev IS NOT NULL AND g = acc.prev"
            " THEN named_struct('prev', acc.prev, 'run', acc.run + 1,"
            " 'best', acc.best, 'chars', acc.chars)"
            " ELSE named_struct('prev', g, 'run', cast(1 as bigint),"
            f" 'best', {flush_c}, 'chars', {flush_ch}) END, "
            f"acc -> {flush_ch})"
        )

    def dup_sql(n: int) -> str:
        flush = (
            "CASE WHEN acc.run >= 2 THEN acc.dup + acc.run *"
            " cast(length(acc.prev) as bigint) ELSE acc.dup END"
        )
        return (
            f"aggregate({grams_sql(n)}, "
            "named_struct('prev', cast(null as string),"
            " 'run', cast(0 as bigint), 'dup', cast(0 as bigint)), "
            "(acc, g) -> CASE WHEN acc.prev IS NOT NULL AND g = acc.prev"
            " THEN named_struct('prev', acc.prev, 'run', acc.run + 1,"
            " 'dup', acc.dup)"
            " ELSE named_struct('prev', g, 'run', cast(1 as bigint),"
            f" 'dup', {flush}) END, "
            f"acc -> {flush})"
        )

    fields = ", ".join(
        f"'ch{n}', {top_sql(n) if n in top_ns else dup_sql(n)}" for n in ns
    )
    # bind_array in SQL: the split() array is evaluated ONCE per row
    # as the single-element transform's lambda variable, then folded
    # seven ways — same HOF-capture discipline as the Column helper
    chars_sql = (
        f"element_at(transform(array(split({text_col}, ' ')),"
        f" ws -> named_struct({fields})), 1)"
    )
    staged = df.selectExpr(
        "doc_id",
        f"coalesce(cast(length({text_col}) as bigint),"
        " cast(0 as bigint)) AS n_chars",
        f"{chars_sql} AS _ch",
    )

    def frac(n: int) -> Column:
        return F.when(F.col("n_chars") == 0, F.lit(0.0)).otherwise(
            F.round(
                F.coalesce(F.col(f"_ch.ch{n}"), F.lit(0)).cast("double")
                / F.col("n_chars").cast("double"),
                6,
            )
        )

    cols = {
        **{n: f"top{n}_char_frac" for n in TOP_NGRAM_CHAR_FRAC_MAX},
        **{n: f"dup{n}_char_frac" for n in DUP_NGRAM_CHAR_FRAC_MAX},
    }
    out = staged.select(
        "doc_id", "n_chars", *[frac(n).alias(cols[n]) for n in ns]
    )
    keep = F.lit(True)
    for n, t in TOP_NGRAM_CHAR_FRAC_MAX.items():
        keep = keep & (F.col(f"top{n}_char_frac") <= t)
    for n, t in DUP_NGRAM_CHAR_FRAC_MAX.items():
        keep = keep & (F.col(f"dup{n}_char_frac") <= t)
    return out.withColumn("keep", keep)


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    seed: str = "strat",
) -> DataFrame:
    """Deterministic per-stratum sampling (the `sampleBy` shape, made
    engine- and cluster-size-reproducible): keep a row iff the first 8
    hex digits of md5(seed|id) fall below the stratum's fraction of the
    32-bit space, compared AS LOWERCASE HEX STRINGS so Spark and the
    DuckDB oracle agree bit-for-bit (no int conversion dialects
    involved). One narrow map — no shuffle, no RNG state, identical
    results on any executor count. Strata absent from `fractions` are
    dropped (fraction 0).

    NULL ids are EXCLUDED (same NULL rule as the r7 sketch audit's
    KMV fix): Spark's concat_ws skips NULLs, so every NULL-id row
    would share the one constant md5(seed) draw — the whole NULL
    cohort kept or dropped together, and a silent divergence from the
    SQL twin, whose ``seed || '|' || CAST(id AS VARCHAR)`` is NULL
    and never passes the ``<`` comparison."""
    bucket = F.substring(
        F.md5(F.concat_ws("|", F.lit(seed), F.col(id_col).cast("string"))),
        1,
        8,
    )
    df = df.where(F.col(id_col).isNotNull())
    expr = None
    for key, f in fractions.items():
        cond = F.col(stratum_col) == key
        keep = (
            F.lit(True)
            if f >= 1.0
            else (bucket < F.lit(fraction_hex_threshold(f)))
        )
        expr = F.when(cond, keep) if expr is None else expr.when(cond, keep)
    final = expr.otherwise(F.lit(False)) if expr is not None else F.lit(False)
    return df.where(final)


def fraction_hex_threshold(f: float) -> str:
    """8-hex-digit threshold such that `md5[:8] < threshold` keeps an
    `f` fraction of uniformly hashed rows."""
    return format(max(0, min(int(f * 2 ** 32), 2 ** 32 - 1)), "08x")


def unigram_lm_score(
    docs: DataFrame, text_col: str = "text", min_freq: int = 1
) -> DataFrame:
    """CCNet-style language-model quality proxy with a corpus-trained
    unigram LM: score(doc) = mean over tokens of ln p(token), where
    p(token) = corpus_freq / corpus_total. Low (very negative) scores
    mark rare-token-heavy documents; near-zero scores mark documents
    made of the corpus's most common tokens.

    Cross-engine determinism: each token's ln p is rounded to 6
    decimals and summed as DECIMAL(28,6) (exact, order-independent),
    then divided by the token count and rounded — the documented
    engine-parity recipe for float aggregation.

    Returns (doc_id, n_tokens, lm_score).

    100 TB posture: the LM is ONE aggregation over exploded tokens
    (uniform md5-free string keys — Zipf head is hot but the count is
    map-side combined); scoring re-explodes and joins token->logp,
    AQE-broadcast while the vocabulary is small (the common case; cap
    with `min_freq` — dropped tokens score at the floor of the kept
    vocabulary, keeping the join build side bounded), then one
    aggregation keyed by doc_id.
    """
    toks = explode_once(
        docs,
        ["doc_id"],
        F.filter(F.split(F.col(text_col), " "), lambda x: x != ""),
        ["tok"],
    )
    freqs = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    if min_freq > 1:
        freqs = freqs.where(F.col("freq") >= min_freq)
    # One stats row carries BOTH the normalizer and the floor: ln is
    # monotone and round is order-preserving, so the kept vocabulary's
    # minimum logp equals round(ln(min_freq / total), 6) — no second
    # pass over the vocabulary aggregation and no cached frame to leak.
    stats = freqs.agg(
        F.sum("freq").alias("total"), F.min("freq").alias("vocab_min_freq")
    )
    lm = freqs.crossJoin(F.broadcast(stats)).select(
        "tok",
        F.round(
            F.log(F.col("freq").cast("double") / F.col("total")), 6
        )
        .cast("decimal(28,6)")
        .alias("logp"),
    )
    floor_logp = F.round(
        F.log(
            F.col("vocab_min_freq").cast("double") / F.col("total")
        ),
        6,
    ).cast("decimal(28,6)")
    scored = (
        toks.join(lm, "tok", "left")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.coalesce(F.col("logp"), floor_logp).alias("logp"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("logp").alias("logp_sum"),
        )
    )
    return scored.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(
            F.col("logp_sum").cast("double") / F.col("n_tokens"), 6
        ).alias("lm_score"),
    )


def dsir_logratio(
    docs: DataFrame, target: DataFrame, text_col: str = "text"
) -> DataFrame:
    """DSIR-style importance weighting (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every raw-corpus document by log p_target(x) / p_raw(x) under
    add-one-smoothed unigram LMs — positive weight means the document
    looks more like the TARGET distribution (the trusted reference
    set DSIR resamples toward) than like the raw corpus. The published
    method hashes n-gram features and Gumbel-resamples; this
    re-expression keeps the importance-weight core (the part that
    ranks documents) deterministic and cross-engine exact: per token
    ``round(ln((ct+1)/(Nt+V)) - ln((cr+1)/(Nr+V)), 6)`` summed as
    DECIMAL(28,6) (order-independent, the unigram_lm_score recipe),
    where V is the RAW vocabulary size (the shared smoothing support).

    Returns (doc_id, n_tokens, dsir_logweight, selected) — selected
    is the zero-threshold decision (more target-like than raw);
    callers wanting a fixed budget compose with the percentile gate
    (quality_percentile_filter's shape). Docs with no tokens report
    (0, 0.0, false).

    Scale shape: two token aggregations (raw + target, both map-side
    combined), ONE broadcast stats row, a vocab-sized ratio table
    joined back to the token stream (AQE-broadcast while the
    vocabulary is small), one doc_id aggregation. No UDFs, no
    all-pairs anything; the target side is the small curated set by
    construction."""
    def _toks(df: DataFrame, *cols: str) -> DataFrame:
        return explode_once(
            df,
            list(cols),
            F.filter(F.split(F.col(text_col), " "), lambda x: x != ""),
            ["tok"],
        )

    raw_toks = _toks(docs, "doc_id")
    raw = raw_toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cr"))
    tgt = _toks(target).groupBy("tok").agg(F.count(F.lit(1)).alias("ct"))
    stats = raw.join(tgt, "tok", "left").agg(
        F.sum("cr").alias("nr"),
        F.sum(F.coalesce(F.col("ct"), F.lit(0))).alias("nt"),
        F.count(F.lit(1)).alias("v"),
    )
    # per-token log ratio over the RAW vocabulary (target tokens
    # outside it — impossible when target ⊆ docs — would be ignored,
    # matching the shared-support smoothing definition)
    lr = (
        raw.join(tgt, "tok", "left")
        .crossJoin(F.broadcast(stats))
        .select(
            "tok",
            F.round(
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                    / (F.col("nt") + F.col("v")).cast("double")
                )
                - F.log(
                    (F.col("cr") + 1).cast("double")
                    / (F.col("nr") + F.col("v")).cast("double")
                ),
                6,
            )
            .cast("decimal(28,6)")
            .alias("lrat"),
        )
    )
    scored = (
        raw_toks.join(lr, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lrat").alias("w"),
        )
    )
    return docs.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), F.lit(0))
        .cast("bigint")
        .alias("n_tokens"),
        F.round(
            F.coalesce(F.col("w"), F.lit(0).cast("decimal(28,6)"))
            .cast("double"),
            6,
        ).alias("dsir_logweight"),
        (
            F.coalesce(F.col("w"), F.lit(0).cast("decimal(28,6)"))
            > F.lit(0)
        ).alias("selected"),
    )


def dsir_resample(
    docs: DataFrame,
    target: DataFrame,
    budget_frac: float = 0.25,
    text_col: str = "text",
    n_buckets: int = 32,
) -> DataFrame:
    """Budgeted DSIR importance RESAMPLING — the step the published
    pipeline ends in (Xie et al. 2023 §3; r9 VERDICT #2):
    :func:`dsir_logratio` scores the pool, then documents are sampled
    WITHOUT replacement with probability proportional to their
    importance weight until a token budget is spent. Sampling uses
    the Gumbel-top-k trick (sorting by ``logweight + Gumbel(0,1)`` is
    exactly weighted sampling without replacement); the Gumbel noise
    is derived from an md5 draw — ``g = -ln(-ln(u))``,
    ``u = (md5_draw(doc_id) + 0.5) / 2^60`` — so the selected set is
    identical on any engine or cluster size, the same determinism
    contract as weighted_sample/temperature_mix. The budget is
    ``floor(budget_frac * total pool tokens)``, spent greedily in key
    order: a document is kept iff the tokens BEFORE it (key desc,
    doc_id tiebreak) haven't exhausted the budget — so the budget may
    be overshot by at most one document, never undershot while
    candidates remain (the token_budget_mix greedy-fill rule).

    Scale shape — the global "cumulative tokens before me" is NOT a
    single-reducer window: the add_seq_scalable 3-pass pattern applied
    to a running SUM. (1) one aggregation over the keyed pool gives
    min/max key + total tokens (driver scalars); (2) equal-width
    DESCENDING key buckets from those frozen literals, exact
    per-bucket token sums -> exclusive prefix offsets on the driver
    (O(n_buckets)); (3) the windowed cumsum runs PARTITIONED BY
    bucket (parallel across buckets) and adds the bucket offset.
    Equal keys share a bucket by construction, so bucket order is
    globally consistent with (key desc, doc_id). The keyed pool is
    cached once and read by all three passes. One bucket = one
    reducer task in pass 3, so ``n_buckets`` IS the selection
    stage's parallelism: size it to the cluster's target partition
    count (thousands at 100 TB — the driver prefix array stays
    O(n_buckets) longs); the Gumbel perturbation keeps equal-width
    buckets roughly balanced even under skewed weights. Determinism caveat
    (shared with weighted_sample's pow): ln is transcendental, so a
    key pair straddling the round-to-6 boundary by < 1 ulp could in
    principle differ across engines; keys are rounded to 6 and the
    token cumsum is exact BIGINT arithmetic, so the differential gate
    compares integers everywhere past the key.

    Returns KEPT documents only:
    (doc_id, n_tokens, dsir_logweight, resample_key), resample_key
    descending-significant. Empty pool -> empty result."""
    from bolson_spark.functions.sketch import HASH_SPACE, md5_draw

    scored = dsir_logratio(docs, target, text_col=text_col)
    u = (md5_draw(F.col("doc_id"), "dsir").cast("double") + F.lit(0.5)) / F.lit(
        HASH_SPACE
    )
    key = F.round(
        F.col("dsir_logweight") + (-F.log(-F.log(u))), 6
    ).alias("resample_key")
    keyed = scored.select(
        "doc_id", "n_tokens", "dsir_logweight", key
    ).cache()
    stats = keyed.agg(
        F.min("resample_key").alias("lo"),
        F.max("resample_key").alias("hi"),
        F.sum("n_tokens").alias("total"),
    ).first()
    if stats["total"] is None:
        return keyed  # empty pool: empty keyed result, correct schema
    lo, hi, total = float(stats["lo"]), float(stats["hi"]), int(stats["total"])
    budget = int(budget_frac * total)
    width = (hi - lo) / n_buckets
    if width <= 0.0:
        bucket = F.lit(0)  # all keys equal: one bucket, still correct
    else:
        # DESC buckets: bucket 0 holds the HIGHEST keys. floor() of
        # the same literal expression on every pass -> all passes
        # agree by construction (the add_seq_scalable argument).
        bucket = F.least(
            F.lit(n_buckets - 1),
            F.floor((F.lit(hi) - F.col("resample_key")) / F.lit(width)),
        ).cast("int")
    b = keyed.withColumn("_bkt", bucket)
    sums = {
        int(r["_bkt"]): int(r["s"])
        for r in b.groupBy("_bkt").agg(F.sum("n_tokens").alias("s")).collect()
    }
    offsets, acc = {}, 0
    for i in range(n_buckets):
        offsets[i] = acc
        acc += sums.get(i, 0)
    off_expr = F.element_at(
        F.array(*[F.lit(offsets[i]).cast("bigint") for i in range(n_buckets)]),
        F.col("_bkt") + 1,
    )
    w = (
        Window.partitionBy("_bkt")
        .orderBy(F.desc("resample_key"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = off_expr + F.sum("n_tokens").over(w) - F.col("n_tokens")
    return (
        b.withColumn("_cum_before", cum_before)
        .where(F.col("_cum_before") < budget)
        .select("doc_id", "n_tokens", "dsir_logweight", "resample_key")
    )


def hashed_linear_score(
    docs: DataFrame,
    text_col: str = "text",
    n_buckets: int = 4096,
    id_col: str = "doc_id",
) -> DataFrame:
    """fastText-style hashed-feature linear classifier INFERENCE as a
    pure narrow map — the shape of every learned quality/toxicity/
    language gate in a training-data pipeline (fastText, CCNet's
    quality filter) once the model is trained.

    The hashing trick (Weinberger et al. 2009): tokens index a fixed
    2^b weight vector through a hash, so inference needs NO vocabulary
    — no token explode, no weight-table join, no per-doc shuffle.
    Here the whole classifier runs inside ONE per-row expression:
    margin(doc) = sum over tokens of W[h(token) mod n_buckets] via
    `aggregate(transform(split(text)))` — whole-stage-codegen'd,
    embarrassingly parallel, zero exchanges. Compare the naive plan
    (explode -> join weights -> groupBy doc_id): two shuffles of the
    full token stream.

    The weight vector is a deterministic md5-derived stand-in
    (integers in [-8, 8], exactly reproducible in any engine — the
    registry-oracle constraint); a production caller broadcasts real
    trained weights and maps bucket -> weight inside the same lambda
    (2^b floats is model-size, not data-size). Integer weights make
    the margin a BIGINT sum — order-independent, bit-identical across
    engines/partitionings; the only float op is one exact IEEE
    division for the length-normalized score.

    Returns (id_col, n_tokens, margin, score, keep) where
    score = margin / n_tokens and keep = margin > 0.
    """
    def w_of(tok: Column) -> Column:
        bucket = F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.lit("feat"), tok)), 1, 15
            ),
            16,
            10,
        ).cast("bigint") % F.lit(n_buckets)
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|", F.lit("hlw"), bucket.cast("string")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            % F.lit(17)
            - F.lit(8)
        )

    # NULL text is pinned to the empty document (0 tokens, margin 0,
    # keep=false): F.aggregate over a NULL array yields NULL while the
    # SQL oracle's COALESCE(list_sum, 0) yields 0 — another
    # divergence-capable edge that must not leave the operator
    toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), " "),
        lambda x: x != "",
    )
    margin = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + w_of(t)
    )
    from bolson_spark.functions.dedup import _spread

    # two md5s per token of CPU per row — spread an under-split input
    return _spread(docs).select(
        F.col(id_col),
        F.size(toks).cast("bigint").alias("n_tokens"),
        margin.alias("margin"),
    ).select(
        id_col,
        "n_tokens",
        "margin",
        # explicit empty-doc pin: Spark yields NaN for 0.0/0.0 while
        # DuckDB yields NULL — divergence-capable, so neither is let out
        F.when(F.col("n_tokens") == 0, F.lit(0.0))
        .otherwise(
            F.col("margin").cast("double") / F.col("n_tokens").cast("double")
        )
        .alias("score"),
        (F.col("margin") > 0).alias("keep"),
    )
