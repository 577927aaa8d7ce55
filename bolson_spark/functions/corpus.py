"""Corpus-level hygiene operators — cross-document n-gram machinery
that a training-data pipeline runs between raw ingest and tokenization:
benchmark decontamination, duplicated-n-gram measurement, sequence
packing, and incremental (snapshot-delta) ingestion dedup.

Everything compiles to built-in Spark SQL expressions (split, slice,
higher-order transforms, md5, window aggregates) — no Python UDFs — so
the operators stay inside whole-stage codegen and scale with executors.
The cross-document steps are expressed as equi-joins / aggregations on
md5 gram keys (uniform 128-bit → no key skew), never as broadcasts of
the large side and never as cartesian products.

100 TB posture per operator is documented on each function.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bolson_spark.functions.text import explode_once


def word_ngrams(col: Column, n: int) -> Column:
    """Word n-grams of a single-space-tokenized text column as an
    array<string>. Guarded so short documents yield an EMPTY array —
    Spark's ``sequence(1, 0)`` would otherwise count DOWN ([1, 0]) and
    produce junk grams.

    The split array is bound as a LAMBDA VARIABLE (text.py::bind_array)
    so it materializes ONCE per row: an expression captured inside a
    HOF lambda body is re-evaluated per element, so the naive
    ``slice(split(text), i, n)`` re-split the whole document for every
    window — O(len^2) per doc (measured 274 s for ONE 65k-token
    document; linear after the fix)."""
    from bolson_spark.functions.text import bind_array

    def grams(ws: Column) -> Column:
        return F.when(
            F.size(ws) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(ws) - (n - 1)),
                lambda i: F.array_join(F.slice(ws, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return bind_array(F.split(col, " "), grams)


def doc_gram_hashes(docs: DataFrame, n: int, text_col: str = "text") -> DataFrame:
    """(doc_id, gram_hash) pairs, DISTINCT per document, with grams
    carried as xxhash64 longs — the shuffle rows stay 2 fixed-width
    columns no matter how long the documents are, the distinct runs
    over 8-byte integers instead of strings, and the hash itself is
    ~an order of magnitude cheaper than a cryptographic digest. Only
    COUNTS derived from these keys ever reach operator output, so
    cross-engine digest parity is not needed here (unlike the content
    fingerprints, which stay md5). Collisions at 64 bits are ~G²/2⁶⁵
    for G distinct grams — immaterial below trillions of grams."""
    # NOT spread (measured, r10): the distinct-gram explode is cheap
    # enough that a round-robin exchange of the text costs more than
    # the single-split serialism it removes (decontaminate 1.05 ->
    # 1.60 s with a spread here) — the md5-window streams
    # (_dup_windows, strip_repeated_passages) are the ones that pay
    # for parallelism, not this xxhash gram stream.
    grams = word_ngrams(F.col(text_col), n)
    # explode_once: the plain explode's inferred size()>0 filter
    # re-ran the whole gram+hash build at the scan (text.explode_once)
    return explode_once(
        docs,
        ["doc_id"],
        F.array_distinct(F.transform(grams, lambda g: F.xxhash64(g))),
        ["gram_hash"],
    )


def decontaminate(
    corpus: DataFrame, eval_docs: DataFrame, n: int = 8
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    word n-gram with an evaluation/benchmark set (the n-gram-overlap
    rule published with GPT-3 / PaLM / Llama data cards; n=8..13 word
    grams are the common window).

    Scale shape: the eval set is SMALL by construction (benchmarks are
    KBs-MBs against a 100 TB corpus), so AQE selects a broadcast-hash
    probe and the hit test is a map-side join on the corpus gram
    stream — zero shuffle of corpus grams; the only shuffle is the
    per-doc re-aggregation keyed by doc_id. The broadcast is left to
    AQE rather than forced with a hint: a hard F.broadcast() would
    strip AQE's ability to fall back to a shuffle join, turning an
    oversized eval set into an executor OOM instead of a graceful
    degradation. Corpus-side grams are per-doc DISTINCT before the
    probe so a pathological repeated-gram document cannot amplify
    join output.

    Returns every corpus document with its gram counts:
    (doc_id, n_grams, n_contaminated, contaminated).
    """
    eval_grams = (
        doc_gram_hashes(eval_docs, n)
        .select("gram_hash")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    corpus_grams = doc_gram_hashes(corpus, n)
    # One pass over the corpus gram stream: the broadcast left join
    # marks eval hits AND the same aggregation counts total grams —
    # no second gram-generation pass just for the denominators.
    per_doc = (
        corpus_grams.join(eval_grams, "gram_hash", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias(
                "n_contaminated"
            ),
        )
    )
    return (
        corpus.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0))
            .cast("bigint")
            .alias("n_grams"),
            F.coalesce(F.col("n_contaminated"), F.lit(0))
            .cast("bigint")
            .alias("n_contaminated"),
            (F.coalesce(F.col("n_contaminated"), F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


def dup_ngram_fraction(docs: DataFrame, n: int = 8) -> DataFrame:
    """Per-document duplicated-n-gram fraction (the Gopher/RefinedWeb
    repetition signal computed CORPUS-wide, not within-doc): the share
    of a document's distinct n-grams that also occur in at least one
    OTHER document.

    Scale shape: inverted index on md5 gram hash (uniform keyspace →
    no skew), partial-aggregated doc counts, then one equi-join back to
    the per-doc gram stream and a per-doc re-aggregation. Two shuffles
    total, both on uniform keys; no broadcasts of unbounded sets. At
    100 TB the gram-count index is the big intermediate — it is never
    collected or broadcast, only joined shuffle-side.
    """
    grams = doc_gram_hashes(docs, n)
    gram_docs = grams.groupBy("gram_hash").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    per_doc = (
        grams.join(gram_docs, "gram_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0)).alias(
                "n_dup_grams"
            ),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce(F.col("n_dup_grams"), F.lit(0))
            .cast("bigint")
            .alias("n_dup_grams"),
            F.when(
                F.coalesce(F.col("n_grams"), F.lit(0)) == 0, F.lit(0.0)
            )
            .otherwise(
                F.round(
                    F.col("n_dup_grams").cast("double")
                    / F.col("n_grams").cast("double"),
                    6,
                )
            )
            .alias("dup_frac"),
        )
    )


def pack_sequences(
    docs: DataFrame,
    budget: int = 2048,
    part_col: str = "source",
    order_col: str = "doc_id",
) -> DataFrame:
    """Concatenate-then-chunk sequence packing (the GPT-style training
    layout): documents are laid end-to-end in a deterministic order and
    cut into fixed token-budget bins; each document is assigned the bin
    its FIRST token lands in.

    Scale shape: the running offset is a window cumsum PARTITIONED BY
    ``part_col`` — packing is independent per source shard, so the plan
    is one shuffle on the partition key and no global sort. A single
    global packing order would be the `add_seq` single-reducer
    anti-pattern; per-shard packing is what a 1000-executor pipeline
    actually runs (shard = source, date, or file-group). Hot shards:
    sub-shard the partition key (salt) and treat (shard, salt) as the
    packing unit.

    Token-count definition (PINNED): ``size(split(text, ' '))`` — the
    raw single-space split, unfiltered, so empty text counts 1 token
    and repeated spaces count their empty tokens. This is the
    definition every composed oracle (pack_sequences, training_corpus,
    training_corpus_neardup) encodes on both engines; the corpus is
    single-space separated by construction, so the raw and filtered
    counts agree on real data, and changing the definition here would
    silently shift every start_offset/bin_id against the committed
    oracles. (doc_chunk_array deliberately filters — chunk CONTENT
    must not carry phantom empties — the two operators answer
    different questions.)

    Returns (doc_id, <part_col>, n_tokens, start_offset, bin_id).
    """
    from pyspark.sql.window import Window

    n_tokens = F.size(F.split(F.col("text"), " ")).cast("bigint")
    w = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_cum = docs.select(
        order_col, part_col, n_tokens.alias("n_tokens")
    ).withColumn("cum", F.sum("n_tokens").over(w))
    return with_cum.select(
        order_col,
        part_col,
        "n_tokens",
        (F.col("cum") - F.col("n_tokens")).alias("start_offset"),
        F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(budget))
        .cast("bigint")
        .alias("bin_id"),
    )


def incremental_ingest(
    incoming: DataFrame, snapshot: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Snapshot-delta ingestion dedup: from a batch of incoming
    documents, keep one representative per content fingerprint that is
    NOT already present in the ingested-corpus snapshot — the operation
    every periodically-refreshed training corpus runs per crawl.

    Scale shape: fingerprint = md5(text) (uniform 128-bit key). The
    anti-join against the snapshot runs on fingerprints only — a
    2-column shuffle regardless of document size — and is left to AQE:
    a small snapshot becomes a broadcast hash anti-join, a 100 TB
    snapshot a sort-merge anti-join on a uniform key. At that scale
    the refinement is a Bloom pre-filter of the batch against the
    snapshot fingerprints, then this exact anti-join on the survivors
    — implemented (JVM-side, no `bloom_filter_agg` needed) in
    streaming/ingest.py (build_bloom_words / build_bloom_bitmap /
    bloom_maybe_contains),
    where the per-run amortization makes it pay; for this one-shot
    batch shape the Bloom build would scan the snapshot anyway, so
    the exact join IS the right implementation. The within-batch
    dedup is a min-aggregation per fingerprint, map-side combined.

    NULL-text documents are NOT ingestible and are excluded
    explicitly: a NULL fingerprint would answer the "same content?"
    question two contradictory ways in one call — the anti-join's
    null key never matches the snapshot (so the doc re-ingests on
    every crawl, forever), while groupBy treats all null fingerprints
    as ONE group — and SQL engines disagree with each other on the
    NOT-IN form besides.

    Returns (fingerprint, doc_id) with doc_id = min over the batch.
    """
    fp = F.md5(F.col(text_col)).alias("fingerprint")
    snap_fp = snapshot.where(F.col(text_col).isNotNull()).select(
        fp
    ).distinct()
    return (
        incoming.where(F.col(text_col).isNotNull())
        .select(fp, "doc_id")
        .join(snap_fp, "fingerprint", "left_anti")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
    )


def _dup_windows(
    docs: DataFrame, length: int, text_col: str
) -> DataFrame:
    """(doc_id, start, gh) rows for every `length`-token window whose
    xxhash64 occurs >= 2 times corpus-wide (cross-document or within-
    document) — the ONE definition of window duplication shared by
    dup_span_coverage and strip_dup_spans. The window stream travels
    as three fixed-width columns and is generated twice (count pass +
    mark join — the regenerate-don't-cache trade); the count is one
    map-side-combined aggregation on the uniform 64-bit key."""
    from bolson_spark.functions.dedup import _spread

    grams = word_ngrams(F.col(text_col), length)
    # window generation is CPU per row (gram build + hash per token
    # position) — spread an under-split input so it does not run on
    # the scan's file-split count (no-op at scale / on shuffled input)
    # explode_once (see text.py): kills the inferred size()>0 filter
    # that re-ran the window build at the scan, single-core
    win = explode_once(
        _spread(docs),
        ["doc_id"],
        F.transform(grams, lambda g: F.xxhash64(g)),
        ["start", "gh"],
        pos=True,
    )
    counts = win.groupBy("gh").agg(F.count(F.lit(1)).alias("_c"))
    return win.join(counts.where(F.col("_c") >= 2), "gh").select(
        "doc_id", "start", "gh"
    )


def dup_span_coverage(
    docs: DataFrame, length: int = 15, text_col: str = "text"
) -> DataFrame:
    """Maximal repeated-span coverage — the SUBSTRING-level dedup
    signal of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"): for each document, the fraction of its
    tokens covered by some `length`-token window that occurs MORE THAN
    ONCE in the corpus (cross-document or repeated within the same
    document). The published method finds exact maximal repeats with a
    suffix array — a single-machine structure; the distributed
    re-expression slides OVERLAPPING `length`-token windows (stride
    1, unlike the non-overlapping chunks of boilerplate_removal),
    marks duplicated windows by corpus-wide occurrence count, and
    merges overlapping duplicated windows into maximal spans with a
    gaps-and-islands window pass — every arithmetic step is integer,
    so the oracle is bit-exact.

    Scale shape: the window stream is n_tokens rows per document
    (substring granularity is inherently stride-1 — this operator
    costs ~`length`x the chunk operators and is the honest price of
    the signal); windows travel as (doc_id, start, xxhash64) — three
    fixed-width columns regardless of window text. The occurrence
    count is one map-side-combined aggregation on the uniform 64-bit
    hash; the window stream is GENERATED TWICE (once for the count,
    once for the mark join — the boilerplate_removal trade: caching a
    corpus-scale frame costs more than regenerating a narrow map);
    only DUPLICATED windows (the repetitive mass, small by
    construction on a clean corpus) reach the per-doc island window,
    which partitions by doc_id and is bounded by document length.
    Fixed `length` makes window ends monotone in starts, so the
    island break test is one lag() — no running max needed.

    Returns (doc_id, n_tokens, n_dup_windows, n_covered,
    covered_frac) — one row per input document (zero-coverage and
    NULL-text docs report zeros, the manifest contract)."""
    from pyspark.sql.window import Window

    dup = _dup_windows(docs, length, text_col).select("doc_id", "start")
    w_ord = Window.partitionBy("doc_id").orderBy("start")
    brk = F.when(
        F.lag("start").over(w_ord).isNull()
        | (F.col("start") > F.lag("start").over(w_ord) + (length - 1)),
        1,
    ).otherwise(0)
    isl = dup.withColumn("_brk", brk).withColumn(
        "_island",
        F.sum("_brk").over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = isl.groupBy("doc_id", "_island").agg(
        (F.max("start") - F.min("start") + length).alias("_covered"),
        F.count(F.lit(1)).alias("_nw"),
    )
    per = spans.groupBy("doc_id").agg(
        F.sum("_covered").alias("n_covered"),
        F.sum("_nw").alias("n_dup_windows"),
    )
    # token count: the PINNED raw single-space split (pack_sequences'
    # definition — word_ngrams tokenizes the same way, so coverage is
    # measured in the same token space the windows live in)
    n_tokens = F.size(F.split(F.col(text_col), " ")).cast("bigint")
    return (
        docs.select("doc_id", n_tokens.alias("_nt"))
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_nt"), F.lit(0)).alias("n_tokens"),
            F.coalesce(F.col("n_dup_windows"), F.lit(0))
            .cast("bigint")
            .alias("n_dup_windows"),
            F.coalesce(F.col("n_covered"), F.lit(0))
            .cast("bigint")
            .alias("n_covered"),
            F.when(F.coalesce(F.col("_nt"), F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.coalesce(F.col("n_covered"), F.lit(0)).cast("double")
                    / F.col("_nt").cast("double"),
                    6,
                )
            )
            .alias("covered_frac"),
        )
    )


def strip_dup_spans(
    docs: DataFrame,
    length: int = 15,
    text_col: str = "text",
    return_text: bool = False,
) -> DataFrame:
    """The ACTIONABLE half of the Lee et al. substring dedup (the
    paper deletes every occurrence of a repeated substring except
    one): merge duplicated windows into maximal spans exactly like
    :func:`dup_span_coverage`, then DELETE every span that is not the
    CANONICAL occurrence of its content and reassemble the cleaned
    text.

    Canonical rule (deterministic, engine-independent): every
    duplicated window hash has ONE canonical occurrence — the
    lexicographic minimum of ``(doc_id, start)``, computed as a
    struct MIN so it is exact at ANY doc_id/position magnitude (the
    r8 arithmetic packing ``doc_id * 2^20 + start`` silently wrapped
    past 1M-token documents; the SQL oracle uses the same
    lexicographic rule via DuckDB ``MIN(ROW(doc_id, start))`` — r9
    ADVICE #2 — so the cross-engine differential covers the >2^20
    regime too, alongside the unit pin in
    test_strip_dup_spans_beyond_packing_bound). A span DELETES iff
    it contains no canonical window occurrence. Since each hash's
    canonical occurrence lives inside exactly one span, that span
    survives — so at least one copy of every repeated content is
    always kept (the Lee et al. keep-one guarantee), at the lowest
    doc_id / earliest position; spans whose extents differ between
    occurrences keep the canonical extent, the documented
    approximation of the suffix-array method's exact maximal repeats.

    Scale shape: islands as in dup_span_coverage (bounded per doc);
    the canonical argmin is one aggregation on the window hash; the
    deleted-span intervals per document are collect_list'd (bounded:
    <= n_tokens/length spans per doc) and the text reassembly is a
    NARROW indexed-lambda filter over the token array — the corpus
    token stream itself is never shuffled.

    Returns (doc_id, n_tokens, n_spans_deleted, n_removed,
    cleaned_md5) — one row per input doc; NULL/empty text reports
    zeros and the empty-text digest (the manifest contract).
    ``return_text=True`` appends `cleaned_text` (the reassembled
    string; NULL for NULL input) for pipeline composition."""
    from pyspark.sql.window import Window

    # Persist the duplicated-window stream: it has TWO consumers here
    # (the canonical argmin and the island pass), and each uncached
    # evaluation regenerates the full corpus window stream twice
    # (count pass + mark join) — 4 gram-hash passes per call. The
    # frame is the duplicated mass only (small by construction on a
    # clean corpus), so this is a bounded stage cache, unlike the
    # corpus-scale window stream dup_span_coverage deliberately
    # regenerates.
    dup = _dup_windows(docs, length, text_col).cache()
    # canonical occurrence per window hash: lexicographic min of
    # (doc_id, start) over ALL duplicated occurrences — struct MIN
    # orders by fields left-to-right, so this is exact at any
    # magnitude (no packing bound to wrap past)
    pos = F.struct(F.col("doc_id"), F.col("start"))
    canon = dup.groupBy("gh").agg(F.min(pos).alias("_canon"))
    # mark canonicity BEFORE the island window pass: _is_canon is a
    # per-occurrence fact, so joining on gh first keeps the plan at
    # ONE doc_id exchange (window + groupBy, partitioning-compatible)
    # instead of the doc_id -> gh -> doc_id exchange ping-pong the
    # join-after-islands order paid on the same dup-mass stream
    marked = dup.join(canon, "gh").withColumn(
        "_is_canon", (pos == F.col("_canon")).cast("int")
    )
    w_ord = Window.partitionBy("doc_id").orderBy("start")
    brk = F.when(
        F.lag("start").over(w_ord).isNull()
        | (F.col("start") > F.lag("start").over(w_ord) + (length - 1)),
        1,
    ).otherwise(0)
    isl = marked.withColumn("_brk", brk).withColumn(
        "_island",
        F.sum("_brk").over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = isl.groupBy("doc_id", "_island").agg(
        F.min("start").alias("s0"),
        (F.max("start") + (length - 1)).alias("e0"),
        F.max("_is_canon").alias("_kept"),
    )
    deleted = spans.where(F.col("_kept") == 0).select(
        "doc_id", "s0", "e0"
    )
    iv = deleted.groupBy("doc_id").agg(
        F.collect_list(F.struct("s0", "e0")).alias("_iv")
    )
    words = F.split(F.col(text_col), " ")
    in_deleted = lambda i: F.exists(  # noqa: E731 — tiny local predicate
        F.col("_iv"), lambda s: (i >= s["s0"]) & (i <= s["e0"])
    )
    cleaned = F.when(
        F.col("_iv").isNull(), words
    ).otherwise(F.filter(words, lambda w, i: ~in_deleted(i)))
    return (
        docs.select("doc_id", text_col)
        .join(iv, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.size(words), F.lit(0))
            .cast("bigint")
            .alias("n_tokens"),
            F.coalesce(F.size("_iv"), F.lit(0))
            .cast("bigint")
            .alias("n_spans_deleted"),
            (
                F.coalesce(F.size(words), F.lit(0))
                - F.coalesce(F.size(cleaned), F.lit(0))
            )
            .cast("bigint")
            .alias("n_removed"),
            F.md5(
                F.coalesce(F.array_join(cleaned, " "), F.lit(""))
            ).alias("cleaned_md5"),
            # the cleaned text itself, for pipeline composition
            # (training_corpus_spandedup feeds it to near-dup +
            # packing); NULL input text stays NULL — downstream
            # stages keep their own NULL contracts
            *(
                [F.array_join(cleaned, " ").alias("cleaned_text")]
                if return_text
                else []
            ),
        )
    )


# ---------------------------------------------------------------------------
# Passage-level hygiene: boilerplate removal & intra-document dedup.
#
# Web-corpus pipelines (C4, RefinedWeb, Gopher data cards) strip
# boilerplate at the LINE level — a line occurring in more than K
# documents is navigation/footer chrome, not content — and drop
# repeated passages within a document. The corpus here is a single
# word stream per document, so the unit is a fixed-width,
# NON-overlapping word chunk ("passage"): the same df-capped removal
# rule, the same first-occurrence intra-doc dedup, expressed on chunks.
# ---------------------------------------------------------------------------


def doc_chunk_array(col: Column, w: int) -> Column:
    """Non-overlapping w-word chunks of a single-space-tokenized text
    column, as array<string> (last chunk may be shorter). Pure
    arithmetic + higher-order built-ins — narrow, codegen'd. The
    filtered split is bound as a lambda variable (bind_array) so it
    materializes once per row instead of once per CHUNK (the
    HOF-capture pitfall — see word_ngrams)."""
    from bolson_spark.functions.text import bind_array

    def chunks_of(words: Column) -> Column:
        n_chunks = F.ceil(F.size(words) / F.lit(float(w))).cast("int")
        return _chunk_guard(words, n_chunks, w)

    return bind_array(
        F.filter(F.split(col, " "), lambda x: x != ""), chunks_of
    )


def _chunk_guard(words: Column, n_chunks: Column, w: int) -> Column:
    return F.when(
        F.size(words) > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda j: F.array_join(F.slice(words, j * w + 1, w), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def exploded_chunks(
    docs: DataFrame, w: int, text_col: str = "text"
) -> DataFrame:
    """(doc_id, idx, chunk) — one row per non-overlapping w-word chunk,
    idx 0-based in document order."""
    return explode_once(
        docs,
        ["doc_id"],
        doc_chunk_array(F.col(text_col), w),
        ["idx", "chunk"],
        pos=True,
    )


def boilerplate_removal(
    docs: DataFrame, w: int = 5, max_df: int = 2, text_col: str = "text"
) -> DataFrame:
    """Cross-document boilerplate strip (the C4 line rule on chunks):
    a chunk whose content occurs in MORE THAN `max_df` distinct
    documents is boilerplate; cleaned text = the surviving chunks in
    document order.

    Returns (doc_id, n_chunks, n_boilerplate, cleaned_md5) — counts
    plus a digest of the reassembled text so the removal itself sits
    under the value-hash gate. ONE ROW PER INPUT DOC (the manifest
    contract decontaminate and dup_ngram_fraction keep): a doc with
    no chunks (empty/whitespace/NULL text) reports n_chunks=0 and the
    empty-text digest instead of silently vanishing from the output.

    100 TB posture: the chunk stream is generated TWICE (one pass for
    the df aggregation on uniform md5 chunk keys, one for the marking
    join + per-doc aggregation — no third totals pass); the frequent
    set is tiny by construction (df > max_df chunks are precisely the
    repetitive mass) and joins back as an AQE-selected broadcast left
    join, never a shuffle of reassembled text; counts and first-order
    reassembly come from ONE map-side-combinable aggregation keyed by
    doc_id (``collect_list`` skips nulls, so the kept-chunk list falls
    out of the same pass that counts boilerplate hits).
    """
    chunks = exploded_chunks(docs, w, text_col).withColumn(
        "chash", F.md5(F.col("chunk"))
    )
    frequent = (
        chunks.select("doc_id", "chash")
        .distinct()
        .groupBy("chash")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_df)
        .select("chash", F.lit(1).alias("_boiler"))
    )
    marked = chunks.join(frequent, "chash", "left")
    per_doc = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.coalesce(F.col("_boiler"), F.lit(0))).alias(
            "n_boilerplate"
        ),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_boiler").isNull(),
                            F.struct("idx", "chunk"),
                        )
                    )
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("cleaned"),
    )
    # restore zero-chunk docs: posexplode emitted no row for them, so
    # the per-doc aggregate has no group — the left join from the doc
    # list keeps the one-row-per-doc manifest contract
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_chunks"), F.lit(0))
        .cast("bigint")
        .alias("n_chunks"),
        F.coalesce(F.col("n_boilerplate"), F.lit(0))
        .cast("bigint")
        .alias("n_boilerplate"),
        F.md5(F.coalesce(F.col("cleaned"), F.lit(""))).alias(
            "cleaned_md5"
        ),
    )


def intra_doc_dedup(
    docs: DataFrame, w: int = 5, text_col: str = "text"
) -> DataFrame:
    """Within-document repeated-passage removal: keep the FIRST
    occurrence of each distinct w-word chunk, preserving document
    order (`array_distinct` is order-preserving). Returns
    (doc_id, n_chunks, n_distinct, dup_fraction, cleaned_md5).

    100 TB posture: a pure narrow map — zero shuffles, whole-stage
    codegen end to end; the text never leaves its input partition.
    """
    # NOT spread (measured, r10): non-overlapping w-chunks are ~1/w of
    # the stride-1 window volume — the exchange costs more than the
    # single-split serialism it removes (0.31 -> 0.37 s)
    chunks = doc_chunk_array(F.col(text_col), w)
    dedup = F.array_distinct(chunks)
    return docs.select(
        "doc_id",
        F.size(chunks).cast("bigint").alias("n_chunks"),
        F.size(dedup).cast("bigint").alias("n_distinct"),
        F.round(
            F.when(
                F.size(chunks) > 0,
                1.0 - F.size(dedup) / F.size(chunks).cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_fraction"),
        F.md5(F.array_join(dedup, " ")).alias("cleaned_md5"),
    )
