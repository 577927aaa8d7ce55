"""Streaming corpus ingestion with a PERSISTENT dedup ledger —
exactly-once acceptance of new document content across micro-batches
AND across stream restarts.

The in-query `dropDuplicates` + watermark pattern (see
test_streaming's cross-micro-batch dedup) only remembers what the
RUNNING query has seen; a real ingest pipeline must reject content
that was accepted in any PREVIOUS run. That memory is the ledger: a
parquet table of accepted content fingerprints, partitioned by the
micro-batch id that accepted them.

Exactly-once without transactions: ``foreachBatch`` may REPLAY a
batch after a crash (same batch_id, same input). Every write here is
keyed by (run, batch) — the run id is minted once per CHECKPOINT
LINEAGE (persisted in the checkpoint dir, so same-checkpoint restarts
and crash replays keep it), and accepted docs land in
``accepted/run=<r>/batch=<id>/``
with ledger rows in ``ledger/run=<r>/batch=<id>/`` via dynamic
partition overwrite — so a replay overwrites its own partition with
identical content instead of double-appending. Acceptance anti-joins
the batch against the ledger-as-of-everything-prior: all rows from
OTHER runs plus this run's batches < current batch_id. Keying by run
(not batch ordinal alone) is what makes restarts safe: a restart with
a fresh checkpoint dir restarts batch_id at 0, and a batch-only filter
(``batch < 0``) would bypass the entire prior ledger while the dynamic
overwrite clobbered the prior run's ``batch=0`` partitions — duplicate
acceptance plus silent data loss. With run namespacing the prior run's
rows are always consulted and never overwritten.

Scale shape: the ledger is a 2-column (fingerprint, batch) table;
the per-batch anti-join shuffles only fingerprints and is
AQE-selected (broadcast while the ledger is small, sort-merge once it
isn't). A per-run BLOOM PREFILTER (built once per stream start over
the prior-ledger snapshot: xxhash64 positions + bit_or word
aggregation, packed into one driver bitmap shipped as a broadcast
variable, probed by a shuffle-free Arrow-vectorized gather) routes
definitely-new fingerprints around the prior-ledger anti-join, so the
exact join runs only over the maybe-subset (true dups + ~1% false
positives) — see build_bloom_words / build_bloom_bitmap /
bloom_maybe_contains.
"""

from __future__ import annotations

import os


import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _ledger_before(
    spark: SparkSession, ledger_dir: str, run_id: str, batch_id: int
) -> DataFrame | None:
    """Ledger rows accepted strictly before (run_id, batch_id): every
    other run's rows, plus this run's earlier batches. A replay's own
    (run, batch) partition is overwritten, never consulted."""
    if not os.path.isdir(ledger_dir):
        return None
    try:
        led = spark.read.parquet(ledger_dir)
    except Exception:
        # Swallow ONLY the effectively-empty case (first batch, or a
        # crash that left nothing but _temporary/.spark-staging debris
        # — hidden entries are excluded from parquet reads, so they
        # must not wedge the replay). A ledger with REAL partitions
        # that fails to read must raise: silently returning None would
        # bypass dedup and re-accept every fingerprinted document.
        if not _has_real_entries(ledger_dir):
            return None
        raise
    return led.where(
        (F.col("run") != run_id) | (F.col("batch") < batch_id)
    )


def _has_real_entries(path: str) -> bool:
    """True if `path` holds DATA FILES a parquet read would actually
    see. Staging/metadata debris (_temporary, .spark-staging-*,
    _SUCCESS, .crc) is invisible to the reader and must not count —
    and neither must an EMPTY partition directory tree (a crash after
    the run=/batch= rename but before any file landed): both states
    hold zero rows, so reading them as None self-heals the replay."""
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        if any(not f.startswith(("_", ".")) for f in files):
            return True
    return False


def _index_before(
    spark: SparkSession, index_dir: str, run_id: str, batch_id: int
) -> DataFrame | None:
    """Accumulated-index rows accepted strictly before (run_id,
    batch_id) — same consultation rule as the ledger."""
    if not os.path.isdir(index_dir):
        return None
    try:
        idx = spark.read.parquet(index_dir)
    except Exception:
        # same rule as the ledger: only an effectively-empty dir reads
        # as None; a populated index that fails to read must raise, or
        # the near-dup gate would silently accept every duplicate
        if not _has_real_entries(index_dir):
            return None
        raise
    return idx.where(
        (F.col("run") != run_id) | (F.col("batch") < batch_id)
    )


BLOOM_K = 5  # hash functions; with bits ~= 10x items, fpp ~= 0.9%


def _bloom_positions(fp_col, n_bits: int):
    """Array of BLOOM_K bit positions for a fingerprint — pure codegen
    (xxhash64 seeded by the probe index via tuple-hashing)."""
    return F.array(
        *[
            F.pmod(F.xxhash64(fp_col, F.lit(s)), F.lit(n_bits))
            for s in range(BLOOM_K)
        ]
    )


# Hard cap on the bitmap's size: 2^33 bits = 1 GiB packed — a safe
# one-time driver allocation + broadcast. At the designed 10 bits/item
# this covers ~860M ledger items at ~1% fpp; beyond that the filter
# saturates GRACEFULLY (fpp rises, so more exact-probe traffic, but
# never a false negative — routing correctness is untouched).
BLOOM_MAX_BITS = 1 << 33


def build_bloom_words(fps: DataFrame, n_bits: int) -> DataFrame:
    """Distributed Bloom filter build: (word_idx, word) rows — the
    bitset packed into 64-bit words via a bit_or aggregation. One scan
    of the fingerprint set; the result is at most n_bits/64 rows (at
    10 bits/item, ~16 MB of words per 100M fingerprints), which
    `build_bloom_bitmap` packs on the driver."""
    pos = fps.select(
        F.explode(_bloom_positions(F.col("fingerprint"), n_bits)).alias("p")
    )
    # shiftleft/shiftright take a Python-int bit count in the classic
    # column API, so the per-row shifts are SQL expressions
    return pos.groupBy((F.col("p") / 64).cast("long").alias("word_idx")).agg(
        F.bit_or(F.expr("shiftleft(1L, cast(p % 64 as int))")).alias("word")
    )


def build_bloom_bitmap(bloom_words: DataFrame, n_bits: int):
    """Pack the (word_idx, word) table into ONE driver-side uint64
    bitmap: the transfer is BOUNDED by n_bits/64 rows (the bitmap size
    chosen up front, itself capped at BLOOM_MAX_BITS), never by ledger
    cardinality, and the packed array ships to executors once as a
    broadcast variable. The fill is Arrow-vectorized (toPandas +
    fancy-index scatter), so hundreds of millions of word rows do not
    pin the driver in a per-row Python loop."""
    import numpy as np

    arr = np.zeros((n_bits + 63) // 64, dtype=np.uint64)
    pdf = bloom_words.toPandas()  # Arrow path (arrow.pyspark.enabled)
    if len(pdf):
        idx = pdf["word_idx"].to_numpy(dtype=np.int64)
        # bit_or aggregated int64 words reinterpret bit-exactly as uint64
        arr[idx] = pdf["word"].to_numpy(dtype=np.int64).view(np.uint64)
    return arr


def bloom_maybe_contains(
    batch: DataFrame, bitmap_bc, n_bits: int, fp_col: str = "fingerprint"
) -> DataFrame:
    """Adds a `_bloom_maybe` flag against a broadcast packed bitmap
    (from :func:`build_bloom_bitmap`): False means DEFINITELY not in
    the set the Bloom was built over, True means probe the exact
    store. Bit positions are computed JVM-side (same xxhash64
    expressions as the build — no false negatives by construction,
    and a NULL fingerprint has well-defined positions too), then ONE
    Arrow-vectorized pandas UDF gathers all BLOOM_K bits per row. A
    pure narrow map: no explode, no join, no groupBy — the probe adds
    no shuffle at any ledger size."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def _all_set(pos: pd.Series) -> pd.Series:
        if not len(pos):
            return pd.Series([], dtype=bool)
        bm = bitmap_bc.value
        mat = np.vstack(pos.values).astype(np.int64)  # rows x BLOOM_K
        bits = (bm[mat // 64] >> (mat % 64).astype(np.uint64)) & np.uint64(1)
        return pd.Series(bits.all(axis=1))

    return batch.withColumn(
        "_bloom_maybe", _all_set(_bloom_positions(F.col(fp_col), n_bits))
    )


def _near_dup_gate(
    sp: SparkSession,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    bands_dir: str,
    toks_dir: str,
    run_id: str,
    batch_id: int,
    in_batch: bool = False,
) -> tuple[DataFrame, list[tuple[DataFrame, str]], list[DataFrame]]:
    """Probe the batch's exact-gate survivors against the accumulated
    MinHash index of previously accepted docs. Returns (gated batch,
    pending index writes as (frame, out_dir) pairs, cached frames for
    the caller to unpersist after its writes).

    ``in_batch=True`` additionally cross-gates near-dups WITHIN the
    micro-batch (keep the lowest doc id per near-dup component, using
    the batch's own already-prepped minhash frames — no re-hashing);
    off by default, matching the standard streaming compromise where
    the first ACCEPTED copy gates later batches only. Cost is bounded
    by the batch: a banded self-join over the survivors plus a
    connected-components pass on the (small) in-batch pair list.

    The index writes are RETURNED, not performed: the caller must land
    them only AFTER the accepted+ledger writes succeed. Writing the
    index first opens a data-loss window — a crash after the index
    write but before the accepted write, followed by a FRESH-checkpoint
    restart (new run id, so the replayed (run,batch) partition is NOT
    overwritten), leaves phantom index rows for docs that were never
    accepted; the re-arriving doc passes the exact gate (no ledger row)
    but self-matches its own phantom rows at J=1.0 and is silently
    dropped forever. With index-last ordering the same crash instead
    yields accepted-but-unindexed docs, which the exact fingerprint
    gate still rejects on re-arrival — a missed near-dup index entry,
    never lost data."""
    from bolson_spark.functions.dedup import (
        DEFAULT_NUM_HASHES,
        _minhash_prep,
        _minhash_probe_gate,
        choose_bands,
    )

    n_bands = choose_bands(DEFAULT_NUM_HASHES, threshold)
    delta = (
        batch.withColumnRenamed(id_col, "doc_id")
        if id_col != "doc_id"
        else batch
    ).cache()
    caches = [delta]
    # already_spread: the micro-batch arrives pre-split by the
    # streaming source, and the per-batch steady-state path must not
    # pay _spread's driver-side physical-planning probe on every batch
    # cache=False: the micro-batch cache list below must own every
    # persisted frame; d_toks/d_bands recompute from the cached delta
    d_toks, d_bands = _minhash_prep(
        delta,
        text_col,
        DEFAULT_NUM_HASHES,
        n_bands,
        already_spread=True,
        cache=False,
    )
    c_bands = _index_before(sp, bands_dir, run_id, batch_id)
    c_toks = (
        _index_before(sp, toks_dir, run_id, batch_id)
        if c_bands is not None
        else None
    )
    # both halves of the index must be readable — a crash between the
    # two index writes must not wedge the stream on a half-index
    if c_bands is not None and c_toks is not None:
        gate = _minhash_probe_gate(
            c_toks.select("doc_id", "toks", "n_toks"),
            c_bands.select("doc_id", "band", "band_key", "n_toks"),
            d_toks,
            d_bands,
            delta.select("doc_id"),
            threshold,
        )
        keep = gate.where(F.col("accepted")).select("doc_id")
        delta_kept = delta.join(keep, "doc_id", "left_semi").cache()
        caches.append(delta_kept)
    else:
        delta_kept = delta
    if in_batch:
        from bolson_spark.functions.dedup import (
            _verified_pairs_prepped,
            connected_components,
        )

        kept_now = delta_kept.select("doc_id")
        # guard=False: the in-batch pair volume is bounded by the
        # micro-batch trigger size, and the steady-state per-batch
        # path must not pay the guard's driver-side planning probe
        pairs = _verified_pairs_prepped(
            d_toks.join(kept_now, "doc_id", "left_semi"),
            d_bands.join(kept_now, "doc_id", "left_semi"),
            threshold,
            guard=False,
        )
        dupes = (
            connected_components(pairs)
            .where(F.col("node") != F.col("representative"))
            .select(F.col("node").alias("doc_id"))
        )
        delta_kept = delta_kept.join(dupes, "doc_id", "left_anti").cache()
        caches.append(delta_kept)
    kept_ids = delta_kept.select("doc_id")
    pending_index_writes = [
        (df.join(kept_ids, "doc_id", "left_semi"), out)
        for df, out in ((d_bands, bands_dir), (d_toks, toks_dir))
    ]
    out_batch = (
        delta_kept.withColumnRenamed("doc_id", id_col)
        if id_col != "doc_id"
        else delta_kept
    )
    return out_batch, pending_index_writes, caches


def run_stream_ingest(
    spark: SparkSession,
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    near_dup_threshold: float | None = None,
    in_batch_near_dedup: bool = False,
):
    """Start the ingest stream: accept documents whose content
    fingerprint is new vs. the persistent ledger, write accepted docs
    and ledger entries partitioned by batch id. Returns the
    StreamingQuery; drain with processAllAvailable().

    ``near_dup_threshold`` upgrades the gate from exact-content to
    NEAR-duplicate rejection: each batch's survivors of the exact
    anti-join are additionally probed (banded MinHash, exact Jaccard
    verify) against the ACCUMULATED index of previously accepted
    documents' band rows and token sets, persisted next to the ledger
    under the same (run, batch) partitioning — so replays stay
    idempotent and fresh-checkpoint restarts still consult every prior
    run. Accepted docs append their own band rows/token sets to the
    index; the per-batch cost is O(batch + matched buckets), never a
    rescan of the accepted corpus. Near-dups WITHIN one micro-batch
    are not cross-gated by default (the standard streaming compromise
    — the first accepted copy gates all later batches); pass
    ``in_batch_near_dedup=True`` to close that window too (lowest doc
    id per in-batch near-dup component wins, batch-bounded cost)."""
    from bolson_spark.streaming.util import (
        require_run_partitioned,
        run_id_for_checkpoint,
        write_run_batch,
    )

    accepted_dir = os.path.join(out_dir, "accepted")
    ledger_dir = os.path.join(out_dir, "ledger")
    index_bands_dir = os.path.join(out_dir, "mh_bands")
    index_toks_dir = os.path.join(out_dir, "mh_toks")
    for d in (ledger_dir, accepted_dir):
        require_run_partitioned(d)
    # One run id per CHECKPOINT LINEAGE, persisted inside the
    # checkpoint dir (the same pattern as pipeline.py's seq base): a
    # crash-restart on the same checkpoint replays its batches under
    # the SAME run id, so dynamic partition overwrite rewrites the
    # partial partitions instead of duplicating them in a new run —
    # and the consultation filter (run != run OR batch < current)
    # correctly excludes the replayed batch's own stale rows (a fresh
    # per-call uuid would self-match replayed docs against their own
    # index rows and silently drop them). A fresh checkpoint dir mints
    # a new id, so prior runs' partitions are consulted, not clobbered.
    run_id = run_id_for_checkpoint(checkpoint_dir, "bolson_ingest_run_id")

    # Bloom prefilter over the PRIOR ledger snapshot (every run except
    # this one), built ONCE per stream start — one ledger scan
    # amortized over all of this run's batches. Per batch, fingerprints
    # the Bloom rules out are DEFINITELY new (no false negatives) and
    # skip the prior-ledger anti-join entirely; only the maybe-subset
    # (true dups + ~1% fp noise) probes the exact ledger. This run's
    # own earlier batches are not in the snapshot, so every row still
    # anti-joins against them — that side is one run's worth of rows,
    # not the historical corpus. Single-writer assumption (already
    # required by the dynamic-partition overwrite protocol): no other
    # run appends to the ledger while this stream lives, so the
    # snapshot Bloom stays a superset of the prior ledger. The words
    # pack into a driver bitmap shipped ONCE as a broadcast variable.
    prior_bloom: tuple[object, int] | None = None
    led0 = _ledger_before(spark, ledger_dir, run_id, 0)
    if led0 is not None:
        prior0 = led0.where(F.col("run") != run_id).select("fingerprint")
        n_prior = prior0.count()
        if n_prior:
            n_bits = min(
                BLOOM_MAX_BITS,
                max(1 << 14, 1 << (10 * n_prior).bit_length()),
            )
            bitmap_bc = spark.sparkContext.broadcast(
                build_bloom_bitmap(build_bloom_words(prior0, n_bits), n_bits)
            )
            prior_bloom = (bitmap_bc, n_bits)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        # coalesce NULL text to "": md5(NULL) is NULL, and a NULL key
        # never matches in the ledger anti-join, so a NULL-text doc
        # would be accepted again in every batch. Empty-content docs
        # dedup among themselves under the md5("") fingerprint.
        fp = F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias(
            "fingerprint"
        )
        batch = batch_df.select(fp, F.col(id_col), F.col(text_col))
        # one keeper per fingerprint within the batch (deterministic)
        batch = (
            batch.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("fingerprint").orderBy(id_col)
                ),
            )
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        led = _ledger_before(sp, ledger_dir, run_id, batch_id)
        extra_caches: list[DataFrame] = []
        if led is not None:
            if prior_bloom is not None:
                bitmap_bc, n_bits = prior_bloom
                prior_led = led.where(F.col("run") != run_id)
                this_led = led.where(F.col("run") == run_id)
                # cache: BOTH union branches reference `flagged` — an
                # un-cached split re-executes the batch dedup shuffle
                # and the Bloom probe once per branch
                flagged = bloom_maybe_contains(batch, bitmap_bc, n_bits).cache()
                extra_caches.append(flagged)
                fresh = flagged.where(~F.col("_bloom_maybe")).drop(
                    "_bloom_maybe"
                )
                maybe = (
                    flagged.where(F.col("_bloom_maybe"))
                    .drop("_bloom_maybe")
                    .join(
                        prior_led.select("fingerprint"),
                        "fingerprint",
                        "left_anti",
                    )
                )
                batch = fresh.unionByName(maybe).join(
                    this_led.select("fingerprint"), "fingerprint", "left_anti"
                )
            else:
                batch = batch.join(
                    led.select("fingerprint"), "fingerprint", "left_anti"
                )
        gate_caches: list[DataFrame] = []
        index_writes: list[tuple[DataFrame, str]] = []
        if near_dup_threshold is not None:
            batch, index_writes, gate_caches = _near_dup_gate(
                sp,
                batch,
                text_col,
                id_col,
                near_dup_threshold,
                index_bands_dir,
                index_toks_dir,
                run_id,
                batch_id,
                in_batch=in_batch_near_dedup,
            )
        batch = batch.cache()
        write_run_batch(
            batch.select(id_col, text_col, "fingerprint"),
            accepted_dir,
            run_id,
            batch_id,
        )
        write_run_batch(
            batch.select("fingerprint"), ledger_dir, run_id, batch_id
        )
        # Index partitions land LAST (see _near_dup_gate's docstring):
        # a crash before this point leaves accepted-but-unindexed docs,
        # which the exact fingerprint gate still rejects on re-arrival;
        # the reverse ordering would let phantom index rows silently
        # drop never-accepted docs after a fresh-checkpoint restart.
        for df, out in index_writes:
            write_run_batch(df, out, run_id, batch_id)
        batch.unpersist()
        for c in gate_caches:
            c.unpersist()
        for c in extra_caches:
            c.unpersist()

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def compact_ingest_state(
    spark: SparkSession, out_dir: str, checkpoint_dir: str
) -> dict:
    """Collapse the ingest run's COMMITTED (run, batch) ledger and
    near-dup index partitions into one merged partition each — the
    maintenance step that keeps the per-batch anti-join/probe read
    cost O(state size), not O(batches), over a long-lived ingest
    (the monitor-state compaction discipline applied to the ledger).

    Safety argument, in the ledger's own terms:

    - The consultation rule is `run != r OR batch < b`, and every
      consumer treats the rows as a SET (anti-join on fingerprint;
      distinct banded candidates + row_number best-match in the
      near-dup gate) — duplicate rows change no decision. So
      compaction is write-merged-THEN-delete, crash-safe at every
      window exactly like the HLL register compactor: a partial
      merged partition coexisting with the originals is just
      duplicates.
    - The merged partition lands under a fresh NEGATIVE batch id:
      always strictly before any real batch (so every future batch
      consults it), never the overwrite target of a replay (stream
      batch ids are >= 0), and never reused across attempts (a
      partially-written previous target is folded as INPUT, not
      overwritten after its originals are gone).
    - Only batches at or below the checkpoint's COMMIT HORIZON are
      folded (batches commit sequentially, so the newest commit-log
      id bounds the committed set even after Spark purges old log
      entries): the one possibly-replayable batch (written, commit
      lost) sits above the horizon and must keep its own partition —
      folding it would make its replay (a) consult its own rows via
      `batch < b` and reject every doc as a duplicate, then
      (b) dynamic-overwrite its accepted/ partition with that empty
      result. Committed batches can never replay.

    Accepted payload partitions are deliberately NOT touched — they
    are output data, not consultation state (compact them with the
    layout tools if small files matter there). Same single-writer
    rule as the stream itself: run this between streams on the same
    checkpoint lineage, not concurrently with one.

    Returns a per-table report dict."""
    from bolson_spark.streaming.util import (
        batch_partition_ids,
        commit_horizon,
        read_run_id,
        remove_batch_partition,
        write_run_batch,
    )

    run_id = read_run_id(checkpoint_dir, "bolson_ingest_run_id")
    # the HORIZON, not a membership set: Spark purges old commit-log
    # entries, and batches commit sequentially — see commit_horizon
    horizon = commit_horizon(checkpoint_dir)
    report: dict[str, dict] = {}
    for sub in ("ledger", "mh_bands", "mh_toks"):
        state_dir = os.path.join(out_dir, sub)
        if not os.path.isdir(state_dir):
            report[sub] = {"compacted": False, "folded": 0}
            continue
        batches = batch_partition_ids(state_dir, run_id)
        # fold = committed real batches + any previous compactions
        fold = [b for b in batches if b <= horizon]
        if len(fold) <= 1:
            report[sub] = {"compacted": False, "folded": len(fold)}
            continue
        gen = max((-b for b in batches if b < 0), default=0)
        merged = (
            spark.read.parquet(state_dir)
            .where(F.col("run") == run_id)
            .where(F.col("batch").isin(fold))
            .drop("run", "batch")
        )
        write_run_batch(merged, state_dir, run_id, -(gen + 1))
        for b in fold:
            remove_batch_partition(state_dir, run_id, b)
        report[sub] = {
            "compacted": True,
            "folded": len(fold),
            "gen": gen + 1,
        }
    return report
