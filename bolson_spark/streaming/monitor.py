"""Streaming cardinality monitoring: a per-batch HyperLogLog register
sink whose merged state answers "how many distinct keys has this
stream ingested, per group and overall" at any moment — without ever
re-scanning the ingested data.

Why registers are the RIGHT streaming state: bucket-wise MAX is
idempotent, commutative, and associative, so
- a REPLAYED micro-batch (foreachBatch's crash contract) merges to
  the exact same state — idempotent by algebra, with the (run, batch)
  dynamic-overwrite key kept anyway so the state table stays
  evidence-grade (no duplicate rows to explain);
- batches merge in ANY order — reading the state table needs no
  sequencing, just groupBy(bucket).max(rho);
- the state is O(runs x batches x groups x 2^p) rows of 3 integers,
  INDEPENDENT of stream volume — the entire corpus-scale term stays
  in the per-batch register build (one partial-aggregating groupBy of
  the batch, <= groups x 2^p rows out per task before the exchange).

This is the streaming twin of functions/sketch.py::hll_union and is
checked against it bit-for-bit in
test_streaming.py::test_cardinality_monitor_matches_batch_hll
(arbitrary micro-batch splits) — the same batch-fold-parity standard
as the ingest ledger and sessionize tests.

Reference parity: the metrics the reference publishes per stream
(src/bolson/stream.cpp, counts merged across converter threads) are
sums; distinct-key monitoring needs mergeable sketch state instead —
same merge-partials architecture, algebraic MAX instead of +.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# HASH_BITS must be the register-builder's own constant — a local copy
# could silently desync the read-time s_int scaling from the rho values
# hll_registers wrote
from bolson_spark.functions.sketch import HASH_BITS, _hll_estimate
from bolson_spark.streaming.util import (
    batch_partition_ids,
    read_run_id,
    remove_batch_partition,
    run_id_for_checkpoint,
    run_partition_ids,
    write_run_batch,
)


def _registers_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "hll_registers")


# The (run, batch)-partitioned sketch layout is load-bearing across
# restarts and compactions: stamp its format version beside the state
# so a FUTURE layout change can't silently misread old state (the
# sink.py:67 schema-handshake discipline applied to monitor state).
STATE_FORMAT_VERSION = "1"


def _stamp_state_version(state_dir: str) -> None:
    """Writer side: record the layout version on first write, refuse to
    keep writing a layout this code no longer produces."""
    os.makedirs(state_dir, exist_ok=True)
    path = os.path.join(state_dir, "_bolson_state_version")
    if os.path.exists(path):
        _verify_state_version(state_dir)
        return
    with open(path, "w") as f:
        f.write(STATE_FORMAT_VERSION)


def _verify_state_version(state_dir: str) -> None:
    """Reader/compactor side: refuse a mismatched layout version. A
    missing stamp (state written before versioning existed) is
    accepted — it IS version-1 layout by construction."""
    path = os.path.join(state_dir, "_bolson_state_version")
    if not os.path.exists(path):
        return
    with open(path) as f:
        have = f.read().strip()
    if have != STATE_FORMAT_VERSION:
        raise ValueError(
            f"monitor state {state_dir!r} is layout version {have!r}; "
            f"this code reads/writes version {STATE_FORMAT_VERSION!r} — "
            "migrate or use a matching reader instead of misreading it"
        )


def _pin_state_params(state_dir: str, want: str, what: str) -> None:
    """Pin the sketch parameters BESIDE the state they shaped (the
    `_pin_hist_bounds` idiom, generalized): the first write records
    them, every later write AND read verifies. Registers built under
    p=6 merged as p=7, or a w_cells=64 grid probed with w_cells=256
    hashes, produce plausible-looking but wrong — possibly
    UNDER-counting — estimates; the pin makes the mismatch loud
    instead. The filename is underscore-prefixed so Spark's file index
    ignores it inside the parquet dir."""
    os.makedirs(state_dir, exist_ok=True)
    path = os.path.join(state_dir, "_bolson_params")
    if os.path.exists(path):
        with open(path) as f:
            have = f.read().strip()
        if have != want:
            raise ValueError(
                f"{what}: sketch params {want!r} do not match the "
                f"{have!r} this state was built under ({state_dir!r}) "
                "— estimates merged/probed across mismatched params "
                "are silently wrong; use a fresh state dir to change "
                "them"
            )
        return
    with open(path, "w") as f:
        f.write(want)


def _verify_state_params(state_dir: str, want: str, what: str) -> None:
    """Read-side param check: verify against the pin when one exists
    (states written before pinning existed are accepted as-is —
    verification can't conjure the provenance they never recorded)."""
    path = os.path.join(state_dir, "_bolson_params")
    if not os.path.exists(path):
        return
    with open(path) as f:
        have = f.read().strip()
    if have != want:
        raise ValueError(
            f"{what}: requested sketch params {want!r} do not match "
            f"the {have!r} this state was built under ({state_dir!r})"
        )


def _write_state_batch(
    state: DataFrame, state_dir: str, run_id: str, batch_id: int
) -> None:
    """The ONE definition of the idempotent state write shared by all
    three monitors: sketch-sized rows land under (run, batch) via
    dynamic partition overwrite, so a replayed batch rewrites its own
    partition. repartition(1): every state frame here is bounded by
    construction (registers/cells/bins), one file per batch."""
    _stamp_state_version(state_dir)
    write_run_batch(state.repartition(1), state_dir, run_id, batch_id)


def write_hll_batch(
    batch_df: DataFrame,
    out_dir: str,
    run_id: str,
    batch_id: int,
    key_col: str,
    group_col: str,
    p: int = 6,
) -> None:
    """One micro-batch's HLL registers -> state. Exposed so a caller
    composing several monitors over ONE stream (cli.py monitor) can
    fan the same foreachBatch into all of them — one scan, not one
    scan per monitor."""
    from bolson_spark.functions.sketch import hll_registers

    _pin_state_params(_registers_dir(out_dir), f"p={p}", "write_hll_batch")
    regs = hll_registers(batch_df, key_col, group_col, p).select(
        F.col(group_col).alias("grp"), "bucket", "rho"
    )
    _write_state_batch(regs, _registers_dir(out_dir), run_id, batch_id)


def write_cm_batch(
    batch_df: DataFrame,
    out_dir: str,
    run_id: str,
    batch_id: int,
    key_col: str,
    d: int = 4,
    w_cells: int = 256,
) -> None:
    """One micro-batch's count-min grid -> state (see write_hll_batch
    for why this is exposed)."""
    from bolson_spark.functions.sketch import md5_draw

    _pin_state_params(
        _cm_dir(out_dir), f"d={d}:w={w_cells}", "write_cm_batch"
    )
    hashes = [
        F.pmod(md5_draw(F.col(key_col), f"cm{j}"), F.lit(w_cells))
        for j in range(d)
    ]
    grid = (
        batch_df.select(F.posexplode(F.array(*hashes)).alias("j", "c"))
        .groupBy("j", "c")
        .agg(F.count(F.lit(1)).alias("cell_count"))
    )
    _write_state_batch(grid, _cm_dir(out_dir), run_id, batch_id)


def write_hist_batch(
    batch_df: DataFrame,
    out_dir: str,
    run_id: str,
    batch_id: int,
    value_col: str,
    group_col: str,
    bounds: tuple[int, int],
    n_bins: int = 256,
) -> None:
    """One micro-batch's histogram bins -> state (see write_hll_batch
    for why this is exposed). Callers must pin the bounds per
    checkpoint lineage via _pin_hist_bounds first."""
    from bolson_spark.functions.sketch import _hist_bucket, _hist_clamped

    vmin, vmax = bounds
    _pin_state_params(
        _hist_dir(out_dir), f"{vmin}:{vmax}:{n_bins}", "write_hist_batch"
    )
    bucket = _hist_bucket(vmin, vmax - vmin + 1, n_bins)
    # NULL values carry no rank information: unfiltered they'd bin to a
    # NULL bucket that sorts FIRST in the cumulative merge and still
    # counts toward n — silently skewing every quantile (same rule as
    # the batch sketch, hist_quantiles)
    vals = (
        batch_df.select(
            F.col(group_col).alias("grp"),
            F.col(value_col).cast("bigint").alias("v"),
        )
        .where(F.col("v").isNotNull())
        .withColumn("_vb", _hist_clamped(vmin, vmax))
    )
    grid = vals.groupBy("grp", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    _write_state_batch(grid, _hist_dir(out_dir), run_id, batch_id)


def _pin_hist_bounds(
    checkpoint_dir: str, bounds: tuple[int, int], n_bins: int
) -> None:
    """Persist (vmin, vmax, n_bins) beside the checkpoint's run id and
    REFUSE a restart that changes them: bins computed under different
    edges mean different value ranges, and the cell-wise SUM merge
    would combine them into plausible-looking but wrong quantiles —
    the run-id file makes the replayed batches land in the same run,
    so edge consistency within the lineage is load-bearing."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    want = f"{bounds[0]}:{bounds[1]}:{n_bins}"
    path = os.path.join(checkpoint_dir, "bolson_hist_bounds")
    if os.path.exists(path):
        with open(path) as f:
            have = f.read().strip()
        if have != want:
            raise ValueError(
                f"histogram monitor bounds changed across restarts of "
                f"checkpoint {checkpoint_dir!r}: pinned {have!r}, got "
                f"{want!r} — use a fresh checkpoint+state dir to rebin"
            )
        return
    with open(path, "w") as f:
        f.write(want)


def run_stream_cardinality_monitor(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key_col: str,
    group_col: str,
    p: int = 6,
):
    """Start the monitor: each micro-batch's (group, bucket, rho)
    registers land in ``hll_registers/run=<r>/batch=<id>/`` via
    dynamic partition overwrite (replays overwrite, restarts on the
    same checkpoint reuse the run id — the util.run_id_for_checkpoint
    idiom). Returns the StreamingQuery."""
    run_id = run_id_for_checkpoint(checkpoint_dir, "bolson_monitor_run_id")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        write_hll_batch(
            batch_df, out_dir, run_id, batch_id, key_col, group_col, p
        )

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def cardinality_estimates(
    spark: SparkSession,
    out_dir: str,
    p: int = 6,
    total_label: str = "ALL",
) -> DataFrame:
    """Merge the accumulated register state into per-group + overall
    distinct-count estimates. Touches ONLY the register table (3-int
    rows, volume-independent); output schema matches hll_union minus
    the exact-count accuracy column (there is no cheap exact count
    over a stream's history — that absence is the sketch's reason to
    exist). The merge deliberately spans ALL runs: MAX is idempotent,
    so a fresh-checkpoint restart that re-ingests the same source
    merges its registers into the old runs' without double-counting —
    the algebra absorbs what the count-min twin needs a run filter
    for. Output: (scope, occupied, hll_estimate)."""
    return cardinality_estimates_union(
        spark, [out_dir], p=p, total_label=total_label
    )


def cardinality_estimates_union(
    spark: SparkSession,
    out_dirs: list[str],
    p: int = 6,
    total_label: str = "ALL",
) -> DataFrame:
    """Distinct-count estimates over the UNION of several monitor
    states — the cross-source/cross-stream cardinality audit ("how
    many distinct tokens across ALL crawls"), answered without ever
    re-scanning any stream: register MAX is associative across state
    dirs exactly as it is across micro-batches, so merging N monitors'
    registers is bit-identical to one monitor having ingested the
    concatenation (tested). Every state must have been built under the
    SAME p (the pins refuse otherwise — mixed-p registers merge into
    garbage). Output: (scope, occupied, hll_estimate)."""
    if not out_dirs:
        raise ValueError("cardinality_estimates_union: no state dirs")
    dirs = [_registers_dir(d) for d in out_dirs]
    for sd in dirs:
        _verify_state_version(sd)
        _verify_state_params(sd, f"p={p}", "cardinality_estimates_union")
    k = HASH_BITS - p + 1
    # one read per state dir (a single multi-path read would try to
    # reconcile each dir's independent run=/batch= partition discovery
    # and refuse); the union is register rows only, never data
    from functools import reduce

    src = reduce(
        lambda a, b: a.unionByName(b),
        [
            spark.read.parquet(sd).select("grp", "bucket", "rho")
            for sd in dirs
        ],
    )
    regs = src.groupBy("grp", "bucket").agg(F.max("rho").alias("rho"))
    term = F.expr(f"shiftleft(1L, {k} - rho)")
    per_group = regs.groupBy("grp").agg(
        F.count(F.lit(1)).alias("occupied"), F.sum(term).alias("s_int")
    )
    merged = regs.groupBy("bucket").agg(F.max("rho").alias("rho"))
    total = merged.agg(
        F.count(F.lit(1)).alias("occupied"), F.sum(term).alias("s_int")
    ).select(F.lit(total_label).alias("grp"), "occupied", "s_int")
    est = _hll_estimate(per_group.unionByName(total), p)
    return est.select(
        F.col("grp").alias("scope"),
        F.col("occupied").cast("bigint"),
        "hll_estimate",
    )


def _cm_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "cm_cells")


def run_stream_frequency_monitor(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key_col: str,
    d: int = 4,
    w_cells: int = 256,
):
    """Streaming count-min: each micro-batch's d x w_cells grid lands
    in ``cm_cells/run=<r>/batch=<id>/``. The instructive CONTRAST with
    the HLL monitor: cell-wise SUM is NOT idempotent, so the algebra
    alone cannot absorb a foreachBatch replay (a double-merged batch
    double-counts) — exactly-once here comes from the STORAGE key
    instead: a replayed batch dynamic-overwrites its own (run, batch)
    partition, and the read-time merge sums each batch's cells exactly
    once. Same discipline as the ingest ledger; the two monitors
    document the two idempotency disciplines side by side.

    State size: batches x d x w_cells 3-int rows — volume-independent,
    like every sketch in this module."""
    run_id = run_id_for_checkpoint(checkpoint_dir, "bolson_cm_run_id")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        write_cm_batch(
            batch_df, out_dir, run_id, batch_id, key_col, d, w_cells
        )

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _run_scoped_state(
    spark: SparkSession,
    state_dir: str,
    checkpoint_dir: str | None,
    run_file: str,
    what: str,
) -> DataFrame:
    """The ONE definition of SUM-merge run scoping, shared by every
    reader whose merge is NOT replay-idempotent (count-min cells,
    histogram bins): ``checkpoint_dir`` resolves that checkpoint
    lineage's run id and filters the state to it; with multiple runs
    on disk and no checkpoint_dir the read REFUSES rather than
    silently double-count data a fresh-checkpoint restart replayed.

    The returned frame is also COMPACTION-AWARE: it sees exactly one
    copy of every ingested batch — the run's committed compacted
    partition (batch = -gen, per the atomic marker) plus the batches
    newer than the compaction horizon, or all non-negative batches
    when the run was never compacted (see compact_monitor_state)."""
    _verify_state_version(state_dir)
    state = spark.read.parquet(state_dir)
    # runs-that-wrote-state comes from the run=/batch= partition dir
    # listing (one driver-side directory read), NOT a
    # SELECT DISTINCT run job — the distinct would scan the whole
    # state table once for the membership check and then again for
    # the actual estimate, doubling state I/O on every probe of a
    # long-lived monitoring session
    runs = run_partition_ids(state_dir)
    if checkpoint_dir is not None:
        # READ-ONLY resolve: minting here would both mutate the
        # checkpoint dir during a read and filter to a run that never
        # wrote state — silently answering 0/empty for every probe
        run_id = read_run_id(checkpoint_dir, run_file)
        if runs and run_id not in runs:
            raise ValueError(
                f"{what}: run id {run_id!r} from checkpoint "
                f"{checkpoint_dir!r} wrote no state under {state_dir!r} "
                f"(runs present: {sorted(runs)}) — wrong checkpoint/"
                "state pairing, or the stream produced no batches"
            )
        return state.where(F.col("run") == run_id).where(
            _visible_batches(state_dir, run_id)
        )
    if len(runs) > 1:
        raise ValueError(
            f"{what}: {len(runs)} runs in {state_dir!r}; pass "
            "checkpoint_dir to select one (summing across runs "
            "double-counts replayed data)"
        )
    if runs:
        return state.where(_visible_batches(state_dir, runs[0]))
    return state


def frequency_estimates(
    spark: SparkSession,
    out_dir: str,
    probe: DataFrame,
    key_col: str,
    checkpoint_dir: str | None = None,
    d: int = 4,
    w_cells: int = 256,
) -> DataFrame:
    """Estimated ingested-so-far counts for the probe keys from the
    accumulated grid state: merge = cell-wise SUM over ONE run's batch
    partitions (each batch counted exactly once by the storage key),
    estimate = MIN over a key's d cells. Probe keys never ingested
    stay in the output at 0 (empty cells are 0-count cells).

    Unlike the HLL twin, SUM is NOT idempotent ACROSS runs either: a
    fresh-checkpoint restart re-ingests the source under a new run id,
    and summing old + new runs would double-count everything the
    restart replayed. So the merge is scoped to one run —
    ``checkpoint_dir`` resolves it to that checkpoint's run id; with
    multiple runs on disk and no checkpoint_dir the call refuses
    rather than silently inflate. Output: (key_col, cm_estimate); the
    one-sided >=truth guarantee holds because the selected grid IS the
    count-min sketch of that run's (complete, availableNow) stream."""
    from bolson_spark.functions.sketch import md5_draw

    _verify_state_params(
        _cm_dir(out_dir), f"d={d}:w={w_cells}", "frequency_estimates"
    )
    cells = _run_scoped_state(
        spark,
        _cm_dir(out_dir),
        checkpoint_dir,
        "bolson_cm_run_id",
        "frequency_estimates",
    )
    merged = cells.groupBy("j", "c").agg(
        F.sum("cell_count").alias("cell_count")
    )
    hashes = [
        F.pmod(md5_draw(F.col(key_col), f"cm{j}"), F.lit(w_cells))
        for j in range(d)
    ]
    probe_cells = probe.select(
        F.col(key_col), F.posexplode(F.array(*hashes)).alias("j", "c")
    )
    return (
        probe_cells.join(F.broadcast(merged), ["j", "c"], "left")
        .groupBy(key_col)
        .agg(
            F.min(F.coalesce(F.col("cell_count"), F.lit(0)))
            .cast("bigint")
            .alias("cm_estimate")
        )
    )


def _hist_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "hist_bins")


def run_stream_histogram_monitor(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    value_col: str,
    group_col: str,
    bounds: tuple[int, int],
    n_bins: int = 256,
):
    """Streaming distribution monitor: each micro-batch's per-group
    bin counts (equal-width histogram over CALLER-FROZEN integer
    bounds — every batch must bin against the same edges for the
    cell-wise merge to be exact; out-of-range values clamp into the
    edge bins) land in ``hist_bins/run=<r>/batch=<id>/``. Same
    idempotency discipline as the count-min monitor: SUM is not
    replay-idempotent, so exactly-once comes from the (run, batch)
    storage key. State: batches x groups x n_bins 3-int rows."""
    # the clamp and bucket rules are sketch.py's own (_hist_clamped /
    # _hist_bucket, incl. its span/overflow guards, applied inside
    # write_hist_batch) — a local copy of the binning arithmetic could
    # drift from the batch sketch and silently break merge parity.
    # Bounds are PINNED per checkpoint lineage: a restart that changes
    # them would SUM-merge bins cut at different edges.
    from bolson_spark.functions.sketch import _hist_bucket

    vmin, vmax = bounds
    _hist_bucket(vmin, vmax - vmin + 1, n_bins)  # validate NOW
    _pin_hist_bounds(checkpoint_dir, bounds, n_bins)
    run_id = run_id_for_checkpoint(checkpoint_dir, "bolson_hist_run_id")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        write_hist_batch(
            batch_df,
            out_dir,
            run_id,
            batch_id,
            value_col,
            group_col,
            bounds,
            n_bins,
        )

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def quantile_estimates(
    spark: SparkSession,
    out_dir: str,
    bounds: tuple[int, int],
    checkpoint_dir: str | None = None,
    percents: tuple[int, ...] = (50, 95, 99),
    n_bins: int = 256,
) -> DataFrame:
    """Per-group quantile estimates of everything ingested so far,
    from ONE run's merged bin counts (the count-min run-scoping rule:
    SUM double-counts across runs, so checkpoint_dir selects the run
    and an ambiguous multi-run read refuses). The estimation
    arithmetic is functions/sketch.py::_hist_estimate — the same code
    the batch sketch runs, so stream and batch can never disagree on
    rank or bin-edge rules. Output: (scope, pct, n, est)."""
    from bolson_spark.functions.sketch import _hist_estimate

    vmin, vmax = bounds
    _verify_state_params(
        _hist_dir(out_dir), f"{vmin}:{vmax}:{n_bins}", "quantile_estimates"
    )
    bins = _run_scoped_state(
        spark,
        _hist_dir(out_dir),
        checkpoint_dir,
        "bolson_hist_run_id",
        "quantile_estimates",
    )
    merged = bins.groupBy("grp", "bucket").agg(F.sum("cnt").alias("cnt"))
    est = _hist_estimate(
        merged, "grp", percents, vmin, vmax - vmin + 1, n_bins
    )
    return est.select(
        F.col("grp").alias("scope"),
        F.col("pct").cast("bigint"),
        F.col("n").cast("bigint"),
        F.col("est").cast("bigint"),
    )


# ---------------------------------------------------------------------------
# State compaction
# ---------------------------------------------------------------------------
#
# The (run, batch) layout is exactly-once by construction, but it grows
# one parquet partition per micro-batch FOREVER: read-time merge cost
# and small-file count scale with stream lifetime even though the
# merged sketch is constant-size. Compaction collapses one run's batch
# partitions into a single merged partition, under the same two
# idempotency disciplines the monitors already document:
#
# - HLL registers (MAX algebra): write-merged-THEN-delete. A crash at
#   ANY point leaves a state whose bucket-wise MAX is unchanged —
#   duplicates between the merged partition and the originals are
#   absorbed by the algebra, so no commit protocol is needed.
# - count-min / histogram (SUM): a duplicate batch double-counts, so
#   visibility is switched ATOMICALLY by a marker file
#   (_bolson_compact_<run>, written via os.replace): readers see the
#   committed compacted partition (batch = -gen) plus batches NEWER
#   than the compaction horizon (batch > upto), never both copies of
#   the same batch. An uncommitted compacted partition (crash before
#   the marker) is INVISIBLE; originals are deleted only after the
#   marker commits (crash mid-GC leaves invisible garbage the next
#   compaction sweeps).
#
# Control-plane note: like the run-id and pin files, the marker/GC
# steps are driver-side filesystem operations on the state dir — the
# pattern requires only atomic rename, which every DFS the state
# would live on (HDFS, local, NFS) provides; the data-plane merge is
# a Spark job over sketch-sized rows.


def _marker_path(state_dir: str, run_id: str) -> str:
    return os.path.join(state_dir, f"_bolson_compact_{run_id}")


def _read_marker(state_dir: str, run_id: str) -> tuple[int, int] | None:
    """(gen, upto) of the last COMMITTED compaction, or None."""
    path = _marker_path(state_dir, run_id)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        m = json.load(f)
    return int(m["gen"]), int(m["upto"])


def _write_marker(state_dir: str, run_id: str, gen: int, upto: int) -> None:
    """Atomically commit a compaction: tmp write + os.replace, so a
    reader never observes a torn marker and a crash leaves either the
    old visibility rule or the new one — never neither."""
    path = _marker_path(state_dir, run_id)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"gen": gen, "upto": upto}, f)
    os.replace(tmp, path)


def _visible_batches(state_dir: str, run_id: str) -> Column:
    """Predicate selecting exactly-one-copy-per-batch for a SUM-merged
    reader: the committed compacted partition plus post-horizon
    batches, or all non-negative batches if never compacted."""
    marker = _read_marker(state_dir, run_id)
    if marker is None:
        return F.col("batch") >= 0
    gen, upto = marker
    return (F.col("batch") == -gen) | (F.col("batch") > upto)


# control-plane listing/GC shared with the ingest-state compactor
_batch_ids = batch_partition_ids
_rm_batch = remove_batch_partition


def _compact_sum_state(
    spark: SparkSession,
    state_dir: str,
    run_id: str,
    group_cols: list[str],
    val_col: str,
) -> dict:
    """Marker-committed compaction for SUM-merged state (count-min
    cells, histogram bins). Idempotent and crash-safe at every window;
    see the module comment for the protocol."""
    _verify_state_version(state_dir)
    marker = _read_marker(state_dir, run_id)
    gen = marker[0] if marker else 0
    upto = marker[1] if marker else -1
    batches = _batch_ids(state_dir, run_id)
    visible = [
        b
        for b in batches
        if (b == -gen and marker is not None) or (b >= 0 and b > upto)
    ]
    if len(visible) <= 1:
        # nothing to collapse — also sweep invisible garbage a crashed
        # GC left behind (negative partitions other than the committed
        # one, and pre-horizon originals)
        removed = 0
        for b in batches:
            if b not in visible:
                _rm_batch(state_dir, run_id, b)
                removed += 1
        return {"compacted": False, "visible": len(visible), "gc": removed}
    new_upto = max((b for b in visible if b >= 0), default=upto)
    merged = (
        spark.read.parquet(state_dir)
        .where(F.col("run") == run_id)
        .where(F.col("batch").isin(visible))
        .groupBy(*group_cols)
        .agg(F.sum(val_col).alias(val_col))
    )
    _write_state_batch(merged, state_dir, run_id, -(gen + 1))
    _write_marker(state_dir, run_id, gen + 1, new_upto)  # the commit point
    removed = 0
    for b in _batch_ids(state_dir, run_id):
        if b == -(gen + 1) or b > new_upto:
            continue
        _rm_batch(state_dir, run_id, b)
        removed += 1
    return {
        "compacted": True,
        "merged_batches": len(visible),
        "gen": gen + 1,
        "upto": new_upto,
        "gc": removed,
    }


def _compact_max_state(
    spark: SparkSession, state_dir: str, run_id: str
) -> dict:
    """Write-then-delete compaction for the HLL register state: MAX is
    idempotent, so the merged partition may coexist with the originals
    (or with a partial write from a crashed attempt) without changing
    any estimate — no marker needed. The merged partition gets a fresh
    negative id each attempt so a partially-written previous target is
    merged as INPUT rather than overwritten after its originals are
    gone."""
    _verify_state_version(state_dir)
    batches = _batch_ids(state_dir, run_id)
    if len(batches) <= 1:
        return {"compacted": False, "visible": len(batches), "gc": 0}
    gen = max((-b for b in batches if b < 0), default=0)
    merged = (
        spark.read.parquet(state_dir)
        .where(F.col("run") == run_id)
        .where(F.col("batch").isin(batches))
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    _write_state_batch(merged, state_dir, run_id, -(gen + 1))
    removed = 0
    for b in batches:  # the pre-write listing: never a concurrent new batch
        _rm_batch(state_dir, run_id, b)
        removed += 1
    return {
        "compacted": True,
        "merged_batches": len(batches),
        "gen": gen + 1,
        "gc": removed,
    }


_KIND_RUN_FILES = {
    "hll": "bolson_monitor_run_id",
    "cm": "bolson_cm_run_id",
    "hist": "bolson_hist_run_id",
}


def _resolve_compact_run(
    state_dir: str, checkpoint_dir: str | None, run_file: str, what: str
) -> str | None:
    """Run selection for compaction: the checkpoint lineage's id
    (read-only — compaction must not mint), or the single run present;
    None if the state dir doesn't exist yet."""
    if not os.path.isdir(state_dir):
        return None
    if checkpoint_dir is not None:
        return read_run_id(checkpoint_dir, run_file)
    runs = run_partition_ids(state_dir)
    if len(runs) > 1:
        raise ValueError(
            f"{what}: {len(runs)} runs in {state_dir!r}; pass "
            "checkpoint_dir to select one"
        )
    return runs[0] if runs else None


def compact_monitor_state(
    spark: SparkSession,
    out_dir: str,
    checkpoint_dir: str | None = None,
    kinds: tuple[str, ...] = ("hll", "cm", "hist"),
) -> dict:
    """Collapse one run's accumulated (run, batch) sketch partitions
    into a single merged partition per state kind — the periodic
    maintenance step that keeps read cost and file count CONSTANT over
    stream lifetime (the merged sketch already was). Estimates are
    bit-identical before and after (tested), every crash window is
    lossless (tested), and re-running is an idempotent no-op.

    Returns a per-kind report dict. Kinds whose state dir doesn't
    exist (monitor not enabled) are skipped."""
    report: dict[str, dict] = {}
    dirs = {
        "hll": _registers_dir(out_dir),
        "cm": _cm_dir(out_dir),
        "hist": _hist_dir(out_dir),
    }
    for kind in kinds:
        if kind not in dirs:
            raise ValueError(f"compact_monitor_state: unknown kind {kind!r}")
        state_dir = dirs[kind]
        run_id = _resolve_compact_run(
            state_dir,
            checkpoint_dir,
            _KIND_RUN_FILES[kind],
            f"compact_monitor_state[{kind}]",
        )
        if run_id is None:
            report[kind] = {"compacted": False, "visible": 0, "gc": 0}
            continue
        if kind == "hll":
            report[kind] = _compact_max_state(spark, state_dir, run_id)
        elif kind == "cm":
            report[kind] = _compact_sum_state(
                spark, state_dir, run_id, ["j", "c"], "cell_count"
            )
        else:
            report[kind] = _compact_sum_state(
                spark, state_dir, run_id, ["grp", "bucket"], "cnt"
            )
    return report
