"""Shared streaming idempotency helpers."""

from __future__ import annotations

import os
import re
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_URI_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


def require_local_path(path: str, what: str) -> str:
    """The driver-local control plane (run-id files, seq base, commit
    horizon, partition-dir listings) uses plain ``os.*`` I/O, which
    does NOT speak DFS URIs: ``os.makedirs("hdfs://nn/ck")`` happily
    creates a literal ``./hdfs:/nn/ck`` directory on whatever node the
    driver runs on while Spark checkpoints to real HDFS — a restart on
    another node then finds no state and silently restarts sequences /
    mints a fresh run id. Refuse URIs loudly: on a real cluster, point
    this state at a driver-visible shared filesystem mount (or extend
    these helpers through the JVM Hadoop FS API)."""
    if _URI_SCHEME.match(path):
        raise ValueError(
            f"{what}: {path!r} is a URI — the driver-local control "
            "plane (run ids, seq base, batch listings) uses os.* file "
            "I/O and cannot operate on DFS schemes; use a "
            "driver-visible local/shared-mount path"
        )
    return path


def run_id_for_checkpoint(checkpoint_dir: str | None, filename: str) -> str:
    """Mint-or-read a run id tied to a CHECKPOINT LINEAGE — the ONE
    definition of the idiom behind every (run, batch)-keyed idempotent
    writer (ingest ledger + near-dup index, quarantine sink, the
    sessionize CLI sink): an invocation restarted on the same
    checkpoint REUSES the id, so a replayed micro-batch overwrites its
    own (run, batch) partitions instead of duplicating; a fresh
    checkpoint mints a new id, so prior runs' partitions are consulted
    (or preserved as evidence), never clobbered. With no checkpoint at
    all the id is per-invocation — nothing can replay without one."""
    if not checkpoint_dir:
        return uuid.uuid4().hex
    require_local_path(checkpoint_dir, "run_id_for_checkpoint")
    os.makedirs(checkpoint_dir, exist_ok=True)
    path = os.path.join(checkpoint_dir, filename)
    if os.path.exists(path):
        return _read_nonempty_run_id(path)
    run_id = uuid.uuid4().hex
    # write-tmp + os.replace, as the seq-base record: a crash mid-write
    # cannot leave an empty id file behind
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(run_id)
    os.replace(tmp, path)
    return run_id


def _read_nonempty_run_id(path: str) -> str:
    """An empty run id would write ``run=`` partitions that Spark reads
    back as NULL, which no run-id comparison matches — refuse it."""
    with open(path) as f:
        run_id = f.read().strip()
    if not run_id:
        raise ValueError(
            f"run id file {path!r} is empty; start a fresh checkpoint"
        )
    return run_id


def write_run_batch(df: DataFrame, path: str, run_id: str, batch_id: int) -> None:
    """The (run, batch)-keyed idempotent write behind every writer that
    uses ``run_id_for_checkpoint``: `df` lands as parquet under its
    ``run=<run_id>/batch=<batch_id>`` partition by dynamic partition
    overwrite, so a replayed micro-batch rewrites its own partition
    instead of appending a duplicate, and a fresh checkpoint's batch 0
    (a new run id) cannot clobber a prior run's output."""
    (
        df.withColumn("run", F.lit(run_id))
        .withColumn("batch", F.lit(batch_id))
        .write.mode("overwrite")
        .partitionBy("run", "batch")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )


def read_run_id(checkpoint_dir: str, filename: str) -> str:
    """READ-ONLY twin of run_id_for_checkpoint for reader paths: resolve
    the run id a checkpoint lineage minted, REFUSING (instead of
    minting) when the file is absent. A reader that minted would (a)
    mutate the checkpoint dir as a side effect of a read and (b) filter
    the state to a run id that never wrote anything — silently
    answering 0/empty for every probe on a typo'd path or a cleaned
    checkpoint, exactly the failure a refusal makes loud."""
    require_local_path(checkpoint_dir, "read_run_id")
    path = os.path.join(checkpoint_dir, filename)
    if not os.path.exists(path):
        raise ValueError(
            f"no run id file {filename!r} under checkpoint "
            f"{checkpoint_dir!r} — no stream of this kind ever ran on "
            "this checkpoint (typo'd path, or a cleaned checkpoint dir?)"
        )
    return _read_nonempty_run_id(path)


def require_run_partitioned(state_dir: str) -> None:
    """Refuse a (run, batch)-partitioned state dir that holds any other
    visible root entry: writing ``run=<id>/batch=N/`` partitions next to
    it would leave a directory that is unreadable as one parquet table.
    Call before anything is written."""
    if not os.path.isdir(state_dir):
        return
    foreign = sorted(
        e for e in os.listdir(state_dir)
        if not e.startswith(("run=", "_", "."))
    )
    if foreign:
        raise RuntimeError(
            f"{state_dir} holds entries outside run=<id>/ partitions "
            f"({', '.join(foreign[:3])}); use an empty or run-partitioned "
            "directory (mixed layouts are unreadable as one table)"
        )


def _unescape_partition_value(name: str) -> str:
    """Decode Spark/Hive partition-path escaping (%XX) back to the raw
    partition VALUE. Writers escape special characters (space, ':',
    '%', ...) when building `col=value` directory names; a listing
    that compared the escaped directory text against raw run ids
    would spuriously refuse exactly those ids."""
    from urllib.parse import unquote

    return unquote(name)


def _run_dir(state_dir: str, run_id: str) -> str | None:
    """Resolve the on-disk directory for one run's partition, matching
    by UNESCAPED value (the inverse of the writer's escaping) — a
    naive f"run={run_id}" join misses any run id containing a
    character the writer escaped. None when the run has no dir."""
    require_local_path(state_dir, "state-dir listing")
    if not os.path.isdir(state_dir):
        return None
    for name in os.listdir(state_dir):
        if name.startswith("run=") and _unescape_partition_value(
            name[len("run="):]
        ) == run_id:
            return os.path.join(state_dir, name)
    return None


def _has_data_file(d: str) -> bool:
    """True when a partition dir holds at least one committed data
    file (not hidden/metadata): a crashed write can leave an EMPTY
    batch= dir, and counting it as written state would let a reader
    admit a run that holds no rows — silently answering 0/empty."""
    try:
        return any(
            not n.startswith((".", "_")) for n in os.listdir(d)
        )
    except FileNotFoundError:
        return False


def _batch_ids_in_run_dir(run_dir: str) -> list[int]:
    """Data-bearing batch ids under an ALREADY-RESOLVED run dir — the
    shared body of batch_partition_ids / run_partition_ids. Batch dirs
    with no committed data file (a crashed write's husk) are excluded
    — they hold no rows, and admitting them would convert a loud
    wrong-pairing refusal in the readers into silently-empty
    estimates."""
    out = []
    for name in os.listdir(run_dir):
        if name.startswith("batch=") and _has_data_file(
            os.path.join(run_dir, name)
        ):
            try:
                out.append(int(name[len("batch="):]))
            except ValueError:
                continue
    return sorted(out)


def batch_partition_ids(state_dir: str, run_id: str) -> list[int]:
    """Batch ids that WROTE DATA on disk for one run of a (run, batch)-
    partitioned state table — the compactors' control-plane listing
    (driver-side; needs only directory listing, which every DFS the
    state would live on provides)."""
    run_dir = _run_dir(state_dir, run_id)
    if run_dir is None:
        return []
    return _batch_ids_in_run_dir(run_dir)


def run_partition_ids(state_dir: str) -> list[str]:
    """Run ids that WROTE state under a (run, batch)-partitioned state
    table — driver-side directory listing, the control-plane twin of
    `batch_partition_ids`. Returned ids are the UNESCAPED partition
    values (writers %XX-escape specials in dir names). Runs with no
    data-bearing ``batch=`` child are skipped: they hold no rows, and
    a membership check that admitted them would let a reader silently
    filter to zero state — the exact failure the check exists to
    refuse. Readers use this instead of a
    ``SELECT DISTINCT run`` Spark job: the listing is one directory
    read, while the distinct is a full scan of the state table run
    BEFORE the state is scanned again for the actual estimate."""
    require_local_path(state_dir, "run_partition_ids")
    if not os.path.isdir(state_dir):
        return []
    out = []
    # ONE state_dir listing: each run= entry is paired with its
    # already-resolved path — routing through batch_partition_ids
    # would re-resolve every run via a fresh state_dir scan (O(R^2)
    # directory reads for R runs, the exact cost this listing exists
    # to avoid).
    for name in os.listdir(state_dir):
        if not name.startswith("run="):
            continue
        run_id = _unescape_partition_value(name[len("run="):])
        if _batch_ids_in_run_dir(os.path.join(state_dir, name)):
            out.append(run_id)
    return sorted(out)


def remove_batch_partition(state_dir: str, run_id: str, batch: int) -> None:
    """GC one (run, batch) partition dir; missing is fine (a crashed
    or concurrent GC already removed it). Resolves the run dir by
    unescaped value (see _run_dir) so escaped run ids GC correctly."""
    import shutil

    run_dir = _run_dir(state_dir, run_id)
    if run_dir is None:
        return
    shutil.rmtree(
        os.path.join(run_dir, f"batch={batch}"), ignore_errors=True
    )


def _log_horizon(checkpoint_dir: str, sub: str, what: str) -> int:
    """Max batch id present in one of the checkpoint's sequential log
    directories (offsets / commits), or -1 if none — the shared body
    of commit_horizon and offsets_horizon."""
    require_local_path(checkpoint_dir, what)
    d = os.path.join(checkpoint_dir, sub)
    if not os.path.isdir(d):
        return -1
    horizon = -1
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        try:
            horizon = max(horizon, int(name))
        except ValueError:
            continue
    return horizon


def commit_horizon(checkpoint_dir: str) -> int:
    """The newest batch id the checkpoint's commit log has COMMITTED,
    or -1 if none. Batches execute and commit SEQUENTIALLY, so every
    batch at or below the horizon is committed and can never replay —
    the horizon form matters because Spark PURGES old commit-log
    entries (spark.sql.streaming.minBatchesToRetain, default 100): a
    membership set built from the surviving files would silently and
    permanently exclude every purged-but-committed old batch from
    compaction. The one possibly-replayable batch is the newest
    offsets entry ABOVE the horizon (the foreachBatch crash window);
    compactors must leave it untouched, because a replay both
    dynamic-overwrites its own partitions and consults only batches
    strictly before itself."""
    return _log_horizon(checkpoint_dir, "commits", "commit_horizon")


def offsets_horizon(checkpoint_dir: str) -> int:
    """The newest batch id the checkpoint's OFFSETS log has planned,
    or -1 if none. A batch id can only legitimately REPLAY if its
    offsets entry exists (Spark re-runs exactly the newest offsets
    entry above the commit horizon) — so a persisted per-batch record
    (the seq base) whose batch id exceeds this horizon belongs to a
    WIPED/reset lineage, not a replay: offsets+commits deletion is the
    standard force-reprocess move, and it restarts batch ids at 0
    while driver-side sidecar files survive."""
    return _log_horizon(checkpoint_dir, "offsets", "offsets_horizon")
