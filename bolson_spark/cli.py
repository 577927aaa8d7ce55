"""C1 — CLI driver (main.cpp:20-50, cli.cpp:83-135 analog).

Subcommands mirror the reference:

- ``stream``          the product: line-framed JSON source -> convert ->
                      IPC sink (socket host:port or a directory of files)
- ``ingest``          ledger-gated corpus ingestion (exact dedup across
                      runs, Bloom prefilter; ``--near-dup`` upgrades the
                      gate to MinHash near-duplicate rejection against
                      the accumulated index) — streaming/ingest.py
- ``sessionize``      streaming gap sessionization of a user-event
                      stream, watermark-finalized — streaming/stateful.py
- ``bench convert``   B2: generate N random JSONs for a schema, run the
                      batch convert pipeline, report MB/s and MJ/s
- ``bench queries``   the registry benchmark (same output as bench.py)

Usage examples::

    python -m bolson_spark.cli stream --in-dir /data/jsonl \
        --schema battery --sink /tmp/topic --max-rows 1024
    python -m bolson_spark.cli ingest --in-dir /data/docs \
        --out-dir /data/corpus --checkpoint /data/ck --near-dup 0.9
    python -m bolson_spark.cli sessionize --in-dir /data/events \
        --out-dir /data/sessions --checkpoint /data/ck2 --watermark "1 hour"
    python -m bolson_spark.cli bench convert --num-jsons 100000
"""

from __future__ import annotations

import argparse
import json
import random
import sys
import time

from bolson_spark import MAX_IPC_SIZE, MAX_ROWS_DEFAULT

SCHEMAS = {"battery": "BATTERY_SPARK", "trip": "TRIP_SPARK", "events": "EVENT_PROPS_SPARK"}


def _schema(name: str):
    import bolson_spark.schemas as S

    return getattr(S, SCHEMAS[name])


def _gen_jsons(schema_name: str, n: int, seed: int) -> list[str]:
    """B1 analog (bench.cpp:35-53): schema-driven seeded random JSONs
    honoring the reference's value/length bounds (FIXTURES.md)."""
    rng = random.Random(seed)
    out = []
    if schema_name == "battery":
        for _ in range(n):
            out.append(
                json.dumps(
                    {"voltage": [rng.randint(0, 2047) for _ in range(rng.randint(1, 16))]}
                )
            )
    elif schema_name == "trip":
        from bolson_spark.schemas import TRIP_FIXED_LIST_SIZES, TRIP_SPARK

        for _ in range(n):
            d = {}
            for f in TRIP_SPARK.fields:
                size = TRIP_FIXED_LIST_SIZES.get(f.name)
                if size is not None:
                    d[f.name] = [rng.randint(1, 99) for _ in range(size)]
                elif f.dataType.typeName() == "boolean":
                    d[f.name] = rng.random() < 0.5
                elif f.name == "timestamp":
                    d[f.name] = "2005-09-09 11:59:06"
                else:
                    d[f.name] = rng.randint(1, 99)
            out.append(json.dumps(d))
    else:
        for i in range(n):
            out.append(json.dumps({"k": rng.randint(0, 99)}))
    return out


def cmd_stream(args) -> int:
    from bolson_spark.metrics import LatencyTracker, save_metrics_csv
    from bolson_spark.session import get_spark
    from bolson_spark.sources import read_json_lines_stream, read_socket_stream
    from bolson_spark.streaming import BatchingOptions, make_sink, run_stream_convert

    spark = get_spark("bolson-stream")
    if args.in_dir:
        raw = read_json_lines_stream(
            spark, args.in_dir, max_files_per_trigger=args.max_files_per_trigger
        )
        available_now = True
    else:
        raw = read_socket_stream(spark, args.host, args.port)
        available_now = False
    batching = BatchingOptions(
        enable=args.batch,
        max_messages=args.batch_max_messages,
        max_bytes=args.batch_max_bytes,
        max_delay_ms=args.batch_max_delay,
    )
    sink = make_sink(spark, args.sink, batching=batching, max_msg_size=args.max_ipc)
    # the tracker turns on the staged path (a materialization barrier
    # per stage); without --latency the micro-batch stays fused
    tracker = LatencyTracker() if args.latency else None
    t0 = time.time()
    query, metrics = run_stream_convert(
        raw,
        _schema(args.schema),
        sink,
        max_rows=args.max_rows,
        max_ipc_size=args.max_ipc,
        checkpoint_dir=args.checkpoint,
        available_now=available_now,
        latency=tracker,
        on_error=args.on_error,
        quarantine_dir=args.quarantine_dir,
    )
    query.awaitTermination()
    elapsed = time.time() - t0
    if args.latency:
        tracker.save_latency_csv(args.latency)
    if args.metrics:
        save_metrics_csv(args.metrics, metrics, elapsed)
    print(
        json.dumps(
            {
                "num_jsons": metrics.num_jsons,
                "num_quarantined": metrics.num_quarantined,
                "json_bytes": metrics.json_bytes,
                "num_ipc": metrics.num_ipc,
                "ipc_bytes": metrics.ipc_bytes,
                "elapsed_sec": round(elapsed, 3),
                "mjs": round(metrics.num_jsons / 1e6 / elapsed, 6) if elapsed else None,
            }
        )
    )
    return 0


def cmd_ingest(args) -> int:
    """Ledger-gated ingestion of a jsonl document stream (doc_id,
    text): exact-content dedup across runs and restarts via the
    persistent fingerprint ledger (Bloom-prefiltered), optionally
    upgraded to near-duplicate rejection with ``--near-dup`` — the
    runnable product shape of streaming/ingest.py's tested path."""
    import os

    from bolson_spark.session import get_spark
    from bolson_spark.streaming.ingest import run_stream_ingest

    spark = get_spark("bolson-ingest")
    reader = (
        spark.readStream.format("json")
        .schema("doc_id bigint, text string")
    )
    if args.max_files_per_trigger:
        reader = reader.option(
            "maxFilesPerTrigger", args.max_files_per_trigger
        )
    stream = reader.load(args.in_dir)
    t0 = time.time()
    query = run_stream_ingest(
        spark,
        stream,
        args.out_dir,
        args.checkpoint,
        near_dup_threshold=args.near_dup,
        in_batch_near_dedup=args.in_batch_near_dedup,
    )
    query.processAllAvailable()
    query.stop()
    elapsed = time.time() - t0
    acc_dir = os.path.join(args.out_dir, "accepted")
    try:
        n_accepted = spark.read.parquet(acc_dir).count()
    except Exception:  # zero micro-batches ever wrote the dir
        n_accepted = 0
    print(
        json.dumps(
            {
                "accepted_total": n_accepted,
                "near_dup_threshold": args.near_dup,
                "elapsed_sec": round(elapsed, 3),
                "out_dir": args.out_dir,
            }
        )
    )
    return 0


def cmd_monitor(args) -> int:
    """Streaming ingest monitoring of a jsonl document stream (doc_id,
    text, source): per-source + overall distinct-token cardinality
    (HLL registers, replay-safe by MAX algebra), optional top-token
    frequency estimates (count-min grid, replay-safe by (run,batch)
    storage keys), and optional per-source doc-length quantiles
    (histogram bins under frozen --length-bounds). All enabled
    monitors share ONE streaming pass — a single foreachBatch fans the
    micro-batch into each state writer, so adding a monitor never adds
    a scan of the backlog."""
    from pyspark.sql import functions as F

    from bolson_spark.streaming.monitor import (
        _pin_hist_bounds,
        cardinality_estimates,
        frequency_estimates,
        quantile_estimates,
        write_cm_batch,
        write_hist_batch,
        write_hll_batch,
    )
    from bolson_spark.session import get_spark
    from bolson_spark.streaming.util import run_id_for_checkpoint

    spark = get_spark("bolson-monitor")
    t0 = time.time()

    bounds = tuple(args.length_bounds) if args.length_bounds else None
    # one run id per state kind, all tied to the SAME checkpoint
    # lineage — the readers resolve them from the same files
    hll_run = run_id_for_checkpoint(args.checkpoint, "bolson_monitor_run_id")
    cm_run = run_id_for_checkpoint(args.checkpoint, "bolson_cm_run_id")
    hist_run = run_id_for_checkpoint(args.checkpoint, "bolson_hist_run_id")
    if bounds:
        _pin_hist_bounds(args.checkpoint, bounds, 256)

    token_arr = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), " "),
        lambda x: x != "",
    )

    def process(batch_df, batch_id: int) -> None:
        # the token array is computed ONCE per batch; the three
        # monitors consume explode/size views of it
        base = batch_df.select(
            "source", token_arr.alias("_toks")
        ).persist()
        toks = base.select(
            "source", F.explode("_toks").alias("token")
        )
        write_hll_batch(
            toks, args.out_dir, hll_run, batch_id, "token", "source",
            p=args.p,
        )
        if args.probe_tokens:
            write_cm_batch(
                toks.select("token"), args.out_dir, cm_run, batch_id,
                "token",
            )
        if bounds:
            write_hist_batch(
                base.select(
                    "source", F.size("_toks").alias("n_tokens")
                ),
                args.out_dir,
                hist_run,
                batch_id,
                "n_tokens",
                "source",
                bounds,
            )
        base.unpersist()

    r = spark.readStream.format("json").schema(
        "doc_id bigint, text string, source string"
    )
    if args.max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", args.max_files_per_trigger)
    q = (
        r.load(args.in_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", args.checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # a drain can legitimately leave any SUBSET of the state kinds
    # missing (empty --in-dir writes nothing at all; a --probe-tokens
    # probe against a backlog an earlier invocation already drained
    # never creates cm_cells), so each readback is gated on ITS OWN
    # state — gating all three on hll_registers would throw
    # PATH_NOT_FOUND at the cm/hist reads and lose the successful hll
    # estimates with them. The cm/hist gates check that THIS
    # checkpoint's run actually wrote partitions (run_partition_ids,
    # one dir listing): their readers are run-scoped and refuse a run
    # that wrote nothing, but for the CLI that case is a legitimate
    # "nothing ingested yet", answered with an empty estimate set.
    # The hll reader spans all runs by MAX algebra, so dir existence
    # is the right gate there.
    import os

    from bolson_spark.streaming.monitor import _cm_dir, _hist_dir
    from bolson_spark.streaming.util import run_partition_ids

    have_hll = os.path.isdir(os.path.join(args.out_dir, "hll_registers"))
    result = {
        "distinct_tokens_est": {
            row.scope: round(row.hll_estimate, 1)
            for row in cardinality_estimates(
                spark, args.out_dir, p=args.p
            ).collect()
        }
        if have_hll
        else {},
        "out_dir": args.out_dir,
    }
    if args.probe_tokens:
        probe = spark.createDataFrame(
            [(t,) for t in args.probe_tokens], ["token"]
        )
        have_cm = cm_run in run_partition_ids(_cm_dir(args.out_dir))
        result["token_freq_est"] = {
            row.token: row.cm_estimate
            for row in frequency_estimates(
                spark, args.out_dir, probe, "token",
                checkpoint_dir=args.checkpoint,
            ).collect()
        } if have_cm else {}
    if bounds:
        have_hist = hist_run in run_partition_ids(_hist_dir(args.out_dir))
        result["doc_length_quantiles"] = {
            f"{row.scope}:p{row.pct}": row.est
            for row in quantile_estimates(
                spark, args.out_dir, bounds,
                checkpoint_dir=args.checkpoint,
            ).collect()
        } if have_hist else {}
    # optional in-line maintenance: collapse this run's accumulated
    # (run,batch) partitions once the drain finished — the estimates
    # above came from the pre-compaction state, and the compactor's
    # own tests pin bit-identity, so the report needs no re-read. A
    # compaction failure must NOT discard the successful drain's
    # report: the error is embedded and the exit code flags it.
    rc = 0
    if getattr(args, "compact", False):
        # no state-existence gate: the compactor itself skips kinds
        # whose dir was never created (reports compacted=False)
        from bolson_spark.streaming.monitor import compact_monitor_state

        try:
            result["compaction"] = compact_monitor_state(
                spark, args.out_dir, checkpoint_dir=args.checkpoint
            )
        except Exception as e:  # noqa: BLE001 — maintenance, not drain
            result["compaction"] = {"error": f"{e!r:.500}"}
            rc = 1
    # stamped LAST so the report covers every pass and readback
    result["elapsed_sec"] = round(time.time() - t0, 3)
    print(json.dumps(result, sort_keys=True))
    return rc


def cmd_monitor_compact(args) -> int:
    """Maintenance step for long-lived monitor state: collapse each
    state kind's accumulated (run, batch) partitions into one merged
    partition — estimates bit-identical, crash-safe at every window,
    idempotent when re-run (streaming/monitor.py compaction
    protocol)."""
    from bolson_spark.session import get_spark
    from bolson_spark.streaming.monitor import compact_monitor_state

    spark = get_spark("bolson-monitor-compact")
    t0 = time.time()
    report = compact_monitor_state(
        spark, args.out_dir, checkpoint_dir=args.checkpoint
    )
    report["elapsed_sec"] = round(time.time() - t0, 3)
    print(json.dumps(report, sort_keys=True))
    return 0


def cmd_ingest_compact(args) -> int:
    """Maintenance step for a long-lived ingest: fold the run's
    COMMITTED ledger + near-dup index batch partitions into one merged
    partition each (streaming/ingest.py::compact_ingest_state — gate
    decisions unchanged, crash-safe, uncommitted batch untouched).
    Run between streams, same single-writer rule as the stream."""
    from bolson_spark.session import get_spark
    from bolson_spark.streaming.ingest import compact_ingest_state

    spark = get_spark("bolson-ingest-compact")
    t0 = time.time()
    report = compact_ingest_state(spark, args.out_dir, args.checkpoint)
    report["elapsed_sec"] = round(time.time() - t0, 3)
    print(json.dumps(report, sort_keys=True))
    return 0


def cmd_monitor_union(args) -> int:
    """Cross-stream cardinality audit: merge several monitor states'
    HLL registers (bucket-wise MAX — associative across state dirs
    exactly as across micro-batches) into one per-group + overall
    distinct-key estimate set, without re-scanning any stream."""
    from bolson_spark.session import get_spark
    from bolson_spark.streaming.monitor import cardinality_estimates_union

    spark = get_spark("bolson-monitor-union")
    t0 = time.time()
    est = {
        row.scope: round(row.hll_estimate, 1)
        for row in cardinality_estimates_union(
            spark, args.state_dirs, p=args.p
        ).collect()
    }
    print(
        json.dumps(
            {
                "distinct_tokens_est": est,
                "n_states": len(args.state_dirs),
                "elapsed_sec": round(time.time() - t0, 3),
            },
            sort_keys=True,
        )
    )
    return 0


def cmd_sessionize(args) -> int:
    """Streaming gap sessionization of a jsonl event stream (user_id,
    us epoch-micros, value): sessions are emitted exactly once, when
    the event-time watermark passes session end + gap — the runnable
    product shape of streaming/stateful.py's tested path."""
    from bolson_spark.session import get_spark
    from bolson_spark.streaming import sessionize_stream

    spark = get_spark("bolson-sessionize")
    reader = (
        spark.readStream.format("json")
        .schema("user_id bigint, us bigint, value double")
    )
    if args.max_files_per_trigger:
        reader = reader.option(
            "maxFilesPerTrigger", args.max_files_per_trigger
        )
    stream = reader.load(args.in_dir).selectExpr(
        "user_id", "timestamp_micros(us) AS ts", "value"
    )
    t0 = time.time()
    # Idempotent sink (same discipline as run_stream_ingest): a
    # micro-batch replayed after a crash overwrites its own (run, batch)
    # partition instead of double-appending sessions.
    from bolson_spark.streaming.util import run_id_for_checkpoint, write_run_batch

    run_id = run_id_for_checkpoint(args.checkpoint, "bolson_session_run")
    query = (
        sessionize_stream(stream, watermark=args.watermark)
        .writeStream.outputMode("append")
        .foreachBatch(
            lambda bdf, bid: write_run_batch(bdf, args.out_dir, run_id, bid)
        )
        .option("checkpointLocation", args.checkpoint)
        .start()
    )
    query.processAllAvailable()
    query.stop()
    elapsed = time.time() - t0
    try:
        n_sessions = spark.read.parquet(args.out_dir).count()
    except Exception:  # no session closed yet -> nothing written
        n_sessions = 0
    print(
        json.dumps(
            {
                "sessions_closed": n_sessions,
                "watermark": args.watermark,
                "elapsed_sec": round(elapsed, 3),
                "out_dir": args.out_dir,
            }
        )
    )
    return 0


def cmd_bench_convert(args) -> int:
    """B2 (bench.cpp:83-227): pre-generate -> timed convert -> rates.

    Times ``operators.convert(..., serialize=True)`` end to end over an
    input of ``--partitions`` arrival-ordered range partitions, the
    shape of a file scan, so ``convert()`` numbers each partition from
    its offset."""
    from pyspark.sql import functions as F

    from bolson_spark.operators import convert
    from bolson_spark.session import get_spark

    spark = get_spark("bolson-bench-convert")
    if args.repeats < 1:
        raise SystemExit(f"--repeats must be >= 1, got {args.repeats}")
    docs = _gen_jsons(args.schema, args.num_jsons, args.seed)
    json_bytes = sum(len(d) + 1 for d in docs)
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], ["arrival", "value"]
    ).repartitionByRange(args.partitions, "arrival").cache()
    df.count()  # materialize input outside the timed region (FillBuffers)
    best = None
    for _ in range(args.repeats):
        t0 = time.perf_counter()
        ser = convert(
            df,
            _schema(args.schema),
            "value",
            "arrival",
            max_rows=args.max_rows,
            max_ipc_size=args.max_ipc,
            serialize=True,
        )
        stats = ser.select(
            F.count(F.lit(1)).alias("n"), F.sum("ipc_bytes").alias("b")
        ).first()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    print(
        json.dumps(
            {
                "num_jsons": args.num_jsons,
                "json_mb": round(json_bytes / 1e6, 3),
                "num_ipc": stats["n"],
                "ipc_mb": round((stats["b"] or 0) / 1e6, 3),
                "sec": round(best, 4),
                "json_mbs": round(json_bytes / 1e6 / best, 3),
                "mjs": round(args.num_jsons / 1e6 / best, 6),
            }
        )
    )
    return 0


def cmd_bench_pipeline(args) -> int:
    """End-to-end corpus pipeline throughput: docs/s through the
    training_corpus composition (quality -> decontaminate -> dedup ->
    mix -> pack), best of --repeats runs (steady state)."""
    import json
    import time

    from bolson_spark.queries import QUERIES
    from bolson_spark.session import get_spark, load_table

    spark = get_spark("bench-pipeline")
    if args.repeats < 1:
        raise SystemExit(f"--repeats must be >= 1, got {args.repeats}")
    n_docs = load_table(spark, args.sf_dir, "documents").count()
    best = float("nan")
    for _ in range(args.repeats):
        t0 = time.perf_counter()
        QUERIES["training_corpus"].fn(spark, args.sf_dir).write.mode(
            "overwrite"
        ).format("noop").save()
        dt = time.perf_counter() - t0
        best = dt if best != best else min(best, dt)
        spark.catalog.clearCache()
    print(
        json.dumps(
            {
                "metric": "pipeline docs/s (training_corpus, steady)",
                "value": round(n_docs / best, 1),
                "unit": "docs/s",
                "n_docs": n_docs,
                "sec": round(best, 3),
            }
        )
    )
    spark.stop()
    return 0


def cmd_bench_sink(args) -> int:
    """B4 (publish/bench.cpp:23-92): sink-only micro-bench — publish n
    fixed-size junk messages, as one driver-side table of IPC-message
    rows, through the IPC sink and report goodput MB/s + avg
    per-message latency ms."""
    import pyarrow as pa

    from bolson_spark.streaming.sink import IpcFileSink

    payload = bytes(args.message_size)
    sink = IpcFileSink(args.sink)
    sink.handshake(pa.schema([("junk", pa.binary())]))
    n = args.num_messages
    seqs = pa.array(range(n), pa.int64())
    messages = pa.table(
        {
            "payload": pa.array([payload] * n, pa.binary()),
            "seq_first": seqs,
            "seq_last": seqs,
            "num_rows": pa.array([1] * n, pa.int64()),
            "ipc_bytes": pa.array([len(payload)] * n, pa.int64()),
        }
    )
    t0 = time.perf_counter()
    sink.write(messages)
    dt = time.perf_counter() - t0
    total_mb = n * args.message_size / 1e6
    print(
        json.dumps(
            {
                "num_messages": n,
                "message_size": args.message_size,
                "sec": round(dt, 4),
                "goodput_mbs": round(total_mb / dt, 3),
                "avg_latency_ms": round(dt / n * 1e3, 4),
            }
        )
    )
    return 0


def cmd_bench_stream(args) -> int:
    """Sustained-load latency bench (the per-batch analog of M2's CSV,
    units after src/bolson/latency.cpp:24-56) — CLI front door for
    :func:`stream_latency_bench`."""
    from bolson_spark.session import get_spark

    spark = get_spark("bolson-bench-stream")
    try:
        report = stream_latency_bench(
            spark,
            schema_name=args.schema,
            num_jsons=args.num_jsons,
            num_batches=args.num_batches,
            seed=args.seed,
            max_rows=args.max_rows,
            bad_frac=getattr(args, "bad_frac", 0.0) or 0.0,
        )
    except ValueError as e:  # bad CLI argument -> exit code, not trace
        raise SystemExit(str(e))
    print(json.dumps(report))
    return 0


def stream_latency_bench(
    spark,
    *,
    schema_name: str = "battery",
    num_jsons: int = 2048,
    num_batches: int = 10,
    seed: int = 0,
    max_rows: int = MAX_ROWS_DEFAULT,
    bad_frac: float = 0.0,
) -> dict:
    """Sustained-load latency percentiles over the LITERAL socket
    path: an in-process TCP server plays the reference's JSON
    producer, pacing N bursts of generated documents; every published
    micro-batch stamps the six reference time points (metrics.py), and
    the report is p50/p99 of each stage diff plus end-to-end
    Receive->Publish — the sustained-service latency distribution, not
    the one-shot average `bench sink` gives. Callable (returns the
    report dict) so bench.py can record the clean AND quarantine
    routes as round-over-round BENCH fields (r8 VERDICT #6), with the
    CLI printing the same dict."""
    import socket
    import tempfile
    import threading

    import numpy as np

    from bolson_spark.metrics import TIME_POINTS, LatencyTracker
    from bolson_spark.sources import read_socket_stream
    from bolson_spark.streaming import run_stream_convert
    from bolson_spark.streaming.sink import IpcFileSink

    docs = _gen_jsons(schema_name, num_jsons, seed)
    # library function: surface bad arguments as ValueError — the CLI
    # front door (cmd_bench_stream) translates to SystemExit; a
    # programmatic caller (bench.py) must not have its process exited
    # by an argument typo (r9 ADVICE)
    if not 0.0 <= bad_frac < 1.0:
        raise ValueError(f"bad_frac must be in [0, 1), got {bad_frac}")
    n_bad = 0
    if bad_frac:
        # corrupt an evenly-spaced deterministic subset: chop the
        # closing brace so strict parsing rejects the document (the
        # quarantine route), same docs every burst
        import math as _math

        corrupted = []
        for i, d in enumerate(docs):
            if _math.floor((i + 1) * bad_frac) > _math.floor(i * bad_frac):
                corrupted.append(d[:-1] + "!")
                n_bad += 1
            else:
                corrupted.append(d)
        docs = corrupted
    payload = ("\n".join(docs) + "\n").encode()

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    holder: dict = {}
    ready = threading.Event()
    done = threading.Event()

    def serve():
        conn, _ = srv.accept()
        holder["conn"] = conn
        ready.set()
        done.wait(600)
        conn.close()

    threading.Thread(target=serve, daemon=True).start()
    tmp = tempfile.mkdtemp(prefix="bolson_bench_stream_")
    tracker = LatencyTracker()
    t0 = time.time()
    query, metrics = run_stream_convert(
        read_socket_stream(spark, "127.0.0.1", port),
        _schema(schema_name),
        IpcFileSink(f"{tmp}/topic"),
        max_rows=max_rows,
        checkpoint_dir=f"{tmp}/ckpt",
        available_now=False,
        latency=tracker,
        on_error="quarantine" if bad_frac else "fail",
        quarantine_dir=f"{tmp}/quarantine" if bad_frac else None,
    )
    try:
        assert ready.wait(60), "socket source never connected"
        total = 0
        for i in range(num_batches):
            holder["conn"].sendall(payload)
            total += len(docs)

            # under --bad-frac, num_jsons counts only CLEAN documents;
            # the quarantined remainder shows up in num_quarantined
            def drained() -> int:
                return metrics.num_jsons + metrics.num_quarantined

            deadline = time.time() + 60
            while drained() < total and time.time() < deadline:
                if query.exception() is not None:
                    raise query.exception()  # dead query: fail NOW,
                    # not after num_batches x 60 s of silent waiting
                time.sleep(0.02)
            if drained() < total:
                raise RuntimeError(
                    f"burst {i}: drained {drained()}/{total} "
                    "docs within 60 s — stream stalled"
                )
        query.stop()
        query.awaitTermination(30)
    finally:
        done.set()
        srv.close()
    elapsed = time.time() - t0
    if not tracker.points:
        raise RuntimeError(
            "no micro-batch was published — nothing to report percentiles on"
        )

    def pcts(vals_ns):
        a = np.asarray(vals_ns, dtype=np.float64) / 1e6  # -> ms
        return {
            "p50_ms": round(float(np.percentile(a, 50)), 3),
            "p99_ms": round(float(np.percentile(a, 99)), 3),
        }

    stages = {
        TIME_POINTS[i].lower(): pcts(
            [p.diff_ns(i) for p in tracker.points]
        )
        for i in range(1, len(TIME_POINTS))
    }
    stages["end_to_end"] = pcts(
        [round((p.time[-1] - p.time[0]) * 1e9) for p in tracker.points]
    )
    return {
        "num_batches_sent": num_batches,
        "num_batches_published": len(tracker.points),
        "num_jsons": metrics.num_jsons,
        "bad_frac": bad_frac,
        "num_bad_per_burst": n_bad,
        "num_quarantined": metrics.num_quarantined,
        "elapsed_sec": round(elapsed, 3),
        "mjs": round(metrics.num_jsons / 1e6 / elapsed, 6)
        if elapsed
        else None,
        "latency": stages,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="bolson-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("stream", help="convert a JSON stream to IPC messages")
    s.add_argument("--in-dir", help="directory of jsonl files (replayable source)")
    s.add_argument("--host", default="localhost")
    s.add_argument("--port", type=int, default=10197)  # cli.cpp:29-34 default
    s.add_argument("--schema", choices=SCHEMAS, default="battery")
    s.add_argument(
        "--sink",
        required=True,
        help="directory path (IPC file topic), kafka://host:port/topic, "
        "or pulsar://host:port/topic",
    )
    s.add_argument(
        "--on-error",
        choices=("fail", "quarantine"),
        default="fail",
        help="bad-document posture: fail the job (reference semantics) "
        "or route to --quarantine-dir and keep streaming",
    )
    s.add_argument("--quarantine-dir", help="dead-letter parquet dir")
    # producer batching (K3) — defaults from publisher.cpp:265-277
    s.add_argument("--batch", action="store_true", help="enable producer batching")
    s.add_argument("--batch-max-messages", type=int, default=1000)
    s.add_argument("--batch-max-bytes", type=int, default=128 * 1024)
    s.add_argument("--batch-max-delay", type=int, default=10, help="ms")
    s.add_argument("--max-rows", type=int, default=MAX_ROWS_DEFAULT)
    s.add_argument("--max-ipc", type=int, default=MAX_IPC_SIZE)
    s.add_argument("--checkpoint")
    s.add_argument("--max-files-per-trigger", type=int)
    s.add_argument(
        "--latency",
        help="latency CSV path (M2); stages each micro-batch to stamp it",
    )
    s.add_argument("--metrics", help="metrics CSV path (M1)")
    s.set_defaults(fn=cmd_stream)

    ig = sub.add_parser(
        "ingest",
        help="ledger-gated corpus ingestion (exact + optional near-dup)",
    )
    ig.add_argument("--in-dir", required=True, help="jsonl docs (doc_id, text)")
    ig.add_argument("--out-dir", required=True)
    ig.add_argument("--checkpoint", required=True)
    ig.add_argument(
        "--near-dup",
        type=float,
        default=None,
        metavar="JACCARD",
        help="also reject near-duplicates at this Jaccard threshold",
    )
    ig.add_argument(
        "--in-batch-near-dedup",
        action="store_true",
        help="with --near-dup: also cross-gate near-dups arriving in"
        " the same micro-batch (lowest doc id wins)",
    )
    ig.add_argument("--max-files-per-trigger", type=int)
    ig.set_defaults(fn=cmd_ingest)

    sz = sub.add_parser(
        "sessionize", help="streaming gap sessionization of user events"
    )
    sz.add_argument(
        "--in-dir", required=True, help="jsonl events (user_id, us, value)"
    )
    sz.add_argument("--out-dir", required=True)
    sz.add_argument("--checkpoint", required=True)
    sz.add_argument("--watermark", default="0 seconds")
    sz.add_argument("--max-files-per-trigger", type=int)
    sz.set_defaults(fn=cmd_sessionize)

    mo = sub.add_parser(
        "monitor", help="streaming cardinality/frequency sketch monitor"
    )
    mo.add_argument(
        "--in-dir", required=True, help="jsonl docs (doc_id, text, source)"
    )
    mo.add_argument("--out-dir", required=True)
    mo.add_argument("--checkpoint", required=True)
    mo.add_argument("--p", type=int, default=6, help="HLL register bits")
    mo.add_argument(
        "--probe-tokens",
        nargs="*",
        help="tokens to frequency-estimate via the count-min monitor",
    )
    mo.add_argument(
        "--length-bounds",
        nargs=2,
        type=int,
        metavar=("VMIN", "VMAX"),
        help="frozen doc-token-count bounds: enables the per-source "
        "p50/p95/p99 length quantile monitor",
    )
    mo.add_argument("--max-files-per-trigger", type=int)
    mo.add_argument(
        "--compact",
        action="store_true",
        help="collapse this run's sketch-state partitions after the "
        "drain (same effect as a follow-up monitor-compact)",
    )
    mo.set_defaults(fn=cmd_monitor)

    mc = sub.add_parser(
        "monitor-compact",
        help="collapse a monitor run's (run,batch) sketch partitions "
        "into one merged partition per state kind (crash-safe, "
        "estimate-preserving)",
    )
    mc.add_argument("--out-dir", required=True, help="monitor state dir")
    mc.add_argument(
        "--checkpoint",
        help="checkpoint lineage selecting the run (required when the "
        "state holds several runs)",
    )
    mc.set_defaults(fn=cmd_monitor_compact)

    mu = sub.add_parser(
        "monitor-union",
        help="distinct-key estimates over the UNION of several monitor "
        "states (register MAX merge — no stream is re-scanned)",
    )
    mu.add_argument(
        "--state-dirs", nargs="+", required=True,
        help="monitor out-dirs to merge",
    )
    mu.add_argument("--p", type=int, default=6, help="HLL register bits")
    mu.set_defaults(fn=cmd_monitor_union)

    ic = sub.add_parser(
        "ingest-compact",
        help="fold the ingest run's committed ledger + near-dup index "
        "partitions into one merged partition each (crash-safe, "
        "gate-preserving)",
    )
    ic.add_argument("--out-dir", required=True, help="ingest output dir")
    ic.add_argument(
        "--checkpoint", required=True,
        help="the ingest checkpoint (selects the run and its commit "
        "horizon)",
    )
    ic.set_defaults(fn=cmd_ingest_compact)

    b = sub.add_parser("bench", help="micro-benchmarks")
    bsub = b.add_subparsers(dest="bench_cmd", required=True)
    bc = bsub.add_parser("convert", help="B2: seq+parse+serialize rate")
    bc.add_argument("--schema", choices=SCHEMAS, default="battery")
    bc.add_argument("--num-jsons", type=int, default=1024)  # cli.cpp:59-71 default
    bc.add_argument("--seed", type=int, default=0)
    bc.add_argument("--repeats", type=int, default=1)
    bc.add_argument(
        "--partitions", type=int, default=8,
        help="partitions of the generated input frame",
    )
    bc.add_argument("--max-rows", type=int, default=MAX_ROWS_DEFAULT)
    bc.add_argument("--max-ipc", type=int, default=MAX_IPC_SIZE)
    bc.set_defaults(fn=cmd_bench_convert)
    bq = bsub.add_parser("queries", help="registry benchmark (bench.py)")
    bq.set_defaults(fn=lambda a: __import__("bench").main() or 0)
    bp = bsub.add_parser("pipeline", help="end-to-end corpus pipeline docs/s")
    bp.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    bp.add_argument("--repeats", type=int, default=3)
    bp.set_defaults(fn=cmd_bench_pipeline)
    bs = bsub.add_parser("sink", help="B4: sink-only goodput/latency")
    bs.add_argument("--sink", required=True)
    bs.add_argument("--num-messages", type=int, default=1024)
    bs.add_argument("--message-size", type=int, default=65536)
    bs.set_defaults(fn=cmd_bench_sink)
    bl = bsub.add_parser(
        "stream",
        help="sustained-load latency percentiles over the socket path",
    )
    bl.add_argument("--schema", choices=SCHEMAS, default="battery")
    bl.add_argument(
        "--num-jsons", type=int, default=2048, help="documents per burst"
    )
    bl.add_argument("--num-batches", type=int, default=10)
    bl.add_argument("--seed", type=int, default=0)
    bl.add_argument("--max-rows", type=int, default=MAX_ROWS_DEFAULT)
    bl.add_argument(
        "--bad-frac",
        type=float,
        default=0.0,
        help="corrupt this fraction of each burst's documents and run "
        "the stream in quarantine mode, so the dead-letter route gets "
        "latency percentiles too (0 = clean path, on_error='fail')",
    )
    bl.set_defaults(fn=cmd_bench_stream)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
