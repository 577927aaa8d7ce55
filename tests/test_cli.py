"""CLI driver tests for the round-5 product surface: `ingest` (the
ledger-gated, optionally near-dup corpus ingestion) and `sessionize`
(watermark-finalized streaming sessionization) — both wired to the
library paths the streaming tests cover, invoked through main() the
way a user would run them. The in-process SparkSession is shared via
getOrCreate, so these run against the same test session."""

from __future__ import annotations

import json

from bolson_spark.cli import main


def _out_line(capsys) -> dict:
    lines = [
        ln for ln in capsys.readouterr().out.strip().splitlines() if ln
    ]
    return json.loads(lines[-1])


def test_cli_ingest_near_dup_across_runs(spark, tmp_path, capsys):
    """Two `ingest` invocations over a shared out-dir: run 2 re-feeds
    an exact dup (ledger-rejected via the Bloom-prefiltered gate), a
    near-dup (MinHash-index-rejected via --near-dup), and one new doc
    — drain parity via the summary line, exactly-once acceptance via
    the parquet output."""
    base = [f"tok{j}" for j in range(40)]
    near = ["zz0", "zz1"] + base[2:]  # J ~ 0.905 vs base
    src1 = tmp_path / "src1"
    src1.mkdir()
    (src1 / "a.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"doc_id": 1, "text": " ".join(base)},
                {"doc_id": 2, "text": "totally different content here"},
            ]
        )
        + "\n"
    )
    out = tmp_path / "corpus"
    rc = main(
        [
            "ingest",
            "--in-dir", str(src1),
            "--out-dir", str(out),
            "--checkpoint", str(tmp_path / "ck1"),
            "--near-dup", "0.9",
        ]
    )
    assert rc == 0
    assert _out_line(capsys)["accepted_total"] == 2

    src2 = tmp_path / "src2"
    src2.mkdir()
    (src2 / "b.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"doc_id": 3, "text": " ".join(base)},   # exact dup
                {"doc_id": 4, "text": " ".join(near)},   # near dup
                {"doc_id": 5, "text": "brand new fifth document"},
            ]
        )
        + "\n"
    )
    rc = main(
        [
            "ingest",
            "--in-dir", str(src2),
            "--out-dir", str(out),
            "--checkpoint", str(tmp_path / "ck2"),  # fresh run
            "--near-dup", "0.9",
        ]
    )
    assert rc == 0
    assert _out_line(capsys)["accepted_total"] == 3
    got = {
        r.doc_id
        for r in spark.read.parquet(str(out / "accepted")).collect()
    }
    assert got == {1, 2, 5}


def test_cli_bench_stream_latency_percentiles(spark, capsys):
    """`bench stream` drives paced bursts through the live socket path
    and reports per-stage + end-to-end p50/p99 — every burst must
    drain (num_jsons == bursts * docs), every published batch must be
    stamped, and the percentile fields must be coherent (p50 <= p99,
    end-to-end >= the parse stage median)."""
    assert (
        main(
            [
                "bench",
                "stream",
                "--num-jsons", "300",
                "--num-batches", "3",
            ]
        )
        == 0
    )
    out = _out_line(capsys)
    assert out["num_jsons"] == 900
    assert out["num_batches_published"] >= out["num_batches_sent"] == 3
    lat = out["latency"]
    for stage in ("parse", "resize", "serialize", "pop", "publish", "end_to_end"):
        assert lat[stage]["p50_ms"] <= lat[stage]["p99_ms"]
    assert lat["end_to_end"]["p50_ms"] >= lat["parse"]["p50_ms"]


def test_cli_bench_stream_bad_frac_quarantine_route(spark, capsys):
    """`bench stream --bad-frac` corrupts an evenly-spaced fraction of
    every burst and runs the stream in quarantine mode: the dead-letter
    route gets the same sustained-load treatment as the clean path.
    Every burst must fully drain as clean + quarantined, the
    quarantined count must match the corrupted fraction exactly, and
    the latency report must still be coherent (the quarantine write
    happens inside the measured batch, so its cost is IN the
    percentiles — that is the point of the knob)."""
    assert (
        main(
            [
                "bench",
                "stream",
                "--num-jsons", "300",
                "--num-batches", "2",
                "--bad-frac", "0.1",
            ]
        )
        == 0
    )
    out = _out_line(capsys)
    assert out["num_bad_per_burst"] == 30
    assert out["num_quarantined"] == 60
    assert out["num_jsons"] == 540  # clean docs only
    assert out["num_batches_published"] >= out["num_batches_sent"] == 2
    lat = out["latency"]
    for stage in ("parse", "resize", "serialize", "end_to_end"):
        assert lat[stage]["p50_ms"] <= lat[stage]["p99_ms"]


def test_cli_sessionize_closes_on_watermark(spark, tmp_path, capsys):
    """`sessionize` over two invocations sharing a checkpoint: run 1
    folds the real events into state; run 2's far-future sentinel
    advances the watermark and fires the timers, closing both real
    sessions with exact boundaries."""
    base_us = 1_700_000_000_000_000
    m = 60_000_000
    src = tmp_path / "ev"
    src.mkdir()
    (src / "a.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"user_id": 1, "us": base_us, "value": 1.0},
                {"user_id": 1, "us": base_us + 10 * m, "value": 2.0},
                {"user_id": 1, "us": base_us + 300 * m, "value": 4.0},
            ]
        )
        + "\n"
    )
    out = tmp_path / "sessions"
    ck = tmp_path / "sck"
    args = [
        "sessionize",
        "--in-dir", str(src),
        "--out-dir", str(out),
        "--checkpoint", str(ck),
    ]
    assert main(args) == 0
    first = _out_line(capsys)["sessions_closed"]

    (src / "b.jsonl").write_text(
        json.dumps({"user_id": 9, "us": base_us + 100_000 * m, "value": 0.0})
        + "\n"
    )
    (src / "c.jsonl").write_text(
        json.dumps({"user_id": 9, "us": base_us + 100_001 * m, "value": 0.0})
        + "\n"
    )
    assert main(args) == 0
    assert _out_line(capsys)["sessions_closed"] >= first
    rows = sorted(
        (
            (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
            for r in spark.read.parquet(str(out)).collect()
            if r.user_id == 1
        ),
    )
    assert rows == [
        (1, base_us, base_us + 10 * m, 2),
        (1, base_us + 300 * m, base_us + 300 * m, 1),
    ]


def test_cli_monitor_cardinality_and_frequency(spark, tmp_path, capsys):
    """`monitor` over a two-source jsonl batch: the summary line must
    report per-source + ALL distinct-token HLL estimates within the
    m=64 error band of the truth, and exact count-min estimates for
    probed tokens (no collisions at this tiny scale beyond the
    one-sided guarantee)."""
    src = tmp_path / "docs"
    src.mkdir()
    web_toks = [f"w{i}" for i in range(600)]
    book_toks = [f"b{i}" for i in range(300)]
    rows = [
        {"doc_id": 1, "text": " ".join(web_toks[:350]), "source": "web"},
        {"doc_id": 2, "text": " ".join(web_toks[250:]), "source": "web"},
        {"doc_id": 3, "text": " ".join(book_toks) + " common", "source": "books"},
        {"doc_id": 4, "text": "common common w0", "source": "books"},
    ]
    (src / "a.jsonl").write_text("\n".join(json.dumps(r) for r in rows))
    rc = main(
        [
            "monitor",
            "--in-dir", str(src),
            "--out-dir", str(tmp_path / "mon"),
            "--checkpoint", str(tmp_path / "ck"),
            "--probe-tokens", "common", "w0", "neverseen",
            "--length-bounds", "0", "1024",
        ]
    )
    assert rc == 0
    line = [
        ln for ln in capsys.readouterr().out.splitlines()
        if ln.startswith("{")
    ][-1]
    out = json.loads(line)
    card = out["distinct_tokens_est"]
    truth = {"web": 600, "books": 302, "ALL": 901}
    assert set(card) == set(truth)
    for scope, n in truth.items():
        assert abs(card[scope] - n) <= 0.52 * n, (scope, card[scope], n)
    freq = out["token_freq_est"]
    assert freq["common"] >= 3  # 1 in doc 3 + 2 in doc 4
    assert freq["w0"] >= 2  # doc 1 + doc 4
    # never-ingested probe stays in the output; at the default 4x256
    # grid its cells carry collision mass from ~900 distinct tokens,
    # so only the one-sided bound holds (exact-zero with a wide grid
    # is covered in test_functions' cm test)
    assert 0 <= freq["neverseen"] <= 30
    # per-source doc-length quantiles: web docs are 350-token docs,
    # books docs are 301 and 3 tokens — p50/p95/p99 within one 4-token
    # bin width (span 1025 / 256 bins) of the known disc quantiles
    ql = out["doc_length_quantiles"]
    for key, truth in (
        ("web:p50", 350), ("web:p99", 350),
        ("books:p50", 3), ("books:p99", 301),
    ):
        assert truth <= ql[key] <= truth + 5, (key, ql[key], truth)


def test_cli_monitor_empty_in_dir(spark, tmp_path, capsys):
    """`monitor` over an empty --in-dir processes zero micro-batches,
    so no state dirs exist — the readback must report empty estimate
    sets (a legitimate "nothing ingested yet" answer), not throw
    PATH_NOT_FOUND."""
    src = tmp_path / "docs"
    src.mkdir()  # exists, but holds no files
    rc = main(
        [
            "monitor",
            "--in-dir", str(src),
            "--out-dir", str(tmp_path / "mon"),
            "--checkpoint", str(tmp_path / "ck"),
            "--probe-tokens", "common",
            "--length-bounds", "0", "1024",
        ]
    )
    assert rc == 0
    line = [
        ln for ln in capsys.readouterr().out.splitlines()
        if ln.startswith("{")
    ][-1]
    out = json.loads(line)
    assert out["distinct_tokens_est"] == {}
    assert out["token_freq_est"] == {}
    assert out["doc_length_quantiles"] == {}


def test_cli_monitor_probe_after_drain_missing_cm_state(
    spark, tmp_path, capsys
):
    """Per-kind readback gating: drain a backlog WITHOUT
    --probe-tokens (creates hll state only), then probe the same
    checkpoint WITH --probe-tokens and no new input. The second
    invocation processes zero micro-batches, so cm_cells never
    exists — the report must still carry the hll estimates and answer
    the probe with an empty set, not crash on the missing cm dir
    (gating every readback on hll_registers did exactly that)."""
    src = tmp_path / "docs"
    src.mkdir()
    (src / "a.jsonl").write_text(
        json.dumps({"doc_id": 1, "text": "a b c", "source": "web"})
    )
    args = [
        "monitor",
        "--in-dir", str(src),
        "--out-dir", str(tmp_path / "mon"),
        "--checkpoint", str(tmp_path / "ck"),
    ]
    assert main(args) == 0
    capsys.readouterr()
    rc = main(args + ["--probe-tokens", "a", "--length-bounds", "0", "64"])
    assert rc == 0
    line = [
        ln for ln in capsys.readouterr().out.splitlines()
        if ln.startswith("{")
    ][-1]
    out = json.loads(line)
    # hll state accumulated under the same run — estimates survive
    assert out["distinct_tokens_est"]["web"] > 0
    # cm/hist state was never written for this run — empty, not a crash
    assert out["token_freq_est"] == {}
    assert out["doc_length_quantiles"] == {}


def test_cli_monitor_union_and_compact(spark, tmp_path, capsys):
    """e2e: two independent `monitor` runs (two crawls), then
    `monitor-union` must report estimates BIT-matching a single
    monitor over the concatenation, before AND after `monitor-compact`
    collapses each state to one partition per kind."""
    import os

    crawls = {
        "c1": [
            {"doc_id": 1, "text": " ".join(f"w{i}" for i in range(300)),
             "source": "web"},
        ],
        "c2": [
            {"doc_id": 2, "text": " ".join(f"w{i}" for i in range(150, 450)),
             "source": "web"},
            {"doc_id": 3, "text": " ".join(f"b{i}" for i in range(100)),
             "source": "books"},
        ],
    }
    state_dirs = []
    for name, rows in crawls.items():
        src = tmp_path / f"docs_{name}"
        src.mkdir()
        (src / "a.jsonl").write_text(
            "\n".join(json.dumps(r) for r in rows)
        )
        out = str(tmp_path / f"mon_{name}")
        assert main([
            "monitor", "--in-dir", str(src), "--out-dir", out,
            "--checkpoint", str(tmp_path / f"ck_{name}"),
        ]) == 0
        state_dirs.append(out)

    # the oracle: ONE monitor over the concatenation
    src_all = tmp_path / "docs_all"
    src_all.mkdir()
    (src_all / "a.jsonl").write_text(
        "\n".join(json.dumps(r) for rows in crawls.values() for r in rows)
    )
    out_all = str(tmp_path / "mon_all")
    assert main([
        "monitor", "--in-dir", str(src_all), "--out-dir", out_all,
        "--checkpoint", str(tmp_path / "ck_all"),
    ]) == 0
    capsys.readouterr()

    def union_est():
        assert main(["monitor-union", "--state-dirs", *state_dirs]) == 0
        line = [
            ln for ln in capsys.readouterr().out.splitlines()
            if ln.startswith("{")
        ][-1]
        return json.loads(line)["distinct_tokens_est"]

    assert main(["monitor-union", "--state-dirs", out_all]) == 0
    line = [
        ln for ln in capsys.readouterr().out.splitlines()
        if ln.startswith("{")
    ][-1]
    want = json.loads(line)["distinct_tokens_est"]
    assert union_est() == want

    # compact each state, then the union must be unchanged
    for out in state_dirs:
        assert main(["monitor-compact", "--out-dir", out]) == 0
        run_dirs = [
            d for d in os.listdir(os.path.join(out, "hll_registers"))
            if d.startswith("run=")
        ]
        parts = os.listdir(
            os.path.join(out, "hll_registers", run_dirs[0])
        )
        assert len([d for d in parts if d.startswith("batch=")]) == 1
    capsys.readouterr()
    assert union_est() == want


def test_cli_ingest_compact(spark, tmp_path, capsys):
    """e2e: ingest two batches, `ingest-compact` folds the committed
    ledger partitions, and a follow-up ingest on the same checkpoint
    still rejects previously accepted content."""
    import os

    src = tmp_path / "docs"
    src.mkdir()
    mtime = 1_700_000_000
    for i, rows in enumerate([
        [{"doc_id": 1, "text": "alpha"}],
        [{"doc_id": 2, "text": "beta"}],
    ]):
        p = src / f"{i}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in rows))
        mtime += 60
        os.utime(p, (mtime, mtime))
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    assert main(["ingest", "--in-dir", str(src), "--out-dir", out,
                 "--checkpoint", ck, "--max-files-per-trigger", "1"]) == 0
    capsys.readouterr()
    assert main(["ingest-compact", "--out-dir", out,
                 "--checkpoint", ck]) == 0
    line = [
        ln for ln in capsys.readouterr().out.splitlines()
        if ln.startswith("{")
    ][-1]
    rep = json.loads(line)
    assert rep["ledger"]["compacted"] and rep["ledger"]["folded"] == 2

    p = src / "2.jsonl"
    p.write_text(json.dumps({"doc_id": 3, "text": "alpha"}) + "\n"
                 + json.dumps({"doc_id": 4, "text": "gamma"}))
    os.utime(p, (mtime + 60, mtime + 60))
    assert main(["ingest", "--in-dir", str(src), "--out-dir", out,
                 "--checkpoint", ck, "--max-files-per-trigger", "1"]) == 0
    got = {
        r.text: r.doc_id
        for r in spark.read.parquet(out + "/accepted").collect()
    }
    assert got == {"alpha": 1, "beta": 2, "gamma": 4}


def test_cli_monitor_compact_flag(spark, tmp_path, capsys):
    """`monitor --compact` compacts the state in the same invocation:
    the summary carries the compaction report and a follow-up read
    returns the same estimates."""
    import os

    from bolson_spark.streaming.monitor import cardinality_estimates

    src = tmp_path / "docs"
    src.mkdir()
    rows = [
        {"doc_id": i, "text": " ".join(f"w{j}" for j in range(i * 5, i * 5 + 30)),
         "source": "web"}
        for i in range(3)
    ]
    for i, r in enumerate(rows):
        p = src / f"{i}.jsonl"
        p.write_text(json.dumps(r))
        os.utime(p, (1_700_000_000 + 60 * i,) * 2)
    out = str(tmp_path / "mon")
    rc = main([
        "monitor", "--in-dir", str(src), "--out-dir", out,
        "--checkpoint", str(tmp_path / "ck"),
        "--max-files-per-trigger", "1", "--compact",
    ])
    assert rc == 0
    rep = _out_line(capsys)
    assert rep["compaction"]["hll"]["compacted"]
    run_dir = [
        d for d in os.listdir(os.path.join(out, "hll_registers"))
        if d.startswith("run=")
    ][0]
    parts = os.listdir(os.path.join(out, "hll_registers", run_dir))
    assert [d for d in parts if d.startswith("batch=")] == ["batch=-1"]
    # post-compaction read matches the in-run report
    got = {
        r.scope: round(r.hll_estimate, 1)
        for r in cardinality_estimates(spark, out, p=6).collect()
    }
    assert got == rep["distinct_tokens_est"]


def test_cli_monitor_compact_failure_keeps_report(spark, tmp_path, capsys):
    """A failing --compact must not discard the successful drain's
    report: the JSON summary still prints (estimates intact) with the
    error embedded, and the exit code flags the maintenance failure."""
    import os

    src = tmp_path / "docs"
    src.mkdir()
    (src / "a.jsonl").write_text(
        json.dumps({"doc_id": 1, "text": "alpha beta", "source": "web"})
    )
    out = str(tmp_path / "mon")
    ck = str(tmp_path / "ck")
    # first run WITH probe tokens so count-min state exists
    assert main(["monitor", "--in-dir", str(src), "--out-dir", out,
                 "--checkpoint", ck, "--probe-tokens", "alpha"]) == 0
    capsys.readouterr()
    # poison ONLY the cm state's layout version, then drain a new file
    # WITHOUT probe tokens (the drain writes hll state only, so it
    # succeeds) — the compactor still sweeps the poisoned cm dir and
    # must refuse there
    with open(os.path.join(out, "cm_cells", "_bolson_state_version"),
              "w") as f:
        f.write("99")
    (src / "b.jsonl").write_text(
        json.dumps({"doc_id": 2, "text": "gamma", "source": "web"})
    )
    rc = main(["monitor", "--in-dir", str(src), "--out-dir", out,
               "--checkpoint", ck, "--compact"])
    rep = _out_line(capsys)
    assert rc == 1
    assert rep["distinct_tokens_est"]  # the drain's report survived
    assert "error" in rep["compaction"]
    assert "layout version" in rep["compaction"]["error"]


def _stream_args(tmp_path, docs_per_file: int, n_files: int) -> list[str]:
    src = tmp_path / "src"
    src.mkdir()
    for f in range(n_files):
        (src / f"{f}.jsonl").write_text(
            "".join(
                json.dumps({"voltage": [f, i]}) + "\n"
                for i in range(docs_per_file)
            )
        )
    return [
        "stream",
        "--in-dir", str(src),
        "--sink", str(tmp_path / "topic"),
        "--max-files-per-trigger", "1",
        "--max-rows", "64",
    ]


def _published_seqs(spark, topic) -> list[int]:
    from bolson_spark.operators import deserialize_ipc
    from bolson_spark.streaming.sink import IpcFileSink

    out = deserialize_ipc(
        IpcFileSink(str(topic)).read(spark), "bolson_seq bigint, voltage array<bigint>"
    )
    return sorted(r.bolson_seq for r in out.collect())


def test_cli_stream_fused_without_latency(spark, tmp_path, capsys, monkeypatch):
    """`stream` without --latency runs the fused micro-batch (no latency
    tracker, so no per-stage barriers), publishes every doc with
    contiguous seqs, and writes no latency CSV."""
    import bolson_spark.streaming as streaming

    seen = []
    real = streaming.run_stream_convert

    def spy(*a, **kw):
        seen.append(kw.get("latency"))
        return real(*a, **kw)

    monkeypatch.setattr(streaming, "run_stream_convert", spy)
    assert main(_stream_args(tmp_path, 150, 2)) == 0
    assert seen == [None]
    assert _out_line(capsys)["num_jsons"] == 300
    assert _published_seqs(spark, tmp_path / "topic") == list(range(300))
    assert not list(tmp_path.rglob("*.csv"))


def test_cli_stream_latency_csv(spark, tmp_path, capsys):
    """`stream --latency` runs the staged path and writes one CSV row
    per micro-batch, each covering that batch's seq range."""
    import csv

    lat = tmp_path / "latency.csv"
    args = _stream_args(tmp_path, 150, 3) + ["--latency", str(lat)]
    assert main(args) == 0
    assert _out_line(capsys)["num_jsons"] == 450
    assert _published_seqs(spark, tmp_path / "topic") == list(range(450))
    with open(lat) as f:
        rows = list(csv.DictReader(f))
    assert sorted((int(r["First"]), int(r["Last"])) for r in rows) == [
        (0, 149), (150, 299), (300, 449)
    ]


def test_cli_bench_convert_smoke(spark, capsys):
    """`bench convert` times convert(..., serialize=True) over
    arrival-ordered range partitions and reports at least
    ceil(num_jsons / max_rows) messages."""
    assert main(["bench", "convert", "--num-jsons", "2000"]) == 0
    out = _out_line(capsys)
    assert out["num_jsons"] == 2000
    assert out["num_ipc"] >= 2 and out["ipc_mb"] > 0 and out["sec"] > 0


def test_cli_bench_sink_smoke(spark, tmp_path, capsys):
    """`bench sink` publishes its junk messages as one driver-side table
    through the IPC sink; the topic reads back one row per message."""
    from bolson_spark.streaming.sink import IpcFileSink

    topic = str(tmp_path / "topic")
    assert main([
        "bench", "sink", "--sink", topic,
        "--num-messages", "32", "--message-size", "1024",
    ]) == 0
    out = _out_line(capsys)
    assert out["num_messages"] == 32 and out["message_size"] == 1024
    assert out["sec"] > 0 and out["goodput_mbs"] > 0
    back = IpcFileSink(topic).read(spark).toArrow()
    assert back.num_rows == 32
    assert set(back.column("ipc_bytes").to_pylist()) == {1024}
    assert sorted(back.column("seq_first").to_pylist()) == list(range(32))
