"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_socket --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end set (BENCHMARK.json
``end_to_end``); with ``--trace 1`` the run records spans around the
calls into each layer and reports the per-layer set, tracing overhead
included.
``--workload all`` runs every workload in turn, one process each.
Everything the run writes stays under ``perfbench/_work`` and
``perfbench/out``. See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream_socket", "convert_bulk")
SETUPS = 3


def _log(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - T0:7.1f} s  {msg}", file=sys.stderr, flush=True)


def _prepare_env(work: str) -> None:
    """Confine every file Spark, the JVM and Python workers write to
    ``work``, and let workers import the package from this checkout.
    Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    sys.path[:0] = [ROOT, HERE]


def _run_all(args) -> int:
    code = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        last = proc.stdout.strip().splitlines()[-1:] or ["{}"]
        print(json.dumps({"workload": name, **json.loads(last[0])}), flush=True)
        code = code or proc.returncode
    return code


def _measure(workload, spark, args, work, tracer):
    if workload == "stream_socket":
        import stream

        return stream.measure(spark, args.seconds, args.seed, work, tracer,
                              "traced" if tracer.enabled else "main")
    import convert

    return convert.measure(spark, args.seconds, args.inputs, tracer)


def _set_up(workload, args, work):
    """Write the workload's inputs (untimed), then set up the session
    ``SETUPS`` times with the workload's warm-up."""
    from common import set_up

    if workload == "stream_socket":
        import stream

        count = [0]
        return set_up(lambda s: stream.warm_up(s, work, args.seed, count), repeats=SETUPS)
    import convert

    args.inputs = convert.write_inputs(work, args.seed)
    _log("inputs written")
    return set_up(lambda s: convert.warm_up(s, work, args.seed), repeats=SETUPS)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM ends the run through the cleanup in ``finally`` blocks,
    # which stop every process the run started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload == "all":
        return _run_all(args)

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    _prepare_env(work)
    try:
        import bolson_spark  # noqa: F401 — fail early outside a full checkout
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    from common import Tracer, host_cpu_ticks, mem_peak_mb, median, steal_frac, stop_spark

    try:
        spark, setups = _set_up(args.workload, args, work)
        _log(f"set-ups {[round(t, 1) for t in setups]}")
        tracer = Tracer(bool(args.trace))
        ticks = host_cpu_ticks()
        res = _measure(args.workload, spark, args, work, tracer)
        res["layers"]["host.steal_frac"] = steal_frac(ticks, host_cpu_ticks())
        _log(f"measured; other guests took {res['layers']['host.steal_frac']:.0%} of the CPU")
        report = {"workload": args.workload, "seed": args.seed, "setups_s": setups,
                  "result": res}
        if args.trace:
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
            layers = dict(res["layers"])
            layers["setup.first_s"] = setups[0]
            layers["mem.peak_mb"] = mem_peak_mb(spark)
            layers["fail_frac"] = res["failed"] / res["attempted"]
            metrics = {n: layers.get(n, 0.0) for n in _names("per_layer")}
        else:
            e2e = dict(res["e2e"], setup_s=median(setups))
            metrics = {n: e2e[n] for n in _names("end_to_end")}
        report["metrics"] = metrics
        with open(os.path.join(out_dir, f"report-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
            json.dump(report, f, indent=1, default=str)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the cleanup finish
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    units = _names("end_to_end") | _names("per_layer")
    result = {
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {
            k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()
        },
    }
    print(json.dumps(result), flush=True)
    return 0


def _names(group: str) -> dict[str, str]:
    """Metric name -> unit for one group of BENCHMARK.json, in order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[group]}


if __name__ == "__main__":
    code = main()
    _log("exit")
    sys.exit(code)
