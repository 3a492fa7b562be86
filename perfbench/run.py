#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload build|probe|ingest --seed N \\
        --seconds S --trace 0|1

Run from the repository root.  Starts one Spark driver on
``local[<cores>]``, sets the workload up several times, runs untimed
warm-up ops, then runs ops back to back (one client, closed loop) for
``--seconds`` and checks every op's outputs.  The last line
of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
The line before it is ``{"info": ...}``: sample counts, the tail
percentile used, the corpus digest, load average and any contending
processes.  A traced run also writes its spans to
``perfbench/out/trace-<workload>-seed<N>.json``."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from pathlib import Path

T0 = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"

SETUP_REPS = 3
MIN_OPS = 2
#: untimed warm-up: at least this many ops and this many seconds (op
#: times keep falling for a few seconds after the first op)
WARMUP_OPS, WARMUP_S = 2, 5.0
#: consecutive failed ops after which the loop gives up
MAX_CONSECUTIVE_FAILURES = 3
DRIVER_MEMORY = "2g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["build", "probe", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(timings: dict):
    from btl_bloomfilter_spark.session import get_spark, package_zip

    t0 = time.perf_counter()
    package_zip()
    timings["session.package_zip_s"] = time.perf_counter() - t0
    n = cores()
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEMORY,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    timings["session.get_spark_s"] = time.perf_counter() - t0
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to end,
    also when the context can no longer be stopped cleanly."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def run_loop(wl, tracer, seconds: float, trace: bool, expected_op_s: float):
    """Closed loop: the next op starts when the previous one (and its
    check) has finished.  In a traced run every other op is traced, so
    the untraced ones in between give the tracing overhead."""
    from perfbench.spans import RssSampler
    from perfbench.summary import median

    ops = []
    consecutive = 0
    with RssSampler() as rss:
        t_start = time.perf_counter()
        i = 0
        # start an op only if it is expected to end inside the window
        # (two ops at least), so every run measures about --seconds
        while i < MIN_OPS or time.perf_counter() - t_start + expected_op_s < seconds:
            tracer.enabled = trace and i % 2 == 1
            tracer.op_id = i
            tracer.bookkeeping_s = 0.0
            first_span = len(tracer.spans)
            wl.probed.clear()
            rec = {"op": i, "traced": tracer.enabled, "ok": False}
            try:
                t0 = time.perf_counter()
                with tracer.span("op", "bench") as root:
                    turns, result = wl.op()
                rec["wall_s"] = time.perf_counter() - t0
                bad, acc = wl.check(result)
                rec.update(ok=not bad, turns=turns, problems=bad, acc=acc)
                if tracer.enabled:
                    rec["bookkeeping_s"] = tracer.bookkeeping_s
                    tracer.enabled = False
                    wl.trace_extras(result, root)
                    tracer.attach_stages(first_span)
                    rec["root"] = root["id"]
                consecutive = 0
            except Exception:  # one failed op is counted, not fatal
                rec.setdefault("wall_s", time.perf_counter() - t0)
                rec["problems"] = [traceback.format_exc()]
                consecutive += 1
            ops.append(rec)
            expected_op_s = median([o["wall_s"] for o in ops])
            for p in rec.get("problems", []):
                print(f"op {i} failed: {p}", file=sys.stderr)
            i += 1
            if consecutive >= MAX_CONSECUTIVE_FAILURES:
                break
    return ops, rss.peak_bytes


def end_to_end(ops, setup_times, peak_bytes) -> tuple[dict, dict]:
    from perfbench.summary import median, tail

    good = [o for o in ops if o["ok"]] or ops
    walls = [o["wall_s"] for o in good]
    tail_s, tail_pct, beyond = tail(walls)
    metrics = {
        "setup_s": median(setup_times),
        "turns_per_s": sum(o.get("turns", 0) for o in ops if o["ok"]) / sum(o["wall_s"] for o in ops),
        "op_p50_s": median(walls),
        "op_tail_s": tail_s,
        "peak_rss_mb": peak_bytes / 2**20,
    }
    info = {
        "op_samples": len(walls),
        "tail_percentile": round(tail_pct, 2),
        "tail_samples_beyond": beyond,
        "op_walls_s": [round(o["wall_s"], 4) for o in ops],
    }
    return metrics, info


def per_layer(ops, tracer, timings: dict, calib: dict, accuracy: dict) -> dict:
    """Per-layer metrics of a traced run: medians over its traced ops,
    set-up spans for ``sources``, the driver-side layer calibration and
    the accuracy medians over all ops.  A layer the workload does not
    call reads 0."""
    from perfbench.summary import PER_LAYER, median, op_layer_metrics, probe_call_split

    spans = tracer.spans
    traced = [o for o in ops if o.get("root") is not None]
    per_op = [op_layer_metrics(spans, spans[o["root"]]) for o in traced]
    metrics = dict(timings)
    metrics.update(calib)
    for name in PER_LAYER:
        vals = [m[name] for m in per_op if name in m]
        if vals:
            metrics[name] = median(vals)
    scans = [s["end"] - s["start"] for s in spans if s["name"] == "sources.transcripts_df"]
    metrics["sources.scan_s"] = median(scans)
    metrics["sources.input_bytes"] = median([s["input_bytes"] for s in spans if "input_bytes" in s])
    first, repeat = probe_call_split(spans)
    metrics["probe.first_call_s"] = median(first) if first else 0.0
    metrics["probe.repeat_s"] = median(repeat) if repeat else 0.0
    untraced = [o["wall_s"] for o in ops if o["ok"] and not o["traced"]]
    traced_walls = [o["wall_s"] for o in traced if o["ok"]]
    metrics["trace.overhead_s"] = (
        median(traced_walls) - median(untraced) if traced_walls and untraced else 0.0
    )
    metrics["trace.bookkeeping_s"] = median([o["bookkeeping_s"] for o in traced]) if traced else 0.0
    for key, value in accuracy.items():
        metrics["stream.write_bytes_per_turn" if key == "write_bytes_per_turn" else f"acc.{key}"] = value
    return {name: metrics.get(name, 0.0) for name in PER_LAYER}


def write_trace(path: Path, tracer, ops, info) -> None:
    from perfbench.summary import self_time

    kids: dict = {}
    for s in tracer.spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    spans = []
    for s in tracer.spans:
        if "end" not in s:
            continue
        rec = {k: v for k, v in s.items() if k not in ("group", "stages_attached")}
        rec["self_s"] = self_time(s["start"], s["end"], kids.get(s["id"], []))
        spans.append(rec)
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps({"info": info, "ops": ops, "spans": spans}, indent=1, default=str))


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    # import the benchmark as a package from the checkout root, not its
    # modules as top-level names from the script's own directory
    sys.path[:] = [str(ROOT)] + [p for p in sys.path if Path(p or ".").resolve() != HERE]
    try:
        import btl_bloomfilter_spark  # noqa: F401  (the program under test)
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the library under test from {ROOT}: {e}", file=sys.stderr)
        return 2
    # everything the run writes stays inside the checkout
    tmp = OUT / f"tmp-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark")  # wins over spark.local.dir
    # every JVM Spark starts (launcher and driver): temp files here, and
    # no hsperfdata file in the system temp dir
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["JAVA_TOOL_OPTIONS"] = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} {java_opts}".strip()
    import tempfile

    tempfile.tempdir = str(tmp)
    # a terminated run still stops Spark and removes its files (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    from perfbench.spans import Tracer, contending_processes, cpu_ticks
    from perfbench.summary import END_TO_END, PER_LAYER, median

    info = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores(),
        "loadavg_start": os.getloadavg(),
        "contending": contending_processes(),
    }
    timings: dict = {}
    spark = None
    try:
        phases = info["phases_s"] = {"imports": time.perf_counter() - T0}
        mark = time.perf_counter()

        def phase(name: str) -> None:
            nonlocal mark
            now = time.perf_counter()
            phases[name] = now - mark
            mark = now

        spark = start_spark(timings)
        phase("spark")
        from perfbench import workloads as W

        tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
        wl = W.WORKLOADS[args.workload](spark, tracer, args.seed, cores(), str(tmp))
        # the canary also starts the Python workers, so every set-up
        # repetition below starts warm and the median is not the cold one
        info["canary"] = W.check_canary(spark)
        phase("canary")
        setup_times = []
        for r in range(SETUP_REPS):
            tracer.op_id = f"setup{r}"
            t0 = time.perf_counter()
            with tracer.span("setup", "bench"):
                wl.setup()
            setup_times.append(time.perf_counter() - t0)
        info["setup_s"] = setup_times
        info["corpus"] = {"n_turns": wl.digest[0], "digest": wl.digest[1], "bytes": wl.input_bytes}

        phase("setup")
        tracer.op_id = "warmup"
        warm_walls: list[float] = []
        while len(warm_walls) < WARMUP_OPS or sum(warm_walls) < WARMUP_S:
            t0 = time.perf_counter()
            with tracer.span("op", "bench"):
                _, result = wl.op()
            warm_walls.append(time.perf_counter() - t0)
            bad, _ = wl.check(result)
            if bad:
                raise RuntimeError(f"warm-up op failed its checks: {bad}")
        info["warmup_walls_s"] = [round(w, 4) for w in warm_walls]
        if args.trace:
            tracer.attach_stages()

        phase("warmup")
        steal0, total0 = cpu_ticks()
        ops, peak = run_loop(wl, tracer, args.seconds, bool(args.trace), warm_walls[-1])
        steal1, total1 = cpu_ticks()
        info["cpu_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
        phase("loop")
        e2e, loop_info = end_to_end(ops, setup_times, peak)
        info.update(loop_info)
        accs: dict = {}
        for o in ops:
            for k, v in o.get("acc", {}).items():
                accs.setdefault(k, []).append(v)
        info["accuracy"] = {k: median(v) for k, v in accs.items()}
        if args.trace:
            calib = W.layer_calibration(wl)
            metrics, units = per_layer(ops, tracer, timings, calib, info["accuracy"]), PER_LAYER
        else:
            metrics, units = e2e, END_TO_END
        info["problems"] = [p for o in ops for p in o.get("problems", [])][:5]
        info["loadavg_end"] = os.getloadavg()
        wl.release()
        if args.trace:
            write_trace(OUT / f"trace-{args.workload}-seed{args.seed}.json", tracer, ops, info)
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    phase("stop")

    failed = sum(1 for o in ops if not o["ok"])
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    print(json.dumps({"info": info}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
