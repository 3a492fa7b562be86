"""Pure summary helpers for the benchmark: median and the tail rule,
self time, per-op layer metrics from spans, the metric catalogue and
the fixture digest check.  No Spark imports, so the helper tests run
without a JVM."""

from __future__ import annotations

from typing import Iterable, Sequence

#: samples that must lie strictly beyond a reported tail percentile
TAIL_BEYOND = 10


def median(values: Sequence[float]) -> float:
    """Middle sample, averaging the two middle ones for an even count."""
    if not values:
        raise ValueError("median of no samples")
    xs = sorted(values)
    n = len(xs)
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def tail(values: Sequence[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile that still has ``beyond`` samples above it.

    Returns ``(value, percentile, samples_beyond)``.  With n samples the
    answer is the (n - beyond)-th smallest, i.e. percentile
    100·(n - beyond)/n.  Below n = 2·beyond + 1 that rank would fall
    under the median, so the run has no tail percentile worth the name; it
    reports its maximum as percentile 100 with 0 samples beyond, so the
    shortfall is visible."""
    if not values:
        raise ValueError("tail of no samples")
    xs = sorted(values)
    n = len(xs)
    if n < 2 * beyond + 1:
        return xs[-1], 100.0, 0
    rank = n - beyond
    return xs[rank - 1], 100.0 * rank / n, beyond


def _union_length(intervals: Iterable[tuple[float, float]]) -> float:
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover
    (children clipped to the span; overlapping children count once)."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - _union_length(clipped)


def exclusive_by_layer(spans: Sequence[dict], root_id: int) -> dict[str, float]:
    """Split the root span's wall time among layers.

    Every instant inside the root goes to the deepest span active at
    that instant (spans are dicts with ``id``, ``parent``, ``layer``,
    ``start``, ``end``).  Parallel siblings at the same depth share the
    instant, which is given once to the first of them, so the layer
    times always add up to the root's duration."""
    by_id = {s["id"]: s for s in spans}
    root = by_id[root_id]
    depth: dict[int, int] = {root_id: 0}

    def depth_of(sid: int) -> int | None:
        chain = []
        cur = sid
        while cur not in depth:
            chain.append(cur)
            parent = by_id[cur]["parent"]
            if parent is None or parent not in by_id:
                return None
            cur = parent
        d = depth[cur]
        for c in reversed(chain):
            d += 1
            depth[c] = d
        return depth[sid]

    members = [s for s in spans if depth_of(s["id"]) is not None]
    lo, hi = root["start"], root["end"]
    cuts = sorted({lo, hi, *(min(max(t, lo), hi) for s in members for t in (s["start"], s["end"]))})
    out: dict[str, float] = {}
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        best = None
        for s in members:
            if s["start"] <= a and s["end"] >= b:
                if best is None or depth[s["id"]] > depth[best["id"]]:
                    best = s
        out[best["layer"]] = out.get(best["layer"], 0.0) + (b - a)
    return out


def check_digest(seed: int, n_convs: int, got: tuple[int, int], pinned: dict) -> None:
    """Raise when a pinned fixture ``(n_turns, digest)`` drifted.

    ``pinned`` maps ``(seed, n_convs)`` to the expected pair; corpora
    without a pin pass (their digest is still reported)."""
    want = pinned.get((seed, n_convs))
    if want is not None and tuple(got) != tuple(want):
        raise RuntimeError(
            f"fixture drift: transcripts_df(n_convs={n_convs}, seed={seed}) gives "
            f"(n_turns, digest) = {tuple(got)}, pinned {tuple(want)}"
        )


# -- metric catalogue ----------------------------------------------------
#: end-to-end metrics (untraced runs): name -> unit
END_TO_END = {
    "setup_s": "s",
    "turns_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
}

#: span layer -> per-op self-time metric
SELF_KEYS = {
    "bench": "self.bench_s",
    "plans.agg": "self.agg_s",
    "functions.probe": "self.probe_s",
    "streaming.accumulate": "self.stream_s",
    "spark": "self.spark_s",
}

#: per-layer metrics (traced runs): name -> unit.  Every workload
#: reports all of them; a layer a workload does not call reads 0.
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.package_zip_s": "s",
    "sources.scan_s": "s",
    "sources.input_bytes": "bytes",
    "hashing.windows": "count",
    "hashing.windows_per_s": "1/s",
    "bloom.update_windows_per_s": "1/s",
    "bloom.probe_windows_per_s": "1/s",
    "bloom.fill": "frac",
    "sketch.serialize_s": "s",
    "sketch.deserialize_s": "s",
    "sketch.blob_bytes": "bytes",
    "hll.update_s": "s",
    "cms.update_s": "s",
    "kll.update_s": "s",
    "tdigest.update_s": "s",
    "agg.partials_s": "s",
    "agg.merge_s": "s",
    "agg.keyed_s": "s",
    "agg.shuffle_write_bytes": "bytes",
    "agg.result_bytes": "bytes",
    "agg.partial_bytes_per_final_byte": "ratio",
    "probe.s": "s",
    "probe.broadcast_bytes": "bytes",
    "probe.first_call_s": "s",
    "probe.repeat_s": "s",
    "stream.merge_batch_s": "s",
    "stream.state_read_s": "s",
    "stream.state_write_bytes": "bytes",
    "stream.write_bytes_per_turn": "bytes",
    "spark.run_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "op.wall_s": "s",
    **{key: "s" for key in SELF_KEYS.values()},
    "trace.overhead_s": "s",
    "trace.bookkeeping_s": "s",
    "acc.bloom_fpr": "frac",
    "acc.bloom_fpr_bound": "frac",
    "acc.hll_rel_err": "frac",
    "acc.cms_overcount": "frac",
    "acc.kll_rank_err": "frac",
    "acc.tdigest_rank_err": "frac",
}


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def op_layer_metrics(spans: Sequence[dict], root: dict) -> dict[str, float]:
    """Per-layer numbers of one traced op, from its spans.

    ``agg.partials_s`` is the wall time of the first Spark stage each
    ``build_sketch`` call ran (the per-partition partial build);
    ``agg.merge_s`` is the rest of that call: the merge stages plus the
    driver-side merge and collect."""
    mine = [s for s in spans if s.get("op") == root["op"]]
    kids: dict[int, list[dict]] = {}
    for s in mine:
        kids.setdefault(s["parent"], []).append(s)
    m: dict[str, float] = {"op.wall_s": _dur(root)}
    excl = exclusive_by_layer(mine, root["id"])
    for layer, key in SELF_KEYS.items():
        m[key] = excl.get(layer, 0.0)
    stages = [s for s in mine if s["layer"] == "spark"]
    for c in ("run_s", "cpu_s", "gc_s", "tasks", "failed_tasks"):
        m[f"spark.{c}"] = float(sum(s[c] for s in stages))

    def stages_of(span: dict) -> list[dict]:
        return sorted((k for k in kids.get(span["id"], []) if k["layer"] == "spark"), key=lambda k: k["stage"])

    builds = [s for s in mine if s["name"] == "plans.agg.build_sketch"]
    partials = sum(_dur(st[0]) for st in map(stages_of, builds) if st)
    m["agg.partials_s"] = partials
    m["agg.merge_s"] = sum(map(_dur, builds)) - partials
    m["agg.keyed_s"] = sum(_dur(s) for s in mine if s["name"] == "plans.agg.sketch_by_key")
    agg_stages = [st for s in mine if s["layer"] == "plans.agg" for st in stages_of(s)]
    m["agg.shuffle_write_bytes"] = float(sum(st["shuffle_write_bytes"] for st in agg_stages))
    m["agg.result_bytes"] = float(sum(st["result_bytes"] for st in agg_stages))
    moved = sum(st["shuffle_write_bytes"] + st["result_bytes"] for s in builds for st in stages_of(s))
    final = root.get("agg_final_bytes", 0)
    m["agg.partial_bytes_per_final_byte"] = moved / final if final else 0.0
    probes = [s for s in mine if s["layer"] == "functions.probe"]
    m["probe.s"] = sum(map(_dur, probes))
    m["probe.broadcast_bytes"] = float(sum(s.get("broadcast_bytes", 0) for s in probes))
    m["stream.merge_batch_s"] = sum(_dur(s) for s in mine if s["layer"] == "streaming.accumulate")
    m["stream.state_read_s"] = root.get("state_read_s", 0.0)
    m["stream.state_write_bytes"] = float(root.get("state_write_bytes", 0))
    return m


def probe_call_split(spans: Sequence[dict]) -> tuple[list[float], list[float]]:
    """Durations of first and of repeated probe calls, per (sketch,
    input): a first call pays the per-worker sketch-cache miss."""
    seen: set = set()
    first, repeat = [], []
    for s in sorted((s for s in spans if s["layer"] == "functions.probe"), key=lambda s: s["start"]):
        key = (s.get("sketch_id"), s.get("input"))
        (repeat if key in seen else first).append(_dur(s))
        seen.add(key)
    return first, repeat
