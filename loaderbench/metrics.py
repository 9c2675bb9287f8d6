"""Arithmetic of the benchmark: summaries, batch entropy, prefix self time
and the per-layer metrics of a traced run.  Pure functions over the raw
values the JVM side records, so the unit tests can check each one against
hand-computed values."""

import base64
import math

import numpy as np


def median(xs):
    xs = sorted(xs)
    if not xs:
        raise ValueError("median of no values")
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2


def percentile(xs, p):
    """Linear-interpolated p-th percentile (0 <= p <= 100), as numpy's
    default method computes it."""
    xs = sorted(xs)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


TAIL_LEVELS = (50, 90, 95, 98, 99, 99.9)


def tail_percentile(n):
    """The highest of TAIL_LEVELS with at least ten of `n` samples beyond
    it, or None when fewer than twenty samples exist."""
    ok = [p for p in TAIL_LEVELS if n * (100 - p) / 100 >= 10 - 1e-9]
    return max(ok) if ok else None


def entropy_bits(counts):
    """Shannon entropy, in bits, of a label histogram."""
    n = sum(counts)
    return -sum(c / n * math.log2(c / n) for c in counts if c > 0)


def batch_entropies(labels, sizes):
    """Per-batch label entropy of a delivered stream: `labels` in delivery
    order, cut into consecutive batches of `sizes`."""
    if sum(sizes) != len(labels):
        raise ValueError("batch sizes do not cover the labels")
    out, start = [], 0
    for s in sizes:
        _, counts = np.unique(labels[start:start + s], return_counts=True)
        out.append(entropy_bits(counts.tolist()))
        start += s
    return out


def decode_labels(b64):
    return np.frombuffer(base64.b64decode(b64), dtype=np.int8)


def decode_longs(b64):
    return np.frombuffer(base64.b64decode(b64), dtype="<i8")


# Each prefix run materialises one more layer; its checksum must cover the
# columns that layer derives, or the optimizer prunes the layer's work away
# (what a plain count() would allow) and the difference measures nothing.
PREFIX_COLUMNS = {
    "prefix.collection": {"row_id"},
    "prefix.strategy": {"__ord"},
    "prefix.window": {"fetch_id", "__pos", "batch_id", "pos_in_batch"},
    "prefix.assemble": {"batch_id", "n", "rows"},
}


def self_times(prefixes):
    """Self time of each layer from consecutive prefix runs.

    `prefixes` is an ordered list of (name, seconds, checksum_cols); a
    name listed in PREFIX_COLUMNS must have checksummed that layer's
    columns (the last prefix may be the full delivery, with no checksum).
    Returns {name: seconds minus the previous prefix's seconds}."""
    out, prev = {}, 0.0
    for name, secs, cols in prefixes:
        need = PREFIX_COLUMNS.get(name, set())
        missing = need - set(cols or ())
        if missing:
            raise ValueError(f"{name} checksum omits {sorted(missing)}: the "
                             "optimizer would prune that layer's work")
        out[name] = secs - prev
        prev = secs
    return out


def _children(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def inclusive(span, kids, key):
    """A span's Spark counter summed over the span and its descendants."""
    return span["spark"][key] + sum(inclusive(c, kids, key)
                                    for c in kids.get(span["id"], []))


def duration(span):
    return span["end_s"] - span["start_s"]


# per-layer metric -> (unit, better); every traced run reports all of them,
# 0 for a layer the workload does not run
PER_LAYER = {
    "collection.prepare_s": ("s", "lower"),
    "collection.shuffle_write_bytes": ("bytes", "lower"),
    "collection.jobs": ("count", "lower"),
    "collection.cache_bytes": ("bytes", "lower"),
    "strategy.plan_call_s": ("s", "lower"),
    "strategy.self_s": ("s", "lower"),
    "strategy.jobs": ("count", "lower"),
    "strategy.shuffle_write_bytes": ("bytes", "lower"),
    "strategy.rows_out": ("count", "higher"),
    "window.self_s": ("s", "lower"),
    "window.shuffle_write_bytes": ("bytes", "lower"),
    "assemble.self_s": ("s", "lower"),
    "assemble.shuffle_write_bytes": ("bytes", "lower"),
    "assemble.spill_bytes": ("bytes", "lower"),
    "assemble.batches": ("count", "higher"),
    "deliver.self_s": ("s", "lower"),
    "deliver.first_batch_s": ("s", "lower"),
    "deliver.jobs": ("count", "lower"),
    "deliver.result_bytes": ("bytes", "lower"),
    "deliver.wait_ms_max": ("ms", "lower"),
    "deliver.waits_over_10ms": ("count", "lower"),
    "sink.self_s": ("s", "lower"),
    "sink.bytes_written": ("bytes", "lower"),
    "sink.files": ("count", "lower"),
    "ops.exact_s": ("s", "lower"),
    "ops.minhash_s": ("s", "lower"),
    "ops.confirm_s": ("s", "lower"),
    "ops.clusters_s": ("s", "lower"),
    "ops.fuzzy_s": ("s", "lower"),
    "ops.split_s": ("s", "lower"),
    "ops.candidate_pairs": ("count", "lower"),
    "ops.confirmed_pairs": ("count", "higher"),
    "ops.confirm_ratio": ("ratio", "higher"),
    "ops.shuffle_write_bytes": ("bytes", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.tasks": ("count", "lower"),
    "trace.overhead_pct": ("%", "lower"),
}

LOADER_PREFIXES = ["prefix.collection", "prefix.strategy", "prefix.window",
                   "prefix.assemble"]

OPS_SPANS = {"ops.exactDedup": "ops.exact_s",
             "ops.minhashCandidates": "ops.minhash_s",
             "ops.confirmJaccard": "ops.confirm_s",
             "ops.dedupClusters": "ops.clusters_s",
             "ops.fuzzyDedup": "ops.fuzzy_s",
             "ops.withSplit": "ops.split_s"}


def layer_metrics(spans, untraced_walls, cache_bytes=0):
    """Per-layer metrics of one traced run.

    Loader layers come from the prefix runs inside each `epoch` span (self
    time and counters as differences of consecutive prefixes); set-up from
    the `collection.prepare` spans; ops from one span per public call.
    Each value is the median over the run's traced epochs (set-ups for the
    collection layer), except `deliver.wait_ms_max`, the maximum."""
    kids = _children(spans)
    per = {k: [] for k in PER_LAYER}
    prepares = [s for s in spans if s["name"] == "collection.prepare"]
    for s in prepares:
        per["collection.prepare_s"].append(duration(s))
        per["collection.shuffle_write_bytes"].append(
            inclusive(s, kids, "shuffle_write_bytes"))
        per["collection.jobs"].append(inclusive(s, kids, "jobs"))
    full_walls = []
    for ep in (s for s in spans if s["name"] == "epoch"):
        byname = {c["name"]: c for c in kids.get(ep["id"], [])}
        for key, metric, scale in (("cpu_ns", "spark.executor_cpu_s", 1e-9),
                                   ("gc_ms", "spark.gc_s", 1e-3),
                                   ("tasks", "spark.tasks", 1)):
            per[metric].append(inclusive(ep, kids, key) * scale)
        final = byname.get("prefix.deliver") or byname.get("prefix.sink")
        if final is not None:
            chain = [byname[n] for n in LOADER_PREFIXES] + [final]
            st = self_times([(c["name"], duration(c),
                              c["attrs"].get("checksum_cols")) for c in chain])

            def diff(key, i):
                return (inclusive(chain[i], kids, key)
                        - inclusive(chain[i - 1], kids, key))
            plan = next(c for c in kids[chain[1]["id"]]
                        if c["name"] == "strategy.plan_call")
            per["strategy.plan_call_s"].append(duration(plan))
            per["strategy.self_s"].append(st["prefix.strategy"])
            per["strategy.jobs"].append(diff("jobs", 1))
            per["strategy.shuffle_write_bytes"].append(
                diff("shuffle_write_bytes", 1))
            per["strategy.rows_out"].append(chain[1]["attrs"]["rows"])
            per["window.self_s"].append(st["prefix.window"])
            per["window.shuffle_write_bytes"].append(
                diff("shuffle_write_bytes", 2))
            per["assemble.self_s"].append(st["prefix.assemble"])
            per["assemble.shuffle_write_bytes"].append(
                diff("shuffle_write_bytes", 3))
            per["assemble.spill_bytes"].append(diff("spill_bytes", 3))
            per["assemble.batches"].append(chain[3]["attrs"]["rows"])
            layer = "deliver" if final["name"] == "prefix.deliver" else "sink"
            per[layer + ".self_s"].append(st[final["name"]])
            if layer == "deliver":
                per["deliver.first_batch_s"].append(
                    final["attrs"]["first_batch_s"])
                per["deliver.jobs"].append(diff("jobs", 4))
                per["deliver.result_bytes"].append(diff("result_bytes", 4))
                per["deliver.wait_ms_max"].append(final["attrs"]["wait_ms_max"])
                per["deliver.waits_over_10ms"].append(
                    final["attrs"]["waits_over_10ms"])
            else:
                per["sink.bytes_written"].append(
                    inclusive(final, kids, "output_bytes"))
                per["sink.files"].append(final["attrs"]["files"])
            full_walls.append(duration(final))
        if "ops.pass" in byname:
            full_walls.append(duration(byname["ops.pass"]))
            shuffle = 0
            for name, metric in OPS_SPANS.items():
                per[metric].append(duration(byname[name]))
                shuffle += inclusive(byname[name], kids, "shuffle_write_bytes")
            per["ops.shuffle_write_bytes"].append(shuffle)
            cand = byname["ops.minhashCandidates"]["attrs"]["pairs"]
            conf = byname["ops.confirmJaccard"]["attrs"]["pairs"]
            per["ops.candidate_pairs"].append(cand)
            per["ops.confirmed_pairs"].append(conf)
            per["ops.confirm_ratio"].append(conf / cand if cand else 0.0)
    if full_walls and untraced_walls:
        per["trace.overhead_pct"].append(
            overhead_pct(median(untraced_walls), median(full_walls)))
    per["collection.cache_bytes"].append(cache_bytes)
    out = {}
    for k, xs in per.items():
        if not xs:
            out[k] = 0
        elif k == "deliver.wait_ms_max":
            out[k] = max(xs)
        else:
            out[k] = median(xs)
    return out


def overhead_pct(untraced_wall, traced_wall):
    """Gap in samples/s between an untraced and a traced full epoch of the
    same size, as a percentage of the untraced rate."""
    return (1.0 - untraced_wall / traced_wall) * 100.0
