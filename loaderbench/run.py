"""Loader and curation benchmark of the graft engine.

    python3 loaderbench/run.py --workload cells_shuffle_iter --seed 1 \\
        --seconds 12 --trace 0

Builds the engine and the harness (build.py), generates the workload's
inputs from the seed (gen.py), runs the JVM harness on them at local[n]
(n = min(4, cpus)), checks every output against the generator's manifest,
and prints one line per metric followed by a JSON result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics; `--trace 1` runs the traced
variant, reports the per-layer metrics and writes the spans to
`.bench_build/trace/<workload>-<seed>.spans.jsonl`.  See README.md for
every metric, workload and the layer -> metric -> workload mapping.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402

ROOT = build.ROOT
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CPUS = min(4, os.cpu_count() or 1)
SETUP_REPEATS = 3
DEADLINE_S = 170
BATCH = 64

# workload -> (input generator, untimed warm-up epochs).  Sizes keep one
# epoch near a second or two on a 4-core host, so a run holds several whole
# epochs; the warm-up lets the JIT settle before timing starts.
WORKLOADS = {
    "cells_shuffle_iter":
        (lambda d, seed: gen.gen_cells(d, seed, 60000, wide=True), 2),
    "cells_balanced_sink":
        (lambda d, seed: gen.gen_cells(d, seed, 150000, wide=False, zipf=True),
         3),
    "corpus_curate":
        (lambda d, seed: gen.gen_corpus(d, seed, 5000), 2),
}

# end-to-end metric -> unit (BENCHMARK.json lists the same set)
END_TO_END = {"samples_per_s": "samples/s", "first_batch_s": "s",
              "setup_s": "s", "peak_rss_mb": "MB"}

ENTROPY_MIN_BITS = 3.0        # cells_shuffle_iter, BlockShuffling
CONTROL_MAX_BITS = 0.5        # cells_shuffle_iter corpus under Streaming()
BALANCED_MIN_BITS = 4.0       # cells_balanced_sink, 50 balanced classes
DEDUP_MIN = 0.95              # recall and precision of planted duplicates

# a fixed-size heap and young generation keep the peak RSS from depending
# on when the collector chose to grow the heap; no perf-data file, which
# the JVM would otherwise write outside the checkout
JVM_OPTS = ["java", "-Xms1g", "-Xmx1g", "-Xmn256m", "-XX:+UseParallelGC",
            "-XX:-UsePerfData"]

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


class Checks:
    def __init__(self):
        self.attempted = 0
        self.failures = []

    def __call__(self, ok, what):
        self.attempted += 1
        if not ok:
            self.failures.append(what)


def inputs(workload, seed):
    """The workload's generated inputs for `seed`, made once per checkout."""
    data = os.path.join(BUILD_DIR, "data")
    d = os.path.join(data, f"{workload}-{seed}")
    manifest = os.path.join(d, "manifest.json")
    if not os.path.isfile(manifest):
        os.makedirs(data, exist_ok=True)
        for old in os.listdir(data):       # keep one seed per workload
            if old.startswith(workload + "-"):
                shutil.rmtree(os.path.join(data, old))
        tmp = d + ".tmp"
        WORKLOADS[workload][0](tmp, seed)
        os.rename(tmp, d)
    with open(manifest) as f:
        return d, json.load(f)


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def run_jvm(classpath, workload, seed, seconds, trace, input_dir, deadline):
    work = os.path.join(BUILD_DIR, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_dir = os.path.join(BUILD_DIR, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    out = os.path.join(work, "raw.json")
    spans = os.path.join(trace_dir, f"{workload}-{seed}.spans.jsonl")
    opens = [a for p in JDK_OPENS
             for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp"] + opens +
           ["-cp", classpath, "loaderbench.LoaderBench",
            "--workload", workload, "--input", input_dir, "--work", work,
            "--out", out, "--spans", spans, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--cpus", str(CPUS), "--setup-repeats", str(SETUP_REPEATS),
            "--warmup", str(WORKLOADS[workload][1])])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        # few malloc arenas: native memory, and so the peak RSS, stops
        # depending on how many threads happened to allocate
        p = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                           env=dict(os.environ, MALLOC_ARENA_MAX="2"),
                           timeout=max(10, deadline - time.time()))
    if p.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness exited with {p.returncode}:\n{tail}")
    with open(out) as f:
        raw = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    return raw, spans


def check_digests(input_dir, digests, check):
    """Each epoch's order digest must repeat across runs of one seed; the
    digests live beside the inputs they were computed from."""
    path = os.path.join(input_dir, "digests.json")
    known = {}
    if os.path.isfile(path):
        with open(path) as f:
            known = json.load(f)
    for epoch, dg in digests.items():
        check(known.get(epoch, dg) == dg,
              f"epoch {epoch} order differs from an earlier run of this seed")
        known.setdefault(epoch, dg)
    with open(path, "w") as f:
        json.dump(known, f, sort_keys=True)


def reduce_cells_shuffle(raw, manifest, check):
    bounds = np.cumsum([manifest["plate_sizes"][p]
                        for p in sorted(manifest["plate_sizes"])])
    n = manifest["rows"]
    expected = -(-n // BATCH)

    def epoch_ok(e, tag):
        check(e["permutation"], f"{tag}: not a permutation of all cell_ids")
        check(e["batches"] == e["expected_batches"] == expected,
              f"{tag}: {e['batches']} batches, batchCount says "
              f"{e['expected_batches']}")
        check(e["order_errors"] == 0, f"{tag}: batches or rows out of order")
        check(e["payload_errors"] == 0, f"{tag}: rows with a short payload")
        return M.decode_labels(e["labels"])

    entropies = []
    for e in raw["warmup"] + raw["epochs"]:
        tag = f"epoch {e['epoch']}"
        labels = epoch_ok(e, tag)
        entropies += M.batch_entropies(labels, e["batch_sizes"])
    control = raw["control"]
    control_ent = M.batch_entropies(epoch_ok(control, "control"),
                                    control["batch_sizes"])
    control_bits = sum(control_ent) / len(control_ent)
    # plate labels follow from the generator's id ranges: check the
    # control epoch, which delivers rows in file order
    ids_plate = np.searchsorted(bounds, np.arange(n), side="right")
    check(np.array_equal(M.decode_labels(control["labels"]), ids_plate),
          "control: delivered plate labels do not match the inputs")
    bits = sum(entropies) / len(entropies)
    check(bits > ENTROPY_MIN_BITS,
          f"batch entropy {bits:.3f} bits <= {ENTROPY_MIN_BITS}")
    check(control_bits < CONTROL_MAX_BITS,
          f"Streaming control entropy {control_bits:.3f} bits "
          f">= {CONTROL_MAX_BITS}")
    digests = {str(e["epoch"]): e["digest"]
               for e in raw["warmup"] + raw["epochs"]}
    quality = {"batch_entropy_bits": (bits, "bits"),
               "control_entropy_bits": (control_bits, "bits")}
    waits = [w for e in raw["epochs"] for w in e["batch_wait_ms"]]
    tail = M.tail_percentile(len(waits))
    if tail is not None:
        quality["batch_wait_ms_p50"] = (M.percentile(waits, 50), "ms")
        quality[f"batch_wait_ms_p{tail:g}"] = (M.percentile(waits, tail), "ms")
        quality["batch_waits"] = (len(waits), "count")
    return quality, digests


def reduce_balanced_sink(raw, manifest, check):
    entropies = []
    classes = len(manifest["class_sizes"])
    for e in raw["epochs"]:
        tag = f"epoch {e['epoch']}"
        check(e["rows"] == e["expected_rows"],
              f"{tag}: {e['rows']} rows written, totalSize {e['expected_rows']}")
        check(e["batches"] == -(-e["expected_rows"] // BATCH),
              f"{tag}: {e['batches']} batches written")
        check(e["order_errors"] == 0 and e["count_errors"] == 0,
              f"{tag}: batch ids or batch sizes inconsistent")
        labels = M.decode_labels(e["labels"])
        check(len(set(labels.tolist())) == classes,
              f"{tag}: a cell_line is missing from the written batches")
        entropies += M.batch_entropies(labels, e["batch_sizes"])
    bits = sum(entropies) / len(entropies)
    check(bits > BALANCED_MIN_BITS,
          f"batch entropy {bits:.3f} bits <= {BALANCED_MIN_BITS}")
    return {"batch_entropy_bits": (bits, "bits")}, {}


def reduce_curate(raw, manifest, check):
    kept = set(M.decode_longs(raw["kept_ids"]).tolist())
    removed = set(range(manifest["rows"])) - kept
    planted = {b for _, b, _ in manifest["planted_pairs"]}
    exact = {b for _, b, k in manifest["planted_pairs"] if k == "exact"}
    check(exact <= removed, f"{len(exact - removed)} planted exact "
          "duplicates survived")
    hit = len(planted & removed)
    recall = hit / len(planted)
    precision = hit / len(removed) if removed else 0.0
    check(recall >= DEDUP_MIN, f"dedup recall {recall:.4f} < {DEDUP_MIN}")
    check(precision >= DEDUP_MIN,
          f"dedup precision {precision:.4f} < {DEDUP_MIN}")
    for e in raw["epochs"]:
        check(e["digest"] == raw["warmup"]["digest"],
              f"pass {e['epoch']}: kept set differs from the warm-up pass")
    return {"dedup_recall": (recall, "ratio"),
            "dedup_precision": (precision, "ratio")}, \
        {"kept": raw["warmup"]["digest"]}


REDUCERS = {"cells_shuffle_iter": reduce_cells_shuffle,
            "cells_balanced_sink": reduce_balanced_sink,
            "corpus_curate": reduce_curate}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    start = time.time()
    try:
        classpath = build.build(ROOT, BUILD_DIR)
    except build.BuildError as e:
        print(e, file=sys.stderr)
        return 2
    deadline = time.time() + DEADLINE_S   # the build may take longer
    input_dir, manifest = inputs(a.workload, a.seed)
    steal0, total0 = cpu_ticks()
    raw, spans = run_jvm(classpath, a.workload, a.seed, a.seconds,
                         bool(a.trace), input_dir, deadline)
    steal1, total1 = cpu_ticks()
    check = Checks()
    quality, digests = REDUCERS[a.workload](raw, manifest, check)
    check_digests(input_dir, digests, check)
    epochs = raw["epochs"]
    attempted = (check.attempted + len(epochs) +
                 WORKLOADS[a.workload][1])            # + warm-up epochs
    walls = [e["wall_s"] for e in epochs]
    # a sink's or a curation pass's first output is usable only when the
    # epoch ends, so there the first batch waits for the mean epoch
    first = (M.median([e["first_batch_s"] for e in epochs])
             if a.workload == "cells_shuffle_iter" else sum(walls) / len(walls))
    e2e = {
        "samples_per_s": sum(e["rows"] for e in epochs) / sum(walls),
        "first_batch_s": first,
        "setup_s": raw["session_s"] + M.median(raw["prepare_s"]),
        "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
    }
    report = {k: (v, END_TO_END[k]) for k, v in e2e.items()}
    report.update(quality)
    report["failed_ratio"] = (len(check.failures) / attempted, "ratio")
    report["epochs"] = (len(epochs), "count")
    # CPU time the hypervisor gave to other guests: a run measured under
    # heavy steal is not comparable with one measured without
    report["host_steal_pct"] = (
        100.0 * (steal1 - steal0) / max(1, total1 - total0), "%")
    for what in check.failures:
        print(f"FAILED {what}")
    if a.trace:
        with open(spans) as f:
            span_list = [json.loads(line) for line in f if line.strip()]
        layer = M.layer_metrics(span_list, raw.get("untraced_wall_s", []),
                                raw.get("cache_bytes", 0))
        report.update({k: (v, M.PER_LAYER[k][0]) for k, v in layer.items()})
        result = {k: {"value": v, "unit": M.PER_LAYER[k][0]}
                  for k, v in layer.items()}
        print(f"spans written to {os.path.relpath(spans, ROOT)}")
    else:
        result = {k: {"value": v, "unit": END_TO_END[k]}
                  for k, v in e2e.items()}
    for k, (v, unit) in report.items():
        print(f"{a.workload} {k} = {v:.6g} {unit}")
    print(f"wall {time.time() - start:.1f} s")
    print(json.dumps({"correct": not check.failures, "attempted": attempted,
                      "failed": len(check.failures), "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
