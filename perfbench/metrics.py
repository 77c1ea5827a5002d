"""Turns the spans and counts one run recorded into the benchmark's metrics.

Pure functions over the JSON document `graftbench.Report` writes, so the
arithmetic is testable without a JVM.
"""
import bisect

END_TO_END = {  # name -> unit
    "setup_s": "s", "run_s": "s", "op_p50_ms": "ms", "op_p90_ms": "ms",
    "ok_ratio": "ratio", "heap_live_mb": "MB", "space_amp": "ratio"}

COMMIT_OPS = ["append", "fold", "merge", "maintain", "replay_append",
              "replay_fold", "replay_cdc"]
READ_OPS = ["pruned", "as_of", "history", "changes"]
REPLAYS = {"replay_append", "replay_fold", "replay_cdc"}

PER_LAYER = {"session.start_ms": "ms", "session.warmup_ms": "ms"}
PER_LAYER.update({f"catalyst.{k}": "ms" for k in
                  ("analysis_ms", "optimization_ms", "planning_ms")})
PER_LAYER["catalyst.executions"] = "count"
for k, u in [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
             ("exchanges", "count"), ("task_ms", "ms"), ("job_ms", "ms"),
             ("driver_gap_ms", "ms"), ("shuffle_write_bytes", "bytes"),
             ("input_bytes", "bytes"), ("output_bytes", "bytes"),
             ("gc_ms", "ms")]:
    PER_LAYER[f"exec.{k}"] = u
PER_LAYER["operators.self_ms"] = "ms"
for op in COMMIT_OPS:
    PER_LAYER[f"commit.{op}.ms"] = "ms"
    PER_LAYER[f"commit.{op}.jobs"] = "count"
    PER_LAYER[f"commit.{op}.bytes_written"] = "bytes"
PER_LAYER.update({"commit.versions_published": "count",
                  "commit.files_live": "count", "commit.files_total": "count",
                  "commit.replay_noop_ratio": "ratio", "commit.self_ms": "ms"})
for op in READ_OPS:
    PER_LAYER[f"read.{op}.ms"] = "ms"
    PER_LAYER[f"read.{op}.jobs"] = "count"
PER_LAYER.update({"read.files_scanned": "count", "read.files_committed": "count",
                  "read.self_ms": "ms"})
PER_LAYER.update({f"streaming.{k}": "ms" for k in
                  ("batch_ms", "add_batch_ms", "checkpoint_ms", "planning_ms",
                   "self_ms", "replay_ms")})
PER_LAYER["streaming.replay_table_versions"] = "count"
PER_LAYER.update({"trace.run_s": "s", "trace.overhead_s": "s"})


def quantile(values, q):
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return quantile(values, 0.5)


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0.0, lo
    for a, b in spans:
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Op:
    """One timed call with the jobs and plans that started inside it."""

    def __init__(self, rec):
        (self.layer, self.kind, self.block, self.traced, self.start, self.end,
         self.ok, self.extra) = rec
        self.jobs = []
        self.plans = []

    @property
    def ms(self):
        return self.end - self.start

    @property
    def self_ms(self):
        """Span time not covered by any of its jobs: the driver's share."""
        return self.ms - covered([(j[1], j[2]) for j in self.jobs],
                                 self.start, self.end)


def attribute(ops, jobs, plans):
    """Hand each job and plan to the traced op whose span holds its start.

    Spark stamps events with whole milliseconds, so an op's window opens
    at the floor of its start."""
    traced = sorted((o for o in ops if o.traced), key=lambda o: o.start)
    starts = [int(o.start) for o in traced]

    def owner(t):
        i = bisect.bisect_right(starts, t) - 1
        return traced[i] if i >= 0 and t <= traced[i].end else None

    for j in jobs:
        o = owner(j[1])
        if o:
            o.jobs.append(j)
    for p in plans:
        o = owner(p[0])
        if o:
            o.plans.append(p)


def block_ms(ops, traced=None):
    """Time the engine spent in each block: the sum of its operations'
    spans, so the checks between operations are not counted."""
    out = {}
    for o in ops:
        if traced is None or o.traced == traced:
            out[o.block] = out.get(o.block, 0.0) + o.ms
    return out


def end_to_end(doc, space_amp):
    ops = [Op(r) for r in doc["ops"]]
    failed = sum(not o.ok for o in ops)
    ms = [o.ms for o in ops]
    # the mean over blocks: a run's blocks differ mostly by the host's
    # speed while each ran, which the mean averages and a median picks from
    blocks = list(block_ms(ops).values())
    run_ms = sum(blocks) / len(blocks)
    return {
        "setup_s": median(doc["setup_ms"]) / 1000,
        "run_s": run_ms / 1000,
        "op_p50_ms": quantile(ms, 0.5),
        "op_p90_ms": quantile(ms, 0.9),
        "ok_ratio": (len(ops) - failed) / max(1, len(ops)),
        "heap_live_mb": float(doc["results"]["heap_live_mb"]),
        "space_amp": space_amp,
    }


def per_layer(doc):
    ops = [Op(r) for r in doc["ops"]]
    attribute(ops, doc["jobs"], doc["plans"])
    traced = [o for o in ops if o.traced]
    blocks = sorted({o.block for o in traced})
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.start_ms"] = median(doc["session_ms"])
    out["session.warmup_ms"] = float(doc["results"]["warmup_ms"])

    # per block: sums over the block's traced ops, then the median block
    def per_block(f):
        return median([sum(f(o) for o in traced if o.block == b) for b in blocks])

    def jobs_sum(i):
        return lambda o: sum(j[i] for j in o.jobs)

    for k, i in [("analysis_ms", 1), ("optimization_ms", 2), ("planning_ms", 3)]:
        out[f"catalyst.{k}"] = per_block(lambda o, i=i: sum(p[i] for p in o.plans))
    out["catalyst.executions"] = per_block(lambda o: len(o.plans))
    out["exec.jobs"] = per_block(lambda o: len(o.jobs))
    for k, i in [("stages", 3), ("tasks", 4), ("exchanges", 5), ("task_ms", 6),
                 ("gc_ms", 7), ("shuffle_write_bytes", 8), ("input_bytes", 9),
                 ("output_bytes", 10)]:
        out[f"exec.{k}"] = per_block(jobs_sum(i))
    out["exec.job_ms"] = per_block(lambda o: sum(j[2] - j[1] for j in o.jobs))
    out["exec.driver_gap_ms"] = per_block(lambda o: o.self_ms)

    def kind(k, layer=None):
        return [o for o in ops if o.kind == k and (layer is None or o.layer == layer)]

    for layer in ("operators", "commit", "read", "streaming"):
        out[f"{layer}.self_ms"] = median([o.self_ms for o in traced if o.layer == layer])
    for op in COMMIT_OPS:
        xs = kind(op, "commit")
        out[f"commit.{op}.ms"] = median([o.ms for o in xs])
        out[f"commit.{op}.jobs"] = median([len(o.jobs) for o in xs if o.traced])
        out[f"commit.{op}.bytes_written"] = median(
            [sum(j[10] for j in o.jobs) for o in xs if o.traced])
    all_blocks = sorted({o.block for o in ops})
    out["commit.versions_published"] = median([sum(
        o.extra.get("versions", 0) for o in ops
        if o.block == b and o.layer == "commit") for b in all_blocks])
    replays = [o for o in ops if o.kind in REPLAYS]
    out["commit.replay_noop_ratio"] = (
        sum(o.extra.get("versions", 0) == 0 for o in replays) / len(replays)
        if replays else 1.0)
    for k in ("files_live", "files_total"):
        out[f"commit.{k}"] = float(doc["results"].get(k, 0))
    for op in READ_OPS:
        xs = kind(op, "read")
        out[f"read.{op}.ms"] = median([o.ms for o in xs])
        out[f"read.{op}.jobs"] = median([len(o.jobs) for o in xs if o.traced])
    pruned = kind("pruned", "read")
    for k in ("files_scanned", "files_committed"):
        out[f"read.{k}"] = median([o.extra[k] for o in pruned])
    batches = doc["batches"]
    for k, i in [("batch_ms", 1), ("add_batch_ms", 2), ("checkpoint_ms", 3),
                 ("planning_ms", 4)]:
        out[f"streaming.{k}"] = median([b[i] for b in batches])
    rs = kind("replay", "streaming")
    out["streaming.replay_ms"] = median([o.ms for o in rs])
    out["streaming.replay_table_versions"] = median(
        [o.extra.get("table_versions", 0) for o in rs])
    tb = list(block_ms(ops, traced=True).values())
    ub = list(block_ms(ops, traced=False).values())
    out["trace.run_s"] = median(tb) / 1000
    out["trace.overhead_s"] = (median(tb) - median(ub)) / 1000 if tb and ub else 0.0
    return out
