"""Seeded inputs for one run, written as the line format `Plan.read` parses.

The engine only ever sees what this file generates: the query order of
each `etl_queries` pass (with the digests its results must match), the keys each lake round updates or deletes,
and which slices, rounds, versions and key bounds the `lake` replays and
reads touch.
"""
import random

REPLAY_KINDS = ["pruned", "as_of", "history", "changes", "replay_append",
                "replay_fold", "replay_cdc", "replay_stream"]


def etl_lines(rng, digests, passes):
    names = sorted(digests)
    return [f"expect {n} {digests[n]}" for n in names] + [
        "pass " + " ".join(rng.sample(names, len(names))) for _ in range(passes)]


def churn_lines(rng, slice_rows, rounds, share=0.01):
    """Round i updates or deletes about `share` of the keys appended in
    rounds before it. A key is churned at most once, so redelivering any
    earlier round's changes leaves the table's contents as they are."""
    used = set()
    out = []
    for i in range(1, rounds):
        free = [k for k in range(i * slice_rows) if k not in used]
        keys = rng.sample(free, max(1, round(share * i * slice_rows)))
        used.update(keys)
        out.append(f"churn {i} " + " ".join(
            f"{k}:{'d' if rng.random() < 0.5 else 'u'}" for k in sorted(keys)))
    return out


def replay_lines(rng, blocks, per_kind=2):
    """Each block runs every kind `per_kind` times, in seeded order. The
    arguments are stratified: the j-th op of a kind draws from the j-th
    of `per_kind` equal sub-ranges, so every block reads early and late
    versions and low and high key bounds, and blocks cost alike."""
    out = []
    for _ in range(blocks):
        ops = [(k, j) for k in REPLAY_KINDS for j in range(per_kind)]
        rng.shuffle(ops)
        out.append("block " + " ".join(
            f"{k}:{(j + rng.random()) / per_kind:.6f}:{rng.random():.6f}"
            for k, j in ops))
    return out


def lines(workload, seed, shape, digests=None):
    """`digests` maps each `etl_queries` query to its pinned result digest."""
    rng = random.Random(f"{workload}:{seed}")
    if workload == "etl_queries":
        return etl_lines(rng, digests, shape["passes"])
    head = [f"{k} {shape[k]}" for k in
            ("slice_rows", "rounds", "warm_rounds", "rounds_per_block")]
    return (head + churn_lines(rng, shape["slice_rows"], shape["rounds"])
            + replay_lines(rng, shape["blocks"]))
