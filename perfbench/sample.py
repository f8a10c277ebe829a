#!/usr/bin/env python3
"""The rule that picks the events_stream ops from measured per-op times.

    python3 perfbench/sample.py [BENCH_r13.json]

The family is every declared `events_*` (batch) and `stream_*` (Structured
Streaming) op in the timing file, a full-suite run of the program at sf0.1.
The sample keeps the family's stream share: of K ops, round(K x stream
ops / family ops) are stream ops. Within each part, ops are sorted by their
measured time and the op at each quantile (i + 0.5) / k, i = 0..k-1, is
taken (nearest rank, rounding down). Ops the benchmark cannot run are left
out first (see EXCLUDED). Prints the sample, then the family's and the
sample's median and mean op time.
"""
import json
import statistics
import sys

K = 6
# ops the benchmark cannot run: they write to the program's fixed scratch
# directory (Tables.scratch), outside the checkout
EXCLUDED = {"stream_ann_probe"}


def sample(times, k=K):
    batch = sorted((t, op) for op, t in times.items() if op.startswith("events_"))
    stream = sorted((t, op) for op, t in times.items() if op.startswith("stream_"))
    k_stream = round(k * len(stream) / (len(batch) + len(stream)))
    picked = []
    for part, kp in ((batch, k - k_stream), (stream, k_stream)):
        part = [(t, op) for t, op in part if op not in EXCLUDED]
        picked += [part[int((i + 0.5) / kp * len(part))][1] for i in range(kp)]
    return picked


def main():
    path = sys.argv[1] if len(sys.argv) > 1 else "BENCH_r13.json"
    with open(path) as f:
        times = json.load(f)["parsed"]["queries"]
    family = {op: t for op, t in times.items() if op.startswith(("events_", "stream_"))}
    ops = sample(family)
    print(" ".join(ops))
    for name, xs in (("family", list(family.values())), ("sample", [family[o] for o in ops])):
        print(f"{name}: {len(xs)} ops, median {statistics.median(xs):.3f} s, "
              f"mean {statistics.mean(xs):.3f} s")


if __name__ == "__main__":
    main()
