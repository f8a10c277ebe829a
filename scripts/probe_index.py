#!/usr/bin/env python3
"""Regenerate probes/INDEX.md from the raw probe captures.

Every capture under probes/r*/ is one isolated calm-window Bench run:
{"queries": {name: seconds}, "sf": dir, "steal_delta": ticks, ...}. This
script inverts that into a per-query table — which files carry the query,
its seconds at each probed scale, and the per-decade ratios — so a reader
never has to re-derive the mapping from wave-named files.

Scale key is taken from the capture's own "sf" path: .../sf0.01 → sf0.01,
.../sf0.1 → sf0.1, /dev/shm/*sf1* → sf1 (10× sf0.1), *sf10* → sf10,
*sf100* → sf100 (longest alternative listed first — r10's generator
matched '10' inside 'sf100' and silently binned every sf100 capture as
sf10, overwriting the genuine sf10 cells; ADVICE r10 #1).

"Latest capture per scale" is decided by round number (natural-sorted:
r10 > r2, unlike the lexicographic glob order) then by path within a
round.  Ratio columns are SESSION-HONEST (VERDICT r10 #3): a printed
ratio juxtaposes two absolute timings, which this host's cross-round
drift makes misleading unless both captures came from the same round's
calm session — so adjacent-scale ratios are printed only when both ends
are from the same round; cross-round adjacencies render as
"sfA→sfB n/a (rX/rY)" so the gap is visible instead of wrong.  Each
cell carries its round ("12.34 (r9)") so absolutes are attributable.

No arguments regenerates INDEX.md; any argument other than a lone
`--check` prints the usage line and exits 2 without touching it.
`--check` mode regenerates in-memory and exits 1 if INDEX.md on disk
differs (i.e. a probe landed without a regen) — preflight.sh runs it.
Stray `*.json.tmp` files under probes/ also fail the gate: a parked
temp capture evades the *.json glob and hides evidence (VERDICT r10 #1
— an errored sf100 probe sat invisible in-tree for a round).
"""
import json, glob, os, re, sys, collections

# sf1000e is the fourth-decade EMBEDDINGS-ONLY fixture (20M vectors,
# 10000 signed-permutation copies; other tables are sf0.1-sized stand-ins)
# — comparable to the sf* series only for embeddings-family queries.
# sf1000d is its DOCUMENTS-ONLY sibling (50M docs, 10000 text-transform
# copies) — comparable only for text/dedup-family queries.
ORDER = ["sf0.001", "sf0.01", "sf0.1", "sf1", "sf10", "sf100", "sf1000d",
         "sf1000e"]


def scale_of(sfdir):
    base = os.path.basename(sfdir.rstrip("/"))
    m = re.search(r"sf(0\.001|0\.01|0\.1|1000d|1000e|100|10|1)", base)
    return "sf" + m.group(1) if m else base


def round_key(path):
    """Natural sort: probes/r10/x.json after probes/r9/x.json."""
    m = re.search(r"[/\\]r(\d+)[/\\]", path)
    return (int(m.group(1)) if m else 0, path)


def round_of(path):
    m = re.search(r"[/\\]r(\d+)[/\\]", path)
    return int(m.group(1)) if m else 0


def render(root):
    # per query -> scale -> list of (seconds, file, steal), in round order
    per = collections.defaultdict(lambda: collections.defaultdict(list))
    unparsed = []
    for path in sorted(glob.glob(os.path.join(root, "r*", "*.json")),
                       key=round_key):
        rel = os.path.relpath(path, root)
        try:
            # pre-r8 captures carry sbt's "[info] " prefix — strip it
            raw = open(path).read().strip()
            cap = json.loads(raw.removeprefix("[info] "))
        except Exception:
            unparsed.append(rel)
            continue
        sc = scale_of(cap.get("sf", "?"))
        qs = cap.get("queries", {})
        if not qs:
            unparsed.append(rel)
            continue
        errored = set(cap.get("errors", []))
        sid = cap.get("session_id", "")
        for q, sec in qs.items():
            # a timing for a FAILED query is not a measurement — but the
            # failure itself IS evidence: record it as sec=None so the cell
            # renders "err (rN)" instead of silently vanishing (a query whose
            # only run at a scale errored used to be indistinguishable from
            # "never probed"; ADVICE r11 #1)
            per[q][sc].append(
                (None if q in errored else sec, rel, round_of(path), sid))
    lines = [
        "# Probe index (generated by scripts/probe_index.py — do not edit)",
        "",
        "One row per probed query: seconds at each probed scale (latest",
        "capture per scale, by round number, round in parentheses; earlier",
        "captures of the same scale listed in `files`), and the per-decade",
        "ratio between adjacent probed scales.  Ratios print ONLY when both",
        "ends come from the same capture session (same session_id when the",
        "captures carry one, same round for pre-r12 captures) — cross-",
        "session absolutes drift on this host (README: 'trust ratios within",
        "one session's captures'), so other adjacencies render as 'n/a",
        "(rX/rY)'.  A query whose latest probe at a scale FAILED renders",
        "'err (rN)' — failures are evidence, never blank cells.  All",
        "captures are isolated calm-window runs via scripts/calm_probe.sh;",
        "each file self-reports its steal_delta.",
        "",
        "| query | " + " | ".join(ORDER) + " | ratios | files |",
        "|---|" + "---|" * (len(ORDER) + 2),
    ]
    for q in sorted(per):
        scales = per[q]
        cells, series = [], []
        for sc in ORDER:
            if sc in scales:
                # latest round's capture wins — an error wins too, so a
                # failed latest probe stays visible instead of the cell
                # quietly showing a stale success
                sec, _, rnd, sid = scales[sc][-1]
                if sec is None:
                    cells.append(f"err (r{rnd})")
                else:
                    cells.append(f"{sec:.2f} (r{rnd})")
                    series.append((sc, sec, rnd, sid))
            else:
                cells.append("")
        ratios = []
        for (s0, v0, r0, sid0), (s1, v1, r1, sid1) in zip(series, series[1:]):
            # same-SESSION gate: captures carry a session_id (Bench echoes
            # SPARK_GRAFT_SESSION) precisely because round number is too
            # coarse — two same-round sittings drifted 4x on this host
            # (ADVICE r11 #4). Pre-r12 captures lack the field; for those
            # the old same-round rule is the best available proxy.
            if sid0 and sid1:
                comparable = sid0 == sid1
            else:
                comparable = r0 == r1
            if comparable:
                ratios.append(f"{s0}→{s1} {v1 / v0:.1f}×")
            else:
                ratios.append(f"{s0}→{s1} n/a (r{r0}/r{r1})")
        files = sorted({f for sc in scales.values() for (_, f, _, _) in sc})
        lines.append(
            "| " + q + " | " + " | ".join(cells) + " | "
            + ", ".join(ratios) + " | " + ", ".join(files) + " |")
    if unparsed:
        lines += ["", "Unparsed/empty captures (fix or delete): "
                  + ", ".join(sorted(unparsed))]
    tmps = [os.path.relpath(p, root)
            for p in glob.glob(os.path.join(root, "**", "*.tmp"),
                               recursive=True)]
    return "\n".join(lines) + "\n", len(per), unparsed, sorted(tmps)


def main():
    args = sys.argv[1:]
    if args not in ([], ["--check"]):
        print("usage: probe_index.py [--check]", file=sys.stderr)
        sys.exit(2)
    root = os.path.join(os.path.dirname(__file__), "..", "probes")
    text, nq, unparsed, tmps = render(root)
    out = os.path.join(root, "INDEX.md")
    if args:
        on_disk = open(out).read() if os.path.exists(out) else ""
        if on_disk != text:
            print("probe_index --check: INDEX.md is STALE — a probe landed "
                  "without regenerating; run scripts/probe_index.py",
                  file=sys.stderr)
            sys.exit(1)
        if unparsed:
            print(f"probe_index --check: unparsed captures: {unparsed}",
                  file=sys.stderr)
            sys.exit(1)
        if tmps:
            print("probe_index --check: stray .tmp captures under probes/ "
                  f"(parked evidence — complete+rename or delete): {tmps}",
                  file=sys.stderr)
            sys.exit(1)
        print(f"probe_index --check: OK ({nq} probed queries)")
        return
    open(out, "w").write(text)
    print(f"wrote {out}: {nq} probed queries")


if __name__ == "__main__":
    main()
