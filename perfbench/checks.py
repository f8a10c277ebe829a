"""Output checks and summary statistics for the benchmark.

Each cli_files check is built from what the generator put into the inputs
(row counts, injected diffs, the injected column, DuckDB's answers), never
from the program's own output. A check returns a list of problems; an empty
list means the command's output is correct.
"""
import math
import os
import re

import duckdb

# ---------------------------------------------------------------- statistics


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no values")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def op_median(samples):
    """Median over ops of each op's median latency, from (op, seconds) pairs.

    The median of the pooled samples would fall in the gap between two ops
    of different cost, where it is the slowest run of one op or the fastest
    of the next; this takes each op's typical run instead.
    """
    by_op = {}
    for op, x in samples:
        by_op.setdefault(op, []).append(x)
    return median([median(xs) for xs in by_op.values()])


def tail(xs, beyond=10):
    """The highest whole percentile with at least `beyond` samples above it.

    Returns (percentile, value, n). The value is the nearest-rank percentile.
    With too few samples for any percentile from the median up to qualify,
    it falls back to the median and reports percentile 50.
    """
    s = sorted(xs)
    n = len(s)
    for p in range(99, 49, -1):
        v = s[max(0, math.ceil(p / 100 * n) - 1)]
        if sum(1 for x in s if x > v) >= beyond:
            return p, v, n
    return 50, median(s), n


# ---------------------------------------------------------- show() parsing


def parse_show(text):
    """Tables printed by Spark's Dataset.show(): a list of (header, rows)."""
    tables, lines, i = [], text.splitlines(), 0
    border = re.compile(r"^\+[-+]+\+$")
    while i < len(lines):
        if border.match(lines[i].strip()) and i + 2 < len(lines) and lines[i + 1].startswith("|"):
            header = [c.strip() for c in lines[i + 1].strip()[1:-1].split("|")]
            rows, j = [], i + 3
            while j < len(lines) and lines[j].startswith("|"):
                rows.append([c.strip() for c in lines[j].strip()[1:-1].split("|")])
                j += 1
            tables.append((header, rows))
            i = j + 1
        else:
            i += 1
    return tables


def _first_table(stdout):
    tables = parse_show(stdout)
    if not tables:
        raise ValueError("no table in output")
    return tables[0]


def _records(stdout):
    header, rows = _first_table(stdout)
    return [dict(zip(header, r)) for r in rows]


# ----------------------------------------------------- file-level equality


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)):
        return round(float(v), 6)
    return str(v)[:10] if re.match(r"^\d{4}-\d{2}-\d{2}", str(v)) else str(v)


def read_rows(path):
    """All rows of a file or Spark output directory, via DuckDB, sorted."""
    if os.path.isdir(path):
        files = sorted(f for f in os.listdir(path) if not f.startswith((".", "_")))
        if not files:
            return []
        path = os.path.join(path, "*" + os.path.splitext(files[0])[1])
    reader = {".csv": "read_csv_auto", ".json": "read_json_auto"}.get(
        os.path.splitext(path)[1], "read_parquet")
    con = duckdb.connect()
    try:
        cur = con.execute(f"SELECT * FROM {reader}('{path}')")
        cols = [d[0] for d in cur.description]
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted((tuple(_norm(r[i]) for i in order) for r in cur.fetchall()),
                      key=lambda t: tuple((x is None, str(x)) for x in t)), sorted(cols)
    finally:
        con.close()


def same_rows(actual_path, expected_path):
    (a, ac), (e, ec) = read_rows(actual_path), read_rows(expected_path)
    if ac != ec:
        return [f"columns {ac} != {ec}"]
    if len(a) != len(e):
        return [f"{len(a)} rows != {len(e)}"]
    bad = sum(1 for x, y in zip(a, e) if x != y)
    return [f"{bad} rows differ"] if bad else []


# ------------------------------------------------------------ command checks


def _as_int(s):
    return int(float(s))


def check_command(kind, args, stdout, exit_code, manifest, in_dir, out_dir):
    """Problems with one cli_files command's result ([] when correct)."""
    bind = lambda a: a.replace("{in}", in_dir).replace("{out}", out_dir)
    args = [bind(a) for a in args]
    rows = manifest["rows"]
    table_of = lambda p: "lineitem" if "lineitem" in os.path.basename(p) else "orders"
    try:
        if kind == "view":
            header, body = _first_table(stdout)
            want = manifest["columns"]["lineitem"]
            probs = [] if header == want else [f"header {header} != {want}"]
            return probs + ([] if len(body) == int(args[3]) else [f"{len(body)} rows shown"])
        if kind == "schema":
            names = [r["column_name"] for r in _records(stdout)]
            want = manifest["columns"][table_of(args[1])]
            return [] if names == want else [f"columns {names} != {want}"]
        if kind == "count":
            got = _as_int(_first_table(stdout)[1][0][0])
            want = rows[table_of(args[2])]
            return [] if got == want else [f"count {got} != {want}"]
        if kind in ("query", "query_output"):
            got = [[_norm_cell(c) for c in r] for r in _first_table(stdout)[1]]
            want = [[_norm_cell(c) for c in r] for r in manifest["expect"][kind]]
            probs = [] if got == want else [f"result {got} != DuckDB {want}"]
            if kind == "query_output":
                out = args[args.index("--output") + 1]
                written, _ = read_rows(out)
                want_sorted = sorted(tuple(_norm(_norm_cell(c)) for c in r) for r in want)
                # columns are read back sorted by name: n_lines, o_orderpriority, qty
                got_sorted = sorted((r[1], r[0], r[2]) for r in written)
                if got_sorted != want_sorted:
                    probs.append(f"written {got_sorted} != DuckDB {want_sorted}")
            return probs
        if kind == "view-parquet-meta":
            info = _records(stdout)[0]
            probs = []
            if _as_int(info["num_rows"]) != rows["lineitem"]:
                probs.append(f"num_rows {info['num_rows']}")
            if _as_int(info["num_columns"]) != len(manifest["columns"]["lineitem"]):
                probs.append(f"num_columns {info['num_columns']}")
            return probs
        if kind == "compare":
            r = _records(stdout)[0]
            probs = [] if _as_int(r["only_left"]) == _as_int(r["only_right"]) == 0 else [
                "rows only on one side"]
            got, want = _as_int(r["differing"]), manifest["beyond"]
            if got != want:
                probs.append(f"{got} diffs reported, {want} injected beyond epsilon")
            if exit_code != -1:
                probs.append(f"exit {exit_code}")
            return probs
        if kind == "convert":
            out = args[2]
            src = os.path.join(in_dir, manifest["sources"][os.path.basename(out)])
            return same_rows(out, src)
        if kind == "describe":
            got = {r["col_name"]: r for r in _records(stdout)}
            probs = []
            for name, n, lo, hi, mean in manifest["expect"]["describe"]:
                r = got.get(name)
                if r is None:
                    probs.append(f"no row for {name}")
                    continue
                if _as_int(r["n"]) != n or float(r["vmin"]) != lo or float(r["vmax"]) != hi:
                    probs.append(f"{name}: n/min/max {r['n']}/{r['vmin']}/{r['vmax']}")
                # show() prints the mean to six decimal places
                if abs(float(r["mean"]) - mean) > 1e-6 * max(1.0, abs(mean)):
                    probs.append(f"{name}: mean {r['mean']} != {mean}")
            return probs
        if kind == "compact":
            m = re.search(r"files: (\d+) -> (\d+)", stdout)
            if not m:
                return ["no file counts printed"]
            before, after = int(m.group(1)), int(m.group(2))
            probs = [] if before == manifest["spray_files"] and after < before else [
                f"files {before} -> {after}"]
            return probs + same_rows(args[2], os.path.join(in_dir, manifest["sources"]["compacted"]))
        if kind == "schema-diff":
            recs = _records(stdout)
            changed = {r["column_name"]: r["status"] for r in recs if r["status"] != "same"}
            want = {manifest["added_column"]: "added"}
            probs = [] if changed == want else [f"reported {changed}, injected {want}"]
            return probs + ([] if exit_code == -1 else [f"exit {exit_code}"])
    except (ValueError, KeyError, IndexError, duckdb.Error) as e:
        return [f"unreadable output: {type(e).__name__}: {e}"]
    return [f"no check for command kind {kind}"]


def _norm_cell(c):
    try:
        return int(c)
    except (TypeError, ValueError):
        pass
    try:
        return float(c)
    except (TypeError, ValueError):
        return str(c)
