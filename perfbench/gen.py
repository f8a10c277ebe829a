"""Seeded inputs and command script for the cli_files workload.

From the committed sf0.01 `orders`/`lineitem` fixtures, `generate` writes one
copy per input format (parquet, CSV, NDJSON, Avro), a perturbed parquet copy
with some deltas inside the compare epsilon and some beyond it, a copy with
one injected column, and a small-file spray. It returns a manifest: the
inputs, the facts each check needs (row counts, injected diffs, the injected
column name, DuckDB's answers to the script's SQL) and the bdt command script
in seeded order. The same seed gives byte-identical files and the same
script; another seed changes both.
"""
import datetime
import json
import os
import struct

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPSILON = 0.01
INSIDE_DELTA = 0.004  # |delta| <= EPSILON: compare must not report it
BEYOND_DELTA = 1.0    # |delta| > EPSILON: compare must report it
ORDER_SAMPLE = 1500   # of the fixture's 15,000 orders; ~6,000 lineitems follow

QUERY_SQL = (
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines, "
    "CAST(SUM(l_quantity) AS BIGINT) AS qty "
    "FROM lineitem GROUP BY l_returnflag, l_linestatus "
    "ORDER BY l_returnflag, l_linestatus")
JOIN_SQL = (
    "SELECT o.o_orderpriority, COUNT(*) AS n_lines, "
    "CAST(SUM(l.l_quantity) AS BIGINT) AS qty "
    "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
    "GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority")


def _dates_to_day(table, col):
    """Timestamps become DATEs, which every format and engine spells alike."""
    i = table.schema.get_field_index(col)
    return table.set_column(i, col, table.column(col).cast(pa.date32()))


def _csv_cell(v):
    if v is None:
        return ""
    if isinstance(v, float):
        return repr(v)
    return str(v)


def write_csv(table, path):
    cols = table.column_names
    rows = table.to_pylist()
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(",".join(cols) + "\n")
        for r in rows:
            f.write(",".join(_csv_cell(r[c]) for c in cols) + "\n")


def write_ndjson(table, path):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for r in table.to_pylist():
            f.write(json.dumps({k: (v.isoformat() if isinstance(v, datetime.date) else v)
                                for k, v in r.items()}, sort_keys=False) + "\n")


def _zigzag(n):
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _avro_bytes(b):
    return _zigzag(len(b)) + b


_AVRO_TYPES = {pa.int64(): "long", pa.int32(): "int", pa.float64(): "double",
               pa.string(): "string"}


def write_avro(table, path, sync):
    """Minimal Avro object-container writer (null codec), dates as strings."""
    fields = []
    for f in table.schema:
        fields.append({"name": f.name,
                       "type": "string" if pa.types.is_date(f.type) else _AVRO_TYPES[f.type]})
    schema = json.dumps({"type": "record", "name": "row", "fields": fields})
    meta = {"avro.schema": schema.encode(), "avro.codec": b"null"}
    with open(path, "wb") as f:
        f.write(b"Obj\x01")
        f.write(_zigzag(len(meta)))
        for k in sorted(meta):
            f.write(_avro_bytes(k.encode()) + _avro_bytes(meta[k]))
        f.write(_zigzag(0))
        f.write(sync)
        rows = table.to_pylist()
        for start in range(0, len(rows), 1000):
            block = bytearray()
            chunk = rows[start:start + 1000]
            for r in chunk:
                for fd in fields:
                    v = r[fd["name"]]
                    if fd["type"] in ("long", "int"):
                        block += _zigzag(int(v))
                    elif fd["type"] == "double":
                        block += struct.pack("<d", v)
                    else:
                        s = v.isoformat() if isinstance(v, datetime.date) else str(v)
                        block += _avro_bytes(s.encode())
            f.write(_zigzag(len(chunk)) + _zigzag(len(block)) + bytes(block) + sync)


def _perturb(table, rows, delta):
    price = table.column("l_extendedprice").to_numpy().copy()
    price[rows] += delta
    i = table.schema.get_field_index("l_extendedprice")
    return table.set_column(i, "l_extendedprice", pa.array(price))


def duck_rows(sql, views):
    """DuckDB's answer to `sql` with each name in `views` bound to a file."""
    con = duckdb.connect()
    try:
        for name, path in views.items():
            reader = "read_csv_auto" if path.endswith(".csv") else (
                "read_json_auto" if path.endswith(".json") else "read_parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM {reader}('{path}')")
        return [list(r) for r in con.execute(sql).fetchall()]
    finally:
        con.close()


def generate(fixture_dir, out_dir, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    orders = _dates_to_day(pq.read_table(os.path.join(fixture_dir, "orders.parquet")),
                           "o_orderdate")
    keys = np.sort(rng.choice(orders.column("o_orderkey").to_numpy(), ORDER_SAMPLE,
                              replace=False))
    orders = orders.filter(pa.array(np.isin(orders.column("o_orderkey").to_numpy(), keys)))
    orders = orders.sort_by("o_orderkey")
    lineitem = _dates_to_day(pq.read_table(os.path.join(fixture_dir, "lineitem.parquet")),
                             "l_shipdate")
    lineitem = lineitem.filter(
        pa.array(np.isin(lineitem.column("l_orderkey").to_numpy(), keys)))
    lineitem = lineitem.sort_by([("l_orderkey", "ascending"), ("l_linenumber", "ascending")])
    n = lineitem.num_rows
    # the fixture repeats (l_orderkey, l_linenumber); renumber the lines of
    # each order so that the pair is a key, as `compare --key` requires
    okey = lineitem.column("l_orderkey").to_numpy()
    first = np.searchsorted(okey, okey, side="left")
    i = lineitem.schema.get_field_index("l_linenumber")
    lineitem = lineitem.set_column(i, "l_linenumber",
                                   pa.array((np.arange(n) - first + 1).astype(np.int32)))

    def p(name):
        return os.path.join(out_dir, name)

    pq.write_table(lineitem, p("lineitem.parquet"))
    write_csv(lineitem, p("lineitem.csv"))
    write_ndjson(orders, p("orders.json"))
    write_avro(orders, p("orders.avro"), rng.bytes(16))

    # seeded diffs in one copy: compare must report every `beyond` row and
    # none of the `inside` rows
    changed = rng.choice(n, int(rng.integers(10, 40)), replace=False)
    split = int(rng.integers(4, len(changed) - 4))
    beyond, inside = np.sort(changed[:split]), np.sort(changed[split:])
    pq.write_table(_perturb(_perturb(lineitem, beyond, BEYOND_DELTA), inside, INSIDE_DELTA),
                   p("lineitem_near.parquet"))

    added = f"l_added_{int(rng.integers(0, 10**6))}"
    pq.write_table(lineitem.append_column(added, pa.array(rng.integers(0, 100, n))),
                   p("lineitem_evolved.parquet"))

    spray = p("spray")
    os.makedirs(spray, exist_ok=True)
    n_spray = int(rng.integers(6, 13))
    cuts = np.sort(rng.choice(np.arange(1, n), n_spray - 1, replace=False))
    for i, (a, b) in enumerate(zip([0, *cuts], [*cuts, n])):
        pq.write_table(lineitem.slice(a, b - a), os.path.join(spray, f"part-{i:03d}.parquet"))

    key = "l_orderkey,l_linenumber"
    eps = str(EPSILON)
    # {in} is the input directory and {out} a pass's output directory; the
    # harness fills both in
    ref = lambda name: "{in}/" + name
    script = [
        ("view", ["view", ref("lineitem.csv"), "--limit", "5"]),
        ("schema", ["schema", ref("orders.avro")]),
        ("count", ["count", "--table", ref("lineitem.csv")]),
        ("query", ["query", "--table", ref("lineitem.parquet"), "--sql", QUERY_SQL]),
        ("query_output", ["query", "--table", ref("orders.json"), "--table", ref("lineitem.csv"),
                          "--sql", JOIN_SQL, "--output", "{out}/join.parquet"]),
        ("view-parquet-meta", ["view-parquet-meta", ref("lineitem.parquet")]),
        ("compare", ["compare", ref("lineitem.parquet"), ref("lineitem_near.parquet"),
                     "--epsilon", eps, "--key", key]),
        ("convert", ["convert", ref("lineitem.csv"), "{out}/lineitem_zstd.parquet", "--zstd"]),
        ("convert", ["convert", ref("orders.avro"), "{out}/orders.json"]),
        ("describe", ["describe", ref("lineitem.parquet"), "--columns",
                      "l_quantity,l_discount"]),
        ("compact", ["compact", ref("spray"), "{out}/compacted"]),
        ("schema-diff", ["schema-diff", ref("lineitem.parquet"), ref("lineitem_evolved.parquet")]),
    ]
    order = rng.permutation(len(script))
    commands = [{"id": f"c{i:02d}", "kind": script[i][0], "args": script[i][1]}
                for i in order]

    views = {"lineitem": p("lineitem.csv"), "orders": p("orders.json")}
    manifest = {
        "seed": seed,
        "rows": {"lineitem": n, "orders": orders.num_rows},
        "columns": {"orders": orders.column_names, "lineitem": lineitem.column_names},
        "epsilon": EPSILON,
        "beyond": len(beyond),
        "inside": len(inside),
        "added_column": added,
        "spray_files": n_spray,
        "expect": {
            "query": duck_rows(QUERY_SQL, {"lineitem": p("lineitem.parquet")}),
            "query_output": duck_rows(JOIN_SQL, views),
            "describe": duck_rows(
                "SELECT c, COUNT(v), MIN(v), MAX(v), AVG(v) FROM ("
                "SELECT 'l_quantity' AS c, l_quantity AS v FROM lineitem UNION ALL "
                "SELECT 'l_discount', l_discount FROM lineitem) GROUP BY c ORDER BY c",
                {"lineitem": p("lineitem.parquet")}),
        },
        "sources": {  # converted output -> the input it must equal
            "lineitem_zstd.parquet": "lineitem.parquet",
            "orders.json": "orders.json",
            "compacted": "lineitem.parquet",
        },
        "commands": commands,
    }
    with open(p("manifest.json"), "w", encoding="utf-8") as f:
        json.dump(manifest, f, indent=1, default=str)
    return manifest
