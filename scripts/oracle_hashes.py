#!/usr/bin/env python3
"""Oracle identity across two versions of the declared queries.

Usage: python3 scripts/oracle_hashes.py <sfDir> <before.json> <after.json> > out.tsv

Each JSON is an oracle_sql.json as graft.Verify writes it (query name ->
DuckDB SQL). For every query the script runs both SQL texts in DuckDB over
the <sfDir> fixture tables, normalizes each frame as scripts/check.py does,
and prints one TSV row: name, before hash, after hash, and whether the two
texts are equal after whitespace normalization. A hash is the sha256 of the
normalized frame's column names, dtypes and cell values. Exits 1 when any
query has neither an equal text nor an equal hash, or is missing on one side.
"""
import hashlib
import json
import os
import re
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import TABLES, norm  # noqa: E402


def frame_hash(con, sql):
    try:
        df = norm(con.execute(sql).fetch_df())
    except Exception as e:  # an oracle that fails hashes as its error
        return "error:" + type(e).__name__
    h = hashlib.sha256()
    for c in df.columns:
        h.update(f"{c}\x1f{df[c].dtype}\x1e".encode())
        vals = df[c].astype(str).where(~df[c].isna(), "<null>")
        h.update("\x1f".join(vals).encode())
        h.update(b"\x1d")
    return h.hexdigest()


def main():
    sfdir, before_path, after_path = sys.argv[1:4]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    before = json.load(open(before_path))
    after = json.load(open(after_path))
    ws = re.compile(r"\s+")
    bad = 0
    print("name\tparent_hash\tchange_hash\ttext_equal")
    for name in sorted(set(before) | set(after)):
        b, a = before.get(name), after.get(name)
        hb = frame_hash(con, b) if b is not None else "missing"
        ha = frame_hash(con, a) if a is not None else "missing"
        same_text = b is not None and a is not None and \
            ws.sub(" ", b).strip() == ws.sub(" ", a).strip()
        if "missing" in (hb, ha) or not (same_text or hb == ha):
            bad += 1
            print(f"MOVED {name}", file=sys.stderr)
        print(f"{name}\t{hb}\t{ha}\t{str(same_text).lower()}")
    print(f"{len(set(before) | set(after)) - bad} queries hold, {bad} moved",
          file=sys.stderr)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
