"""Order-insensitive result digests for corpus_batch, and the command
that refreshes the stored DuckDB-oracle digests.

A digest hashes a result the way ``tools/drive_driver.py`` compares one:
columns sorted by name, every value normalized dtype-faithfully (a
float never renders like an int), rows sorted. Spark's ``collect()``
and DuckDB's ``fetchall()`` both yield Python values, so the same
normalization applies to both sides.

Refresh after a change to the corpus data or to a row's oracle SQL
(DuckDB takes seconds per row; it never runs inside a timed run):

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "oracle_digests.json")


def norm(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "b:1" if v else "b:0"
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "NaN" if math.isnan(f) else f"f:{f:.6f}"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x:" + bytes(v).hex()
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, dict):  # DuckDB struct; a Spark struct is a Row (tuple)
        return "[" + ",".join(norm(x) for x in v.values()) + "]"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def digest(columns: list[str], rows) -> dict:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return {"rows": len(lines), "sha256": h.hexdigest()}


def load() -> dict:
    with open(DIGESTS, encoding="utf-8") as fh:
        return json.load(fh)


def refresh() -> int:
    import duckdb

    sys.path.insert(0, os.path.dirname(HERE))
    from codegraph_spark.queries import collect

    from perfbench.common import CORPUS_DIR
    from perfbench.corpus_batch import rows

    _, oracles = collect()
    con = duckdb.connect()
    for name in sorted(f[:-len(".parquet")] for f in os.listdir(CORPUS_DIR)
                       if f.endswith(".parquet")):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(CORPUS_DIR, name)}.parquet')")
    out = {}
    for row in rows():
        cur = con.execute(oracles[row])
        out[row] = digest([d[0] for d in cur.description], cur.fetchall())
        print(f"{row}: {out[row]['rows']} rows", file=sys.stderr)
    with open(DIGESTS, "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(refresh())
