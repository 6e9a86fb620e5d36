#!/usr/bin/env python3
"""Row-diff two `graft.Verify` output dirs: every query, exactly.

Usage:
    python3 dev/rowdiff.py <parent_out> <change_out>

Each `<out>/<query>/` parquet dir that `graft.Verify` wrote on either side
is read with DuckDB and compared against the other side's: column names
and types, then every row, both sides sorted by the rows' repr (exact
values, so -0.0 != 0.0 and NaN == NaN). This covers the rows-only queries
the DuckDB oracle (`dev/check.py`) does not check. Prints one line per
differing or one-sided query, with the first differing row, and exits 1
on any difference.
"""
import os
import sys

import duckdb


def queries(out):
    return {d for d in os.listdir(out)
            if os.path.isdir(os.path.join(out, d))
            and any(f.endswith(".parquet") for f in os.listdir(os.path.join(out, d)))}


def read(con, out, name):
    rel = con.sql(f"SELECT * FROM '{os.path.join(out, name)}/*.parquet'")
    cols = [f"{c} {t}" for c, t in zip(rel.columns, rel.types)]
    return cols, sorted(rel.fetchall(), key=repr)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    parent, change = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    qp, qc = queries(parent), queries(change)
    bad = 0
    for name in sorted(qp ^ qc):
        side = "parent" if name in qp else "change"
        print(f"MISSING {name}: only in {side}")
        bad += 1
    for name in sorted(qp & qc):
        (cp, rp), (cc, rc) = read(con, parent, name), read(con, change, name)
        if cp != cc:
            print(f"DIFF {name}: columns parent={cp} change={cc}")
        elif len(rp) != len(rc):
            print(f"DIFF {name}: rows parent={len(rp)} change={len(rc)}")
        else:
            first = next((i for i, (a, b) in enumerate(zip(rp, rc)) if repr(a) != repr(b)), None)
            if first is None:
                continue
            print(f"DIFF {name}: first differing row at {first}:\n"
                  f"  parent={rp[first]!r}\n  change={rc[first]!r}")
        bad += 1
    print(f"\n{len(qp | qc) - bad}/{len(qp | qc)} queries equal")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
