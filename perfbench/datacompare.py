#!/usr/bin/env python3
"""Compare the benchmark's generated tables with a reference copy.

    python3 perfbench/datacompare.py <generated dir> <reference dir>

Prints, per table, the row count, row groups and schema of both copies, and
per column the null count, distinct count, minimum, maximum and (numeric
columns) mean, flagging every difference in the layout and every statistic
that differs by more than 10%. Exits 1 if a table is missing or its layout
(schema, row count, row groups) differs.
"""
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen

TOLERANCE = 0.10


def layout(path):
    f = pq.ParquetFile(path)
    schema = f.schema_arrow.remove_metadata()
    return {"rows": f.metadata.num_rows, "row_groups": f.metadata.num_row_groups,
            "schema": ", ".join(f"{x.name}: {x.type}" for x in schema)}


def column_stats(col):
    """(nulls, distinct, min, max, mean) of one column; list columns give
    the statistics of their flattened values."""
    if pa.types.is_list(col.type):
        col = pc.list_flatten(col)
    out = {"nulls": col.null_count,
           "distinct": len(pc.unique(col))}
    mm = pc.min_max(col)
    out["min"], out["max"] = mm["min"].as_py(), mm["max"].as_py()
    if pa.types.is_integer(col.type) or pa.types.is_floating(col.type):
        out["mean"] = pc.mean(col).as_py()
    return out


def differs(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        scale = max(abs(a), abs(b), 1e-9)
        return abs(a - b) / scale > TOLERANCE
    return a != b


def compare(gen_dir, ref_dir):
    bad = 0
    for name in datagen.TABLES:
        g_path = os.path.join(gen_dir, f"{name}.parquet")
        r_path = os.path.join(ref_dir, f"{name}.parquet")
        if not os.path.exists(r_path) or not os.path.exists(g_path):
            print(f"{name}: missing ({'generated' if not os.path.exists(g_path) else 'reference'})")
            bad += 1
            continue
        g, r = layout(g_path), layout(r_path)
        same = g == r
        bad += not same
        print(f"{name}: rows {g['rows']} / {r['rows']}, row groups "
              f"{g['row_groups']} / {r['row_groups']}, schema "
              f"{'same' if g['schema'] == r['schema'] else 'DIFFERS'}"
              f"{'' if same else '  <-- layout differs'}")
        if g["schema"] != r["schema"]:
            print(f"    generated: {g['schema']}\n    reference: {r['schema']}")
        gt, rt = pq.read_table(g_path), pq.read_table(r_path)
        for field in rt.schema:
            if field.name not in gt.column_names:
                continue
            gs, rs = column_stats(gt.column(field.name)), column_stats(rt.column(field.name))
            cells = []
            for k in rs:
                flag = "*" if differs(gs.get(k), rs[k]) else ""
                gv, rv = gs.get(k), rs[k]
                fmt = lambda v: f"{v:.4g}" if isinstance(v, float) else str(v)[:24]
                cells.append(f"{k} {fmt(gv)}/{fmt(rv)}{flag}")
            print(f"    {field.name:16s} " + "  ".join(cells))
    print("(generated/reference; * = differs by more than "
          f"{TOLERANCE:.0%} or not equal)")
    return bad


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(1 if compare(sys.argv[1], sys.argv[2]) else 0)


if __name__ == "__main__":
    main()
