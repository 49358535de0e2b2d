#!/usr/bin/env python3
"""Dev-only local correctness check mirroring the driver's t2 gate.

NOT part of the shipped Scala library — this script exists so the builder
can validate `SparkEntry.queries` against the DuckDB oracle before the
driver does. Usage:

    python tools/check.py [sfDir] [outDir]

Assumes `sbt "runMain graft.Verify <sfDir> <outDir>"` has already run
(or run it here with --run).
"""
import json, sys, subprocess, math
from pathlib import Path

import duckdb

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = Path(sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def keyed_rows(tbl):
    """Arrow table -> sorted list of row-tuples of reprs.

    Uses pyarrow (not pandas) so NULL vs NaN and -0.0 vs 0.0 survive —
    the driver's value-hash distinguishes them.
    """
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    rows = []
    for i in range(tbl.num_rows):
        rows.append(tuple(
            ("\x00null" if v is None else repr(v)) for v in
            (data[j][i] for j in range(len(cols)))))
    rows.sort()
    return cols, rows


def main():
    con = duckdb.connect()
    for t in TABLES:
        # a file, or a generator's `<t>.parquet/part-*.parquet` directory
        # (perfbench/gen.py); a table the input set lacks is skipped
        path = Path(SF) / f"{t}.parquet"
        if path.is_dir():
            path = path / "*.parquet"
        elif not path.exists():
            continue
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    oracle_path = OUT / "oracle_sql.json"
    oracle = json.loads(oracle_path.read_text())
    # Verify always dumps the FULL oracle map, but SPARK_GRAFT_ONLY
    # subset runs write only the requested outputs. Verify writes
    # manifest.json LAST, listing the names it attempted: a missing or
    # stale manifest (Verify killed mid-run — OOM/JVM abort) is fatal
    # whenever any output dir is absent, instead of silently counting
    # the gap as "not run (subset)".
    fail_path = OUT / "failures.json"
    verify_fails = json.loads(fail_path.read_text()) if fail_path.exists() else {}
    man_path = OUT / "manifest.json"
    manifest = None
    if man_path.exists() and man_path.stat().st_mtime >= oracle_path.stat().st_mtime:
        manifest = json.loads(man_path.read_text())
    ran = set(manifest["ran"]) if manifest else None
    n_ok = n_bad = n_skip = 0
    for name, sql in sorted(oracle.items()):
        pdir = OUT / name
        if not pdir.exists():
            if name in verify_fails:
                print(f"FAIL {name}: verify error: {verify_fails[name][:120]}")
                n_bad += 1
            elif ran is None:
                print(f"FAIL {name}: output missing and manifest.json absent/stale "
                      "— Verify killed mid-run?")
                n_bad += 1
            elif name in ran:
                print(f"FAIL {name}: in manifest but no output written")
                n_bad += 1
            elif manifest.get("full_run"):
                print(f"FAIL {name}: full run but not in manifest")
                n_bad += 1
            else:
                n_skip += 1
            continue
        try:
            got = con.sql(
                f"SELECT * FROM read_parquet('{pdir}/*.parquet')").arrow()
            exp = con.sql(sql).arrow()
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_bad += 1
            continue
        gc, g = keyed_rows(got)
        ec, e = keyed_rows(exp)
        if gc != ec:
            print(f"FAIL {name}: cols {gc} vs {ec}")
            n_bad += 1
            continue
        if len(g) != len(e):
            print(f"FAIL {name}: rows {len(g)} vs {len(e)}")
            n_bad += 1
            continue
        mism = []
        for i, (rg, re_) in enumerate(zip(g, e)):
            if rg != re_:
                for c, (vg, ve) in zip(gc, zip(rg, re_)):
                    if vg != ve:
                        mism.append(f"row{i} {c}: {vg} != {ve}")
                        break
            if len(mism) >= 3:
                break
        if mism:
            print(f"FAIL {name}: {'; '.join(mism[:3])}")
            n_bad += 1
        else:
            print(f"ok   {name} ({len(g)} rows)")
            n_ok += 1
    skipped = f", {n_skip} not run (subset)" if n_skip else ""
    print(f"\n{n_ok} ok, {n_bad} failed{skipped}")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
