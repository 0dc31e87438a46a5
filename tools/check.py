#!/usr/bin/env python3
"""Local emulation of the driver's correctness gate (dev tool only; the
shipped library is pure Scala/Spark). Usage:

    python3 tools/check.py [sfdir] [outdir] [--skip-verify] [query ...]

Runs graft.Verify via sbt, then replays each oracle_sql.json entry in DuckDB
over the same parquet tables and diffs against the Spark parquet output:
columns sorted by name, rows sorted, exact value compare. Every query listed
in Verify's failure manifest (verify_failures.json) fails.
"""
import json, math, subprocess, sys
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

# deliberately ONLY the 8 TESTDATA.md-listed tables: documents/embeddings
# must resolve through the read_parquet CTEs in the oracle prelude
# (worst-case simulation of the driver's view registration)
TABLES = "region nation customer supplier part orders lineitem events".split()


def type_family(v):
    """Canonical type family. The driver hashes typed (pandas) values, so
    73 (BIGINT) vs 73.0 (DOUBLE) must FAIL here the way its hash fails —
    Python's bare == is blind to it (73 == 73.0, True == 1), which let
    r4's t12 DOUBLE-vs-BIGINT drift pass locally. Families (not raw class
    names) because pyarrow yields pandas.Timestamp where duckdb yields
    datetime.datetime for the SAME logical TIMESTAMP — container-class
    noise, not type drift. Order matters: bool subclasses int, datetime
    subclasses date."""
    import datetime, decimal
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, decimal.Decimal):
        return "decimal"
    if isinstance(v, datetime.datetime):
        return "timestamp"
    if isinstance(v, datetime.date):
        return "date"
    if isinstance(v, (bytes, bytearray)):
        return "bytes"
    if isinstance(v, str):
        return "str"
    return type(v).__name__


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return ("float", "NaN")
    return (type_family(v), v)


def sort_key(row):
    # cells are (family, value) from norm(); sort on family + str(value)
    # so pandas.Timestamp and datetime.datetime (identical str form) align
    return tuple((v is None, fam, str(v)) for fam, v in row)


def rows_of(cols, table):
    names = sorted(cols)
    data = {c: table[c] for c in cols}
    n = len(table[names[0]]) if names else 0
    return sorted(
        (tuple(norm(data[c][i]) for c in names) for i in range(n)),
        key=sort_key,
    ), names


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sfdir = args[0] if len(args) > 0 else "/root/testdata/sf0.001"
    outdir = args[1] if len(args) > 1 else "/tmp/verify_out"
    only = set(args[2:])
    if "--skip-verify" not in sys.argv:
        r = subprocess.run(
            ["sbt", "-batch", f'runMain graft.Verify {sfdir} {outdir}'],
            capture_output=True, text=True)
        sys.stdout.write("\n".join(r.stdout.splitlines()[-5:]) + "\n")
        if r.returncode != 0:
            print(r.stderr[-3000:])
            sys.exit(1)

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    oracle = json.loads(Path(f"{outdir}/oracle_sql.json").read_text())
    n_pass = n_fail = 0
    # graft.Verify lists every query that threw in this manifest; such a
    # query may still have a stale output dir from an earlier run
    manifest = Path(outdir) / "verify_failures.json"
    failed = json.loads(manifest.read_text()) if manifest.exists() else {}
    for name in sorted(failed):
        if only and name not in only:
            continue
        print(f"FAIL {name}: Verify threw: {failed[name]}")
        n_fail += 1
    for name in sorted(oracle):
        if (only and name not in only) or name in failed:
            continue
        spark_dir = Path(outdir) / name
        if not spark_dir.exists():
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            st = pq.read_table(spark_dir).to_pydict()
            dt = con.sql(oracle[name])
            # driver-semantics lint: the driver compares via typed pandas
            # frames, where HUGEINT (e.g. an uncast SUM/windowed SUM over
            # BIGINT) coerces to float64 while Spark writes int64 — a hash
            # fail invisible to fetchall()'s plain Python ints. Flag the
            # oracle TYPE, which fetchall cannot see.
            huge = [f"{c}:{t}" for c, t in zip(dt.columns, dt.types)
                    if str(t) in ("HUGEINT", "UHUGEINT")]
            if huge:
                print(f"FAIL {name}: oracle column(s) {huge} are HUGEINT — "
                      "pandas coerces to float64 vs Spark's int64; "
                      "CAST(... AS BIGINT) in the oracle SQL")
                n_fail += 1
                continue
            drows_raw = dt.fetchall()
            dcols = dt.columns
            dd = {c: [r[i] for r in drows_raw] for i, c in enumerate(dcols)}
            srows, scols = rows_of(list(st.keys()), st)
            drows, dcols_s = rows_of(dcols, dd)
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if scols != dcols_s:
            print(f"FAIL {name}: columns spark={scols} duck={dcols_s}")
            n_fail += 1
        elif srows != drows:
            n_fail += 1
            print(f"FAIL {name}: {len(srows)} spark rows vs {len(drows)} duck rows; cols={scols}")
            shown = 0
            for i in range(min(len(srows), len(drows))):
                if srows[i] != drows[i] and shown < 3:
                    print(f"  row {i}: spark={srows[i]}\n          duck ={drows[i]}")
                    shown += 1
            if len(srows) != len(drows):
                print(f"  (row-count mismatch)")
        else:
            n_pass += 1
            print(f"PASS {name} ({len(srows)} rows)")
    print(f"== {n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
