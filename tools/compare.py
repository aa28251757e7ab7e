#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: load each Verify
parquet output, run the matching oracle SQL in DuckDB over the same
sf-dir tables, and diff (schema by sorted column name, then each
column's DuckDB type, then row-set by value). The type check is what makes
the gate type-exact: DuckDB's cursor description reports HUGEINT and BIGINT
alike as 'NUMBER', and Python compares their values equal, while the
graded correctness hash tells them apart. Usage: compare.py <sfDir> <verifyOutDir>"""
import sys, json, math, glob, os, re
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(os.path.join(sfdir, "*.parquet")):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))

def gate_type(t):
    """The correctness hash fails HUGEINT vs BIGINT (q51/q61) but passes the
    8..64-bit integer widths against each other (q04/q62: INTEGER vs BIGINT,
    CORRECTNESS_r05.json), so those widths compare as one type."""
    return re.sub(r"\b(TINYINT|SMALLINT|INTEGER)\b", "BIGINT", str(t))

def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return v
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v

fails = []
for qname in sorted(oracle):
    qdir = os.path.join(outdir, qname)
    if not os.path.isdir(qdir):
        print(f"MISSING OUTPUT {qname}")
        fails.append(qname)
        continue
    spark_rel = con.sql(f"SELECT * FROM '{qdir}/*.parquet'")
    scols, stypes = spark_rel.columns, [gate_type(t) for t in spark_rel.types]
    srows = spark_rel.fetchall()
    try:
        duck_rel = con.sql(oracle[qname])
        dcols, dtypes = duck_rel.columns, [gate_type(t) for t in duck_rel.types]
        drows = duck_rel.fetchall()
    except Exception as e:
        print(f"ORACLE ERROR {qname}: {e}")
        fails.append(qname)
        continue
    if sorted(scols) != sorted(dcols):
        print(f"SCHEMA MISMATCH {qname}: spark={sorted(scols)} duck={sorted(dcols)}")
        fails.append(qname)
        continue
    sidx = [scols.index(c) for c in sorted(scols)]
    didx = [dcols.index(c) for c in sorted(dcols)]
    badtypes = [f"{scols[i]}: spark={stypes[i]} duck={dtypes[j]}"
                for i, j in zip(sidx, didx) if stypes[i] != dtypes[j]]
    if badtypes:
        print(f"TYPE MISMATCH {qname}: " + "; ".join(badtypes))
        fails.append(qname)
        continue
    key = lambda row: [repr(x) for x in row]
    sset = sorted((tuple(canon(r[i]) for i in sidx) for r in srows), key=key)
    dset = sorted((tuple(canon(r[i]) for i in didx) for r in drows), key=key)
    if len(sset) != len(dset):
        print(f"ROWCOUNT MISMATCH {qname}: spark={len(sset)} duck={len(dset)}")
        fails.append(qname)
        continue
    bad = [(a, b) for a, b in zip(sset, dset) if a != b]
    if bad:
        print(f"VALUE MISMATCH {qname}: {len(bad)}/{len(sset)} rows; first: spark={bad[0][0]} duck={bad[0][1]}")
        fails.append(qname)
    else:
        print(f"OK {qname} ({len(sset)} rows)")

# rows-only queries (no oracle): just report counts
for qdir in sorted(glob.glob(os.path.join(outdir, "q*"))):
    qname = os.path.basename(qdir)
    if qname in oracle or not os.path.isdir(qdir):
        continue
    n = con.execute(f"SELECT count(*) FROM '{qdir}/*.parquet'").fetchone()[0]
    print(f"ROWS-ONLY {qname}: {n} rows")

print(("FAILED: " + ", ".join(fails)) if fails else "ALL MATCH")
sys.exit(1 if fails else 0)
