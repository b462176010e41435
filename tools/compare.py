#!/usr/bin/env python3
"""Dev-only oracle comparator (mimics the driver's DuckDB check).

Usage: python3 tools/compare.py <sfDir> <verifyOutDir>
       python3 tools/compare.py --pair <parentOutDir> <changeOutDir>

For each <name>.parquet dir under verifyOutDir, runs oracle_sql.json[name]
in DuckDB with views over sfDir's parquet tables, then compares:
column names (sorted), row counts, and an order-insensitive value hash
with values normalized (floats rounded repr, dates/timestamps as ISO).

--pair compares two Verify output dirs (a parent and a change) without
DuckDB: it byte-compares the two oracle_sql.json files, then hashes every
query's output in both dirs the same way and prints each query whose
columns or hash differ (or that is missing from one side), ending with
"N identical, M differ". Exit status is 0 only when nothing differs.
NOT part of the shipped library — local testing aid only.
"""
import sys, json, glob, os, hashlib
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm_df(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if s.dtype.kind == "f":
            out[c] = s.map(lambda x: None if pd.isna(x) else repr(float(x)))
        elif s.dtype.kind in "iu":
            out[c] = s.map(lambda x: None if pd.isna(x) else str(int(x)))
        elif s.dtype.kind == "M":
            # Midnight-only timestamps normalize to date-only ISO so a
            # parquet date32 read back as datetime.date (object dtype) and
            # a DuckDB DATE fetched as datetime64 hash identically.
            out[c] = s.map(lambda x: None if pd.isna(x) else (
                t.date().isoformat() if (t := pd.Timestamp(x)) == t.normalize()
                else t.isoformat()))
        else:
            out[c] = s.map(lambda x: None if x is None else (
                x.isoformat() if hasattr(x, "isoformat") else str(x)))
    n = pd.DataFrame(out)
    n = n.sort_values(by=list(n.columns), na_position="first").reset_index(drop=True)
    return n

def df_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for _, row in df.iterrows():
        h.update(("\x01".join("" if v is None else str(v) for v in row) + "\n").encode())
    return h.hexdigest()

def output_hash(out_dir: str, name: str):
    """(sorted columns, row count, hash) of one query's Verify output, or
    None when the query wrote no parquet files."""
    files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
    if not files:
        return None
    df = pd.concat([pd.read_parquet(f) for f in files])
    return sorted(df.columns), len(df), df_hash(norm_df(df))

def compare_pair(parent_dir: str, change_dir: str) -> int:
    oracle_a = open(f"{parent_dir}/oracle_sql.json", "rb").read()
    oracle_b = open(f"{change_dir}/oracle_sql.json", "rb").read()
    oracle_same = oracle_a == oracle_b
    print("oracle_sql.json " + ("identical" if oracle_same else "DIFFERS"))
    names = sorted(set(json.loads(oracle_a)) | set(json.loads(oracle_b)))
    n_same = n_diff = 0
    for name in names:
        a, b = output_hash(parent_dir, name), output_hash(change_dir, name)
        if a is not None and a == b:
            n_same += 1
            continue
        n_diff += 1
        if a is None or b is None:
            side = "parent" if a is None else "change"
            print(f"DIFF {name}: no output in {side}")
        elif a[0] != b[0]:
            print(f"DIFF {name}: columns {a[0]} vs {b[0]}")
        else:
            print(f"DIFF {name}: rows {a[1]} vs {b[1]}, hash {a[2][:12]} vs {b[2][:12]}")
    print(f"\n{n_same} identical, {n_diff} differ")
    return 0 if oracle_same and n_diff == 0 else 1

def main():
    if sys.argv[1] == "--pair":
        sys.exit(compare_pair(sys.argv[2], sys.argv[3]))
    import duckdb
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        spark_files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not spark_files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            oracle = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}"); n_fail += 1; continue
        got = pd.concat([pd.read_parquet(f) for f in spark_files])
        gc, oc = sorted(got.columns), sorted(oracle.columns)
        if gc != oc:
            print(f"FAIL {name}: columns {gc} vs {oc}"); n_fail += 1; continue
        if len(got) != len(oracle):
            print(f"FAIL {name}: rows {len(got)} vs {len(oracle)}"); n_fail += 1; continue
        gn, on = norm_df(got), norm_df(oracle)
        gh, oh = df_hash(gn), df_hash(on)
        if gh != oh:
            diff = gn.compare(on) if gn.shape == on.shape else None
            print(f"FAIL {name}: hash mismatch")
            if diff is not None and len(diff):
                print(diff.head(10))
            n_fail += 1
            continue
        print(f"PASS {name} ({len(got)} rows)")
        n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
