#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify
first, then this script compares each query's parquet result against
its DuckDB oracle (columns sorted by name, row-order-sensitive values).
Every query named in Verify's failed.json is a FAIL too, with or
without oracle SQL: it threw, so any result on disk is not its own.
Query names narrow the check to those queries; a name in neither
oracle_sql.json nor failed.json is a FAIL (nothing was compared).
Usage: python3 tools/check.py [sfDir] [outDir] [only_query ...]
"""
import duckdb, json, sys

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
only = set(sys.argv[3:])

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

oracle = json.load(open(f"{out}/oracle_sql.json"))
failed = {k: v for k, v in json.load(open(f"{out}/failed.json")).items()
          if not only or k in only}
fails = [(name, f"threw in graft.Verify: {why}") for name, why in sorted(failed.items())]
fails += [(name, "in neither oracle_sql.json nor failed.json: nothing to check")
          for name in sorted(only - oracle.keys() - failed.keys())]
checked = sorted(n for n in oracle if not only or n in only)
for name in checked:
    if name in failed:
        continue
    sql = oracle[name]
    try:
        got = con.execute(
            f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").fetchdf()
    except Exception as e:
        fails.append((name, f"spark result unreadable: {e}"))
        continue
    try:
        want = con.execute(sql).fetchdf()
    except Exception as e:
        fails.append((name, f"oracle sql failed: {e}"))
        continue
    got = got[sorted(got.columns)].reset_index(drop=True)
    want = want[sorted(want.columns)].reset_index(drop=True)
    if list(got.columns) != list(want.columns):
        fails.append((name, f"columns differ: spark={list(got.columns)} oracle={list(want.columns)}"))
        continue
    if got.shape != want.shape:
        fails.append((name, f"shape differs: spark={got.shape} oracle={want.shape}"))
        continue
    ga, wa = got.astype(str), want.astype(str)
    neq = (ga != wa)
    if neq.any().any():
        rows = neq.any(axis=1)
        idx = rows[rows].index[:3]
        detail = "; ".join(
            f"row {i}: spark={got.loc[i].to_dict()} oracle={want.loc[i].to_dict()}"
            for i in idx)
        fails.append((name, f"{int(rows.sum())}/{len(got)} rows differ: {detail[:500]}"))
    else:
        print(f"PASS {name} ({len(got)} rows)")

for name, why in fails:
    print(f"FAIL {name}: {why}")
n_fail = sum(1 for name, _ in fails if name in checked)
print(f"\n{len(checked) - n_fail}/{len(checked)} oracle-checked queries pass")
print(f"{len(failed)} queries threw in graft.Verify")
sys.exit(1 if fails else 0)
