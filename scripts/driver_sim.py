"""Simulate the external driver: plain SparkSession (no engine session
factory, non-UTC-pinned), run entry() smoke + every queries() entry at
sf0.01 against oracle_sql() via DuckDB, order-insensitive compare."""
import os, sys, math, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false")
         .appName("driver-sim").getOrCreate())

import __spark_entry__ as E
import duckdb, pandas as pd, numpy as np

SF = os.environ.get("SPARK_GRAFT_SIM_SF", "/root/testdata/sf0.01")
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def cell(v):
    if v is None or v is pd.NaT: return "<NULL>"
    if isinstance(v,(bool,np.bool_)): return str(bool(v))
    if isinstance(v,(float,np.floating)):
        return "<NULL>" if math.isnan(v) else repr(float(v))
    if isinstance(v,(int,np.integer)): return repr(float(v))
    if isinstance(v,pd.Timestamp): return v.isoformat()
    return str(v)

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame({c:[cell(v) for v in df[c]] for c in df.columns})
    return out.sort_values(by=list(out.columns)).reset_index(drop=True) if len(out) else out

qs, os_ = E.queries(), E.oracle_sql()
fails = []
# streaming queries FIRST: on a fresh non-UTC-pinned session they must
# self-defend their timezone/conf assumptions without a batch query
# having run table() first (order-dependent session-state bugs)
for name in sorted(qs, key=lambda n: (not n.startswith("st"), n)):
    t0 = time.time()
    try:
        sdf = qs[name](spark, SF).toPandas()
    except Exception as ex:
        fails.append((name, f"spark error: {ex}")); print(f"FAIL {name}: spark error"); continue
    if name not in os_:
        print(f"rows-only {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)"); continue
    odf = con.execute(os_[name]).df()
    a, b = canon(sdf), canon(odf)
    ok = list(a.columns)==list(b.columns) and len(a)==len(b) and a.equals(b)
    print(f"{'PASS' if ok else 'FAIL'} {name}: spark={len(sdf)} oracle={len(odf)} ({time.time()-t0:.1f}s)")
    if not ok:
        if list(a.columns)!=list(b.columns): fails.append((name,f"cols {list(a.columns)} vs {list(b.columns)}"))
        elif len(a)!=len(b): fails.append((name,f"rows {len(a)} vs {len(b)}"))
        else:
            diff = (a!=b).any(axis=1)
            fails.append((name, "first diff rows:\n"+a[diff].head(3).to_string()+"\n---\n"+b[diff].head(3).to_string()))
# smoke (after the loop — entry() must not be what pins session state)
edf = E.entry(spark)
n = edf.count()
print(f"entry(): {n} rows, schema={[f.name for f in edf.schema]}")
assert n > 0

print("\n=== RESULT:", "ALL PASS" if not fails else f"{len(fails)} FAILURES")
for nm, why in fails: print(nm, "->", why[:500])
