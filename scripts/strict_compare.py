"""Driver-mimic strict comparator (the /verify core check).

Runs every queries() entry on a BARE SparkSession at sf0.01 and
compares it against oracle_sql() in DuckDB, columns sorted by name,
two ways in one pass:
  * sorted: rows sorted, canonical exact compare (Decimal->str,
    float->repr(round 6), dates lifted to datetimes); a failure prints
    SCHEMA / VALUES / ERROR and counts in the final "DONE bad=N of M";
  * ordered: rows in returned order, floats at full precision (the
    total row order the contract's _canon promises); a failure prints
    ORDER and counts in "ORDERED bad=N of K" (K = entries with an
    oracle), printed just before the DONE line.
NO_ORACLE entries print their row count.

Usage: python scripts/strict_compare.py
"""
import importlib.util, datetime, decimal, os, sys, time
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from pyspark.sql import SparkSession
import duckdb

spark = SparkSession.builder.master(os.environ.get("SC_MASTER","local[8]")).getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
spec = importlib.util.spec_from_file_location("__spark_entry__", os.path.join(ROOT, "__spark_entry__.py"))
mod = importlib.util.module_from_spec(spec); spec.loader.exec_module(mod)
print(len(mod.entry(spark).collect()), "entry rows", flush=True)

SF="/root/testdata/sf0.01"
con=duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def canon(v, exact=False):
    if isinstance(v, decimal.Decimal): return str(v)
    if isinstance(v, float): return repr(v if exact else round(v,6))
    if isinstance(v, datetime.datetime): return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date): return datetime.datetime(v.year,v.month,v.day).isoformat()
    return repr(v)

def first_diff(a, b):
    return [(x,y) for x,y in zip(a,b) if x!=y][:1]

qs, oracles = mod.queries(), mod.oracle_sql()
bad = bad_ordered = 0
slow = []   # (sec, name) — entries that would strain a driver sample budget
t_all = time.perf_counter()
for name, fn in qs.items():
    t_q = time.perf_counter()
    if name not in oracles:
        print(f"{name}: NO_ORACLE (rows={fn(spark,SF).count()})", flush=True)
        el = time.perf_counter() - t_q
        if el > 5: slow.append((el, name))
        continue
    try:
        sdf = fn(spark, SF)
        scols = sorted(sdf.columns)
        sraw = [[r[c] for c in scols] for r in sdf.collect()]
        res = con.execute(oracles[name])
        ocols_raw = [d[0] for d in res.description]
        idx = sorted(range(len(ocols_raw)), key=lambda i: ocols_raw[i])
        ocols = [ocols_raw[i] for i in idx]
        oraw = [[r[i] for i in idx] for r in res.fetchall()]
        srows = sorted(tuple(map(canon, r)) for r in sraw)
        orows = sorted(tuple(map(canon, r)) for r in oraw)
        sexact = [tuple(canon(v, True) for v in r) for r in sraw]
        oexact = [tuple(canon(v, True) for v in r) for r in oraw]
        if scols != ocols: print(f"{name}: SCHEMA {scols} vs {ocols}", flush=True); bad+=1; bad_ordered+=1
        elif srows != orows:
            bad+=1; bad_ordered+=1
            print(f"{name}: VALUES rows={len(srows)}/{len(orows)} first_diff={first_diff(srows,orows)}", flush=True)
        elif sexact != oexact:
            bad_ordered+=1
            print(f"{name}: ORDER first_diff={first_diff(sexact,oexact)}", flush=True)
    except Exception as e:
        bad+=1; bad_ordered+=1; print(f"{name}: ERROR {type(e).__name__}: {str(e)[:200]}", flush=True)
    el = time.perf_counter() - t_q
    if el > 5: slow.append((el, name))
for el, name in sorted(slow, reverse=True):
    print(f"SLOW {el:.1f}s {name}", flush=True)
print(f"ORDERED bad={bad_ordered} of {sum(n in oracles for n in qs)}", flush=True)
print(f"DONE bad={bad} of {len(qs)} in {time.perf_counter()-t_all:.0f}s", flush=True)
