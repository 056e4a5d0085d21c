"""Simulates the grading driver: imports __spark_entry__, smoke-runs entry(),
then runs each queries() entry vs its oracle_sql() via DuckDB, like
CORRECTNESS_r{N}.json generation."""
import os, sys, json
# the checkout this script lives in, whatever the cwd
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as E

print("ENTRY:", E.__file__)

spark = (SparkSession.builder.master("local[8]").appName("driver_sim")
         .config("spark.sql.shuffle.partitions","8")
         .config("spark.ui.enabled","false")
         .config("spark.sql.session.timeZone","UTC").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

# t1 smoke
df = E.entry(spark)
rows = df.collect()
print("SMOKE entry(): rows =", len(rows), "schema =", [f.name for f in df.schema])
assert len(rows) > 0

# t2 correctness at sf0.01 with pre-registered views (driver contract)
sf = "/root/testdata/sf0.01"
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

qs, os_ = E.queries(), E.oracle_sql()
results = {}
for name, fn in sorted(qs.items()):
    sdf = fn(spark, sf)
    sp = sdf.toPandas()
    sp = sp[sorted(sp.columns)]
    if name in os_:
        dd = con.sql(os_[name]).df()
        dd = dd[sorted(dd.columns)]
        schema_ok = list(sp.columns) == list(dd.columns)
        count_ok = len(sp) == len(dd)
        import pandas as pd
        def key(df):
            out = df.copy()
            for c in out.columns:
                s = out[c]
                if pd.api.types.is_datetime64_any_dtype(s): out[c] = s.astype("datetime64[us]").astype(str)
                elif pd.api.types.is_float_dtype(s): out[c] = s.round(9).astype(str)
                else: out[c] = s.astype(str)
                out.loc[s.isna(), c] = "<NULL>"
            return sorted(map(tuple, out.values.tolist()))
        value_ok = key(sp) == key(dd)
        results[name] = {"rows": len(sp), "schema": schema_ok, "count": count_ok, "values": value_ok}
    else:
        results[name] = {"rows": len(sp), "rows_only": True}
print(json.dumps(results, indent=1))
# NB: bool is a subclass of int, so a bare isinstance(x, int) would let
# False pass as an "int field" and the FAILED line could never fire —
# treat only non-bool ints (row counts) as pass-through values
bad = [
    k
    for k, v in results.items()
    if not all(
        (x is True) or (isinstance(x, int) and not isinstance(x, bool))
        for x in v.values()
    )
]
print("FAILED:", bad if bad else "none")
spark.stop()
