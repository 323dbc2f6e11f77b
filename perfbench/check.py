"""Output check: every step's Spark result against DuckDB running the
step's oracle SQL over the same input files, compared with the rules of
tools/selfcheck.py (columns by name, rows sorted, exact values)."""
import contextlib
import io
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from selfcheck import compare  # noqa: E402


def _scan(path):
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


# Oracles that compare double sums for equality. TPC-H q15 compares each
# supplier's revenue with the max over the same CTE, which DuckDB evaluates
# twice; with parallel aggregation the two sums differed in the last bit in
# ~1 of 20 runs, giving 0 rows. One thread makes them come out the same.
SERIAL = {"q15_topsupplier"}
THREADS = 4


def check(data_dir, results_dir, oracle, tmp_dir):
    """Returns {step: None if it matched, else the reason}."""
    con = duckdb.connect(config={"threads": THREADS, "memory_limit": "2GB",
                                 "temp_directory": tmp_dir})
    con.execute("SET enable_progress_bar = false")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{_scan(os.path.join(data_dir, f))}'")
    out = {}
    for name, sql in sorted(oracle.items()):
        res = os.path.join(results_dir, name)
        con.execute(f"SET threads = {1 if name in SERIAL else THREADS}")
        try:
            spark_df = con.execute(f"SELECT * FROM '{res}/*.parquet'").fetchdf()
            oracle_df = con.execute(sql).fetchdf()
        except Exception as e:  # noqa: BLE001 - any failure is a wrong result
            out[name] = f"{type(e).__name__}: {e}"[:300]
            continue
        log = io.StringIO()
        with contextlib.redirect_stdout(log):
            ok = compare(name, spark_df, oracle_df)
        out[name] = None if ok else log.getvalue().strip()[:300]
    return out
