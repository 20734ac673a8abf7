"""DuckDB oracle results for one workload on one generated input set.

Each query's registered oracle SQL (`Q.oracle`) runs over views named after
the input tables, as in `tools/verify_local.py`, and its result is written
to `<query>.parquet`. The JVM side digests those files with the same
canonical row form as the engine's results (columns sorted by name, rows
order-free, dates as strings, a column fractional on either side compared
as DOUBLE); `fractional.tsv` names each result's fractional columns for
that. Oracle errors go to `errors.json` and count as failures. Written
once per (workload, seed, factor) into a temporary directory and renamed.
"""
import json
import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from gen import TABLES


def _fractional(schema):
    return [f.name for f in schema
            if pa.types.is_floating(f.type)
            or (pa.types.is_decimal(f.type) and f.type.scale > 0)]


def run(sqls, data, dst):
    """Write every oracle in `sqls` ({query: sql}) over `data` into `dst`."""
    os.makedirs(dst)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    errors, frac = {}, []
    for name, sql in sorted(sqls.items()):
        path = os.path.join(dst, f"{name}.parquet")
        try:
            con.sql(sql).write_parquet(path)
            frac.append(name + "\t" + ",".join(_fractional(pq.read_schema(path))))
        except Exception as e:  # reported, counted as a failed comparison
            errors[name] = f"{type(e).__name__}: {e}"[:300]
    with open(os.path.join(dst, "fractional.tsv"), "w") as f:
        f.write("\n".join(frac) + "\n")
    with open(os.path.join(dst, "errors.json"), "w") as f:
        json.dump(errors, f)
    con.close()


def ensure(sqls, data, cache, key):
    """The cached oracle directory for `key`, computed if missing."""
    dst = os.path.join(cache, key)
    if not os.path.isdir(dst):
        tmp = f"{dst}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        run(sqls, data, tmp)
        try:
            os.rename(tmp, dst)
        except OSError:  # another run finished the same oracles first
            shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(dst, "errors.json")) as f:
        return dst, json.load(f)
