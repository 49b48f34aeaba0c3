"""Compare the analytics reference pass against DuckDB.

For each query, the Spark output written by the reference pass
(`<out_dir>/<name>/*.parquet`) must match DuckDB running the engine's
declared `oracleSql` over the same generated tables: same column names,
compatible Arrow types, same row count, and equal values row by row in
emitted order.
"""
import glob
import json
import math

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def family(t):
    for name, test in (("decimal", pa.types.is_decimal), ("int", pa.types.is_integer),
                       ("float", pa.types.is_floating), ("bool", pa.types.is_boolean),
                       ("timestamp", pa.types.is_timestamp), ("date", pa.types.is_date)):
        if test(t):
            return name
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return ("list", family(t.value_type))
    if pa.types.is_struct(t):
        return ("struct", tuple(sorted((f.name, family(f.type)) for f in t)))
    return str(t)


def column_diff(a, b):
    """Index of the first differing row of two equal-length columns, or None."""
    a, b = a.combine_chunks(), b.combine_chunks()
    if a.type != b.type:
        try:
            b = b.cast(a.type)
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
            pass
    if a.type == b.type and a.equals(b):
        return None
    # slow path: NaN-aware, type-tolerant comparison of the Python values
    return next((i for i, (x, y) in enumerate(zip(a.to_pylist(), b.to_pylist()))
                 if norm(x) != norm(y)), None)


def compare(data_dir, out_dir):
    """Return {query: None if it matches, else the first difference}."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    result = {}
    for name, sql in sorted(json.load(open(f"{out_dir}/oracle_sql.json")).items()):
        # part files in partition order hold the rows in emitted order
        files = sorted(glob.glob(f"{out_dir}/{name}/part-*.parquet"))
        if not files:
            result[name] = "no Spark output"
            continue
        s = pa.concat_tables([pq.read_table(f) for f in files])
        try:
            d = con.execute(sql).fetch_arrow_table()
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            result[name] = f"oracle SQL error: {e}"
            continue
        cols = sorted(s.column_names)
        if cols != sorted(d.column_names):
            result[name] = f"columns differ: {cols} vs {sorted(d.column_names)}"
        elif any(family(s.schema.field(c).type) != family(d.schema.field(c).type)
                 for c in cols):
            result[name] = "arrow types differ"
        elif s.num_rows != d.num_rows:
            result[name] = f"rows differ: spark {s.num_rows} duckdb {d.num_rows}"
        else:
            bad = [(i, c) for c in cols
                   for i in [column_diff(s.column(c), d.column(c))] if i is not None]
            result[name] = (None if not bad else
                            "row {} differs in column {}".format(*min(bad)))
    return result
