"""Output check against the repo's DuckDB oracle SQL.

The compare follows tools/check.py: exact logical types per column (resolution-
free), columns compared by name, rows compared as sorted multisets, floats
compared exactly. Served outputs arrive as the engine's v3 JSON response
(`columns`/`dtypes`/`data`); batch outputs as the parquet an entry wrote.
"""
import datetime
import decimal
import glob
import json
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data_dir: str):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def asig(t) -> str:
    """Exact logical-type signature of an arrow type (tools/check.py)."""
    if pa.types.is_timestamp(t):
        return "timestamp[tz]" if t.tz is not None else "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{asig(t.value_type)}>"
    if pa.types.is_struct(t):
        return "struct<" + ",".join(
            f"{t.field(i).name}:{asig(t.field(i).type)}" for i in range(t.num_fields)) + ">"
    return str(t)


def dtype_sig(name: str) -> str:
    """Signature of a v3 response `dtypes` entry (the engine's arrow names)."""
    if name.startswith("timestamp["):
        return "timestamp[tz]" if "tz=" in name else "timestamp"
    if name.startswith("date32"):
        return "date"
    if name.startswith("decimal128("):
        p, s = name[len("decimal128("):-1].split(",")
        return f"decimal({p.strip()},{s.strip()})"
    if name.startswith("list<item: "):
        return f"list<{dtype_sig(name[len('list<item: '):-1])}>"
    return name


def cell(v, sig: str):
    """Canonical comparable value of one cell, from either engine."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if sig.startswith("decimal"):
        return decimal.Decimal(str(v))
    if sig == "date":
        return v.isoformat() if isinstance(v, datetime.date) else str(v)[:10]
    if sig.startswith("timestamp"):
        if isinstance(v, datetime.datetime):
            return v.replace(tzinfo=None).strftime("%Y-%m-%d %H:%M:%S.%f")
        return str(v)
    if sig in ("double", "float"):
        return float(v)
    if sig.startswith(("int", "uint")):
        return int(v)
    if sig.startswith(("list", "struct")):
        return json.dumps(v if not isinstance(v, str) else json.loads(v), sort_keys=True)
    return v


def _rows(cols, sigs, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(cell(r[i], sigs[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def compare(spark_cols, spark_sigs, spark_rows, table: pa.Table):
    """None when equal, else a one-line reason."""
    duck_cols = table.column_names
    duck_sigs = [asig(f.type) for f in table.schema]
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns spark={spark_cols} duck={duck_cols}"
    ds = dict(zip(duck_cols, duck_sigs))
    for c, s in zip(spark_cols, spark_sigs):
        if ds[c] != s:
            return f"col {c}: type spark={s} duck={ds[c]}"
    if len(spark_rows) != table.num_rows:
        return f"rows spark={len(spark_rows)} duck={table.num_rows}"
    _, a = _rows(spark_cols, spark_sigs, spark_rows)
    _, b = _rows(duck_cols, duck_sigs, [tuple(r.values()) for r in table.to_pylist()])
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return f"row {i}: spark={x!r} duck={y!r}"
    return None


class Oracle:
    def __init__(self, data_dir: str):
        self.con = connect(data_dir)
        self.cache = {}

    def table(self, sql: str) -> pa.Table:
        if sql not in self.cache:
            self.cache[sql] = self.con.sql(sql).arrow()
        return self.cache[sql]

    def check_response(self, body: str, oracle_sql: str):
        r = json.loads(body)
        cols = r["columns"]
        sigs = [dtype_sig(r["dtypes"][c]) for c in cols]
        return compare(cols, sigs, r["data"], self.table(oracle_sql))

    def check_parquet(self, out_dir: str, oracle_sql: str):
        files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
        if not files:
            return "no output"
        t = pa.concat_tables([pq.read_table(f) for f in files])
        sigs = [asig(f.type) for f in t.schema]
        return compare(t.column_names, sigs, [tuple(r.values()) for r in t.to_pylist()],
                       self.table(oracle_sql))
