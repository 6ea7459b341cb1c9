"""DuckDB oracle check: each recorded result against its registry oracle SQL,
run over the same generated input. Values are compared the way the
repository's own correctness gate compares them: both sides become pandas
frames through Arrow, columns are sorted by name, rows are sorted, and every
value is rendered to text."""
import datetime
import decimal
import json
import os
import struct

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, float) and np.isnan(v):
        return "nan"
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return str(pd.Timestamp(v))
    if isinstance(v, np.floating):
        return str(float(v))
    if isinstance(v, np.integer):
        return str(int(v))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, np.ndarray):
        return str([_norm(x) for x in v.tolist()])
    if isinstance(v, list):
        return str([_norm(x) for x in v])
    return str(v)


def _rows(df):
    cols = sorted(df.columns)
    rows = sorted(tuple(_norm(v) for v in r) for r in df[cols].itertuples(index=False))
    return cols, rows


# ------------------------------------------------- the harness's JSON results

_ARROW = {"long": pa.int64(), "integer": pa.int32(), "short": pa.int16(), "byte": pa.int8(),
          "double": pa.float64(), "float": pa.float32(), "string": pa.string(),
          "boolean": pa.bool_(), "date": pa.date32(), "timestamp": pa.timestamp("us", "UTC"),
          "timestamp_ntz": pa.timestamp("us"), "binary": pa.binary()}


def arrow_type(t):
    """The Arrow type Spark's parquet writer produces for a Spark type (its JSON form)."""
    if isinstance(t, dict):
        if t["type"] == "array":
            return pa.list_(arrow_type(t["elementType"]))
        raise ValueError(f"unsupported result type {t}")
    if t.startswith("decimal("):
        p, s = t[8:-1].split(",")
        return pa.decimal128(int(p), int(s))
    return _ARROW[t]


def decode(cell, typ):
    tag, v = cell
    if tag == "n":
        return None
    if tag == "f":
        return struct.unpack("<d", struct.pack("<q", int(v)))[0]
    if tag == "a":
        return [decode(c, typ.value_type) for c in v]
    if tag == "t":
        return (datetime.date.fromisoformat(v) if typ == pa.date32()
                else datetime.datetime.fromisoformat(v).replace(
                    tzinfo=datetime.timezone.utc if typ.tz else None))
    if pa.types.is_decimal(typ):
        return decimal.Decimal(v)
    if pa.types.is_binary(typ):
        return bytes.fromhex(v)
    return v


def result_frame(doc):
    """A harness result as the pandas frame a parquet round trip would give."""
    types = [arrow_type(json.loads(t)) for t in doc["types"]]
    cols = [pa.array([decode(r[i], t) for r in doc["rows"]], type=t)
            for i, t in enumerate(types)]
    return pa.table(cols, names=doc["columns"]).to_pandas()


def compare(spark_df, duck_df):
    """None when equal, else a one-line reason."""
    sc, sr = _rows(spark_df)
    dc, dr = _rows(duck_df)
    if sc != dc:
        return f"columns {sc} != {dc}"
    if len(sr) != len(dr):
        return f"{len(sr)} rows != {len(dr)}"
    bad = sum(a != b for a, b in zip(sr, dr))
    return f"{bad}/{len(sr)} rows differ" if bad else None


def prelude_ctes(prelude):
    """Split the oracle prelude `WITH a AS (...), b AS (...)` into (name, body)."""
    text = prelude.strip()
    assert text[:4].upper() == "WITH", "the prelude opens a WITH list"
    i, out = 4, []
    while i < len(text):
        j = text.index("(", i)
        name = text[i:j].strip().lstrip(",").strip().split()[0]
        depth, k, quote = 0, j, False
        while True:
            ch = text[k]
            if ch == "'":
                quote = not quote
            elif not quote and ch == "(":
                depth += 1
            elif not quote and ch == ")":
                depth -= 1
                if depth == 0:
                    break
            k += 1
        out.append((name, text[j + 1:k]))
        i = k + 1
        if not text[i:].strip():
            break
    return out


def check_all(input_dir, out_dir, checks):
    """Key -> failure reason for every check that fails. The shared prelude
    is materialised once as tables, so each check runs only its own tail."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    res = os.path.join(out_dir, "results")
    prelude = None
    if checks and os.path.exists(os.path.join(res, "prelude.sql")):
        with open(os.path.join(res, "prelude.sql")) as f:
            prelude = f.read()
        for name, body in prelude_ctes(prelude):
            con.execute(f"CREATE TEMP TABLE {name} AS {body}")
    failures = {}
    for c in checks:
        key = c["key"]
        try:
            with open(os.path.join(res, f"{key}.json")) as f:
                got = result_frame(json.load(f))
            with open(os.path.join(res, f"{key}.sql")) as f:
                sql = f.read()
            if prelude is not None and sql.startswith(prelude):
                tail = sql[len(prelude):].strip()
                sql = "WITH " + tail[1:] if tail.startswith(",") else tail
            reason = compare(got, con.execute(sql).df())
        except Exception as e:  # a check that cannot run counts as failed
            reason = f"{type(e).__name__}: {e}"
        if reason:
            failures[key] = reason
    con.close()
    return failures
