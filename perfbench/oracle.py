"""DuckDB oracle check of the pipeline queries' results.

Each result that the benchmark JVM wrote as parquet is compared, row by
row in order, with the query's oracle SQL run by DuckDB over the same
generated tables. The comparison follows the engine's own oracle gate:
the physical type family of every column must match, then every value.
"""
import glob
import json
import os
import warnings

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

warnings.filterwarnings("ignore", category=FutureWarning)

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _family(t):
    if pa.types.is_dictionary(t):
        t = t.value_type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_timestamp(t):
        return ("timestamp", t.tz is not None)
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_integer(t):
        return f"int{t.bit_width}"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return ("list", _family(t.value_type))
    if pa.types.is_struct(t):
        return ("struct", tuple((f.name, _family(f.type)) for f in t))
    return str(t)


def _diff(got_at, exp_at):
    """First difference between two result tables, or None."""
    g = {f.name: f.type for f in got_at.schema}
    e = {f.name: f.type for f in exp_at.schema}
    if sorted(g) != sorted(e):
        return f"columns {sorted(g)} != {sorted(e)}"
    for c in sorted(g):
        if _family(g[c]) != _family(e[c]):
            return f"type of {c}: {g[c]} != {e[c]}"
    got, exp = got_at.to_pandas(), exp_at.to_pandas()
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    for c in sorted(g):
        a, b = got[c].values, exp[c].values
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            eq = (a == b) | (pd.isna(a) & pd.isna(b))
        else:
            eq = (pd.Series(a).astype(object).fillna("\0NULL").astype(str).values ==
                  pd.Series(b).astype(object).fillna("\0NULL").astype(str).values)
        if not np.all(eq):
            i = int(np.argmin(eq))
            return f"{c}[{i}]: {a[i]!r} != {b[i]!r}"
    return None


def compare(data_dir, out_dir, plant_wrong=False):
    """Return {query: reason} for every result that differs from its oracle.
    With `plant_wrong`, the first oracle result loses its last row, so a
    working check must report it."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = {}
    for i, name in enumerate(sorted(oracle)):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            bad[name] = "no result written"
            continue
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()
        exp = con.execute(oracle[name]).fetch_arrow_table()
        if plant_wrong and i == 0:
            exp = exp.slice(0, max(0, exp.num_rows - 1))
        reason = _diff(got, exp)
        if reason:
            bad[name] = reason
    return bad
