"""DuckDB oracle check for contract queries.

The comparison is the one ``tools/check_oracle.py`` applies: its
``canon`` (columns by name, rows sorted, object columns as strings), then
row count, column names, dtypes and exact values, with NaN equal to NaN.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import numpy as np


def _load_canon(root: str):
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved  # the script prepends a fixed repo path
    return mod.canon, mod.TABLES


class Oracle:
    def __init__(self, root: str, sf_dir: str):
        import duckdb

        self.canon, tables = _load_canon(root)
        self.sql = None  # read at the first check, once the program is imported
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def close(self):
        self.con.close()

    def check(self, name: str, sdf) -> str | None:
        """None when the Spark result ``sdf`` (pandas) matches the oracle."""
        if self.sql is None:
            import __spark_entry__ as E

            self.sql = E.oracle_sql()
        if name not in self.sql:
            return None if len(sdf) else "rows-only query returned 0 rows"
        a, b = self.canon(sdf), self.canon(self.con.execute(self.sql[name]).df())
        if len(a) != len(b):
            return f"ROWCOUNT {len(a)} vs {len(b)}"
        if list(a.columns) != list(b.columns):
            return f"SCHEMA {list(a.columns)} vs {list(b.columns)}"
        for c in a.columns:
            if str(a[c].dtype) != str(b[c].dtype):
                return f"DTYPE {c}: {a[c].dtype} vs {b[c].dtype}"
        for c in a.columns:
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
                av, bv = av.astype(np.float64), bv.astype(np.float64)
                eq = (av == bv) | (np.isnan(av) & np.isnan(bv))
            else:
                eq = av.astype(str) == bv.astype(str)
            if not eq.all():
                i = int(np.flatnonzero(~eq)[0])
                return f"VALUES col={c} row={i}: {av[i]!r} vs {bv[i]!r}"
        return None
