"""``stream_drain``: streaming registry entries drained with
``availableNow`` over generated tables, each result checked against ``plans.ORACLE`` run in DuckDB over the
same parquet, outside the timed region.

The canonical form is the one ``tools/drive_gate.py`` uses (columns sorted
by name, cells stringified, rows sorted, md5), restated here because that
tool starts a Spark session when imported.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os

import numpy as np
import pandas as pd

# Each pass runs every entry once, in this order.
WORKLOADS = {
    "stream_drain": {
        "tables": {"events": 10000, "users": 1500},
        "entries": [
            "stream_daily_counts",
            "stream_session_windows",
            "stream_dedup_keys",
            "stream_stream_join",
            "stream_static_enrich",
            "stream_ivm_rollup",
            "stream_scd2_apply",
        ],
    },
}


def canon(df: pd.DataFrame) -> tuple[str, int]:
    df = df.reindex(sorted(df.columns), axis=1)
    out = []
    for row in df.itertuples(index=False, name=None):
        cells = []
        for x in row:
            if x is None or (isinstance(x, float) and math.isnan(x)):
                cells.append("∅")
            elif isinstance(x, (np.floating, float)):
                v = float(x)
                cells.append("∅" if math.isnan(v) else repr(v))
            elif isinstance(x, (np.integer, int)):
                cells.append(str(int(x)))
            elif isinstance(x, (np.bool_, bool)):
                cells.append(str(bool(x)))
            elif isinstance(x, (pd.Timestamp, dt.datetime, dt.date)):
                cells.append(x.isoformat())
            else:
                cells.append(str(x))
        out.append("|".join(cells))
    return hashlib.md5("\n".join(sorted(out)).encode()).hexdigest(), len(out)


class DuckOracle:
    """``plans.ORACLE[name]`` evaluated once per entry over the data dir."""

    def __init__(self, data_dir: str, oracle_sql: dict[str, str]):
        import duckdb

        self.con = duckdb.connect()
        self.sql = oracle_sql
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                self.con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'"
                )
        self._memo: dict[str, tuple[str, int]] = {}

    def expected(self, name: str) -> tuple[str, int]:
        if name not in self._memo:
            self._memo[name] = canon(self.con.execute(self.sql[name]).fetchdf())
        return self._memo[name]
