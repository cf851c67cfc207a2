"""Output checks, run outside the timed region against DuckDB over the
same generated parquet files the engine read.

Each check returns None when the output is right, else a one-line
reason; the caller counts a reason as a failed operation.
"""

from __future__ import annotations

import duckdb

from algoritmos_etl_spark.driver_queries import REGISTRY
from algoritmos_etl_spark.sources.readers import ORACLE_BARS_CTE
from verify_local import table_digest

TABLES = ("events", "documents", "lineitem", "orders", "supplier")

CALENDAR_SQL = f"""
WITH {ORACLE_BARS_CTE}
SELECT count(DISTINCT symbol), count(DISTINCT date),
       CAST(min(date) AS VARCHAR), CAST(max(date) AS VARCHAR)
FROM bars
"""


class Checker:
    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self._memo: dict[str, object] = {}

    def _once(self, key: str, sql: str):
        if key not in self._memo:
            self._memo[key] = self.con.sql(sql).fetchall()
        return self._memo[key]

    # ------------------------------------------------------------ queries

    def query(self, name: str, columns: list[str], rows: list[tuple]) -> str | None:
        rel = self.con.sql(REGISTRY[name].oracle)
        ocols = [d[0] for d in rel.description]
        orows = rel.fetchall()
        if len(rows) != len(orows):
            return f"{name}: {len(rows)} rows, oracle {len(orows)}"
        if sorted(columns) != sorted(ocols):
            return f"{name}: columns {sorted(columns)} != oracle {sorted(ocols)}"
        if table_digest(columns, rows) != table_digest(ocols, orows):
            return f"{name}: value digest differs from oracle"
        return None

    # ---------------------------------------------------------------- api

    def api(self, route: str, query: dict, path: str, status: int, payload: dict) -> str | None:
        if status != 200:
            return f"{path}: status {status}"
        return getattr(self, f"_api_{route}")(path, query, payload)

    def _symbols(self) -> list[int]:
        return [r[0] for r in self._once("symbols", "SELECT DISTINCT user_id FROM events ORDER BY 1")]

    def _api_symbols(self, path, query, payload) -> str | None:
        if payload.get("symbols") != self._symbols():
            return f"{path}: symbol list differs from DuckDB"
        return None

    def _api_patterns(self, path, query, payload) -> str | None:
        if payload.get("symbol") != int(path.rsplit("/", 1)[1]):
            return f"{path}: wrong symbol echoed"
        if not isinstance(payload.get("streaks"), dict) or not isinstance(payload.get("gaps"), dict):
            return f"{path}: streaks/gaps missing"
        return None

    def _api_candlestick(self, path, query, payload) -> str | None:
        sym = int(path.rsplit("/", 1)[1])
        bars = payload.get("bars", [])
        dates = [b["date"] for b in bars]
        if not bars or len(bars) > 200 or dates != sorted(dates):
            return f"{path}: expected 1..200 date-ordered bars"
        if any(b["symbol"] != sym for b in bars):
            return f"{path}: bars of another symbol"
        return None

    # ---------------------------------------------------------------- etl

    def etl(self, report: dict, readback: dict, params: dict) -> str | None:
        n_sym, n_dates, first, last = self._once("calendar", CALENDAR_SQL)[0]
        want = {
            "n_symbols": n_sym,
            "n_dates": n_dates,
            "first_date": first,
            "last_date": last,
            "rows_long": n_sym * n_dates,  # aligned to the union calendar
        }
        got = {k: report.get(k) for k in want}
        if got != want:
            return f"etl report {got} != DuckDB {want}"
        in_range = self.con.sql(
            f"SELECT count(DISTINCT CAST(ts AS DATE)) FROM events "
            f"WHERE CAST(ts AS DATE) BETWEEN '{params['date_lo']}' AND '{params['date_hi']}'"
        ).fetchall()[0][0]
        if readback["long_rows"] != in_range * len(params["symbols"]):
            return f"etl readback {readback['long_rows']} rows, expected {in_range * len(params['symbols'])}"
        return None
