"""Seeded operation schedules: which requests or queries a run sends,
and in what order. Pure functions of the seed and the symbol list, so
the tests can check determinism without Spark."""

from __future__ import annotations

import random
from dataclasses import dataclass, field

WORKLOADS = ("api_mix", "query_catalog")

# Nominal length of one warm block on a 4-core host. A run times a
# fixed number of blocks worked out from --seconds with it, at least
# MIN_BLOCKS, so wall_s and latency_p50_s are medians over repeated
# work. The count does not follow the blocks' own timings: the JIT
# keeps warming block after block, and a faster host would run more,
# warmer blocks and report a lower median.
BLOCK_S = {"api_mix": 6.0, "query_catalog": 3.0}
MIN_BLOCKS = 3


def timed_blocks(workload: str, seconds: float) -> int:
    return max(MIN_BLOCKS, round(seconds / BLOCK_S[workload]))

# One api_mix block: a client lists the symbols, then asks for one
# symbol's candlestick and patterns. These routes are bound by fixed
# per-query cost. The seed picks the symbols; the order is fixed, because the
# first requests of a fresh JVM pay its just-in-time compilation and a
# seeded order moved that cost between routes from run to run.
API_ROUTES = ("symbols", "candlestick", "patterns")

# query_catalog pass: registry queries with disjoint inputs (no query
# stages a fixture another one reads). Fixed order for the same reason;
# the seed sets the data. The workload's set-up refreshes the master
# dataset with the ETL first (`etl_refresh_op`).
CATALOG_QUERIES = (
    "bars_model",
    "forecast_revenue",
    "streaming_cdc_state",
)


@dataclass(frozen=True)
class Op:
    kind: str  # "api", "query" or "etl"
    name: str  # route, registry query name, or "etl_refresh"
    path: str = ""
    query: dict = field(default_factory=dict)
    params: dict = field(default_factory=dict)


def api_block(rng: random.Random, symbols: list[int]) -> list[Op]:
    return [
        Op("api", "symbols", "/api/symbols"),
        Op("api", "candlestick", f"/api/candlestick/{rng.choice(symbols)}"),
        Op("api", "patterns", f"/api/patterns/{rng.choice(symbols)}"),
    ]


def etl_params(rng: random.Random, symbols: list[int], dates: list[str]) -> dict:
    """Seeded read-back of the ETL output: a symbol subset and a date
    range inside one calendar year, so the year partitions prune."""
    year = rng.choice(sorted({d[:4] for d in dates}))
    in_year = [d for d in dates if d[:4] == year]
    lo, hi = sorted(rng.sample(in_year, 2)) if len(in_year) > 1 else (in_year[0],) * 2
    return {
        "symbols": sorted(rng.sample(symbols, max(1, len(symbols) // 10))),
        "date_lo": lo,
        "date_hi": hi,
    }


def etl_refresh_op(seed: int, symbols: list[int], dates: list[str]) -> Op:
    """The ETL refresh that stages a query_catalog run, with its seeded
    read-back."""
    rng = random.Random(f"etl_refresh:{seed}")
    return Op("etl", "etl_refresh", params=etl_params(rng, symbols, dates))


def catalog_pass() -> list[Op]:
    return [Op("query", n) for n in CATALOG_QUERIES]


def block_maker(workload: str, seed: int, symbols: list[int]):
    """A callable returning the next block of operations for `workload`.

    Every block draws from one seeded stream, so block k of a run is
    the same for a given seed however long the earlier blocks took. A
    catalog pass is the same in every block; its seed sets the data."""
    rng = random.Random(f"{workload}:{seed}")
    if workload == "api_mix":
        return lambda: api_block(rng, symbols)
    if workload == "query_catalog":
        return catalog_pass
    raise ValueError(f"unknown workload {workload!r}")
