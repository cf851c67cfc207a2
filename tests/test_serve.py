"""Serving-demo tests: every reference API route answers with the
engine's numbers through the framework-free dispatch core."""

from __future__ import annotations

import json

import pytest

from algoritmos_etl_spark.serve import JsonApi
from algoritmos_etl_spark.sources.readers import ORACLE_BARS_CTE, _bars

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def api(spark):
    return JsonApi(spark, SF_DIR)


def test_symbols_route(api):
    status, out = api.dispatch("/api/symbols", {})
    assert status == 200
    assert out["symbols"] == sorted(out["symbols"]) and out["symbols"]


def test_similarity_route_and_validation(api):
    status, out = api.dispatch("/api/similarity", {"a": "0", "b": "1"})
    assert status == 200
    assert {"euclidean", "pearson", "cosine", "dtw", "n_points"} <= set(out)
    status, out = api.dispatch("/api/similarity", {"a": "0", "b": "999999"})
    assert status == 400 and "error" in out
    status, out = api.dispatch("/api/similarity", {"a": "0"})
    assert status == 400


def test_heatmap_route(api):
    status, out = api.dispatch("/api/heatmap", {})
    assert status == 200
    assert all(p["sym_a"] < p["sym_b"] for p in out["pairs"])


def test_candlestick_route_thinned(api):
    status, out = api.dispatch("/api/candlestick/0", {})
    assert status == 200
    assert out["bars"] and all("close" in b for b in out["bars"])


def test_patterns_route(api):
    status, out = api.dispatch("/api/patterns/0", {})
    assert status == 200
    assert "total_ups" in out["streaks"] and "total_gaps" in out["gaps"]


def _storage_rdd_ids(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_routes_start_at_most_two_jobs_and_persist_nothing(spark):
    """Floor guard: on the warm shared bars fixture each timed route is
    a one-pass plan — at most two Spark jobs (one shuffle map stage,
    one result stage) — and the API persists no DataFrame of its own:
    the only storage it may add is the `_bars` fixture's blocks."""
    before = _storage_rdd_ids(spark)
    api = JsonApi(spark, SF_DIR)
    assert api.bars is _bars(spark, SF_DIR)
    sym = api.symbols()["symbols"][0]
    routes = ("/api/symbols", f"/api/candlestick/{sym}", f"/api/patterns/{sym}")
    for path in routes:  # warm: the fixture's blocks are materialized
        api.dispatch(path, {})
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for i, path in enumerate(routes):
        group = f"test_serve_floor_{i}"
        sc.setJobGroup(group, path)
        try:
            status, _ = api.dispatch(path, {})
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert status == 200
        jobs = tracker.getJobIdsForGroup(group)
        assert 0 < len(jobs) <= 2, (path, len(jobs))
    fixture_rdd = api.bars._jdf.queryExecution().analyzed().rdd().id()
    assert _storage_rdd_ids(spark) - before <= {fixture_rdd}


@pytest.fixture(scope="module")
def short_series_dir(tmp_path_factory):
    """sf0.001 events plus two symbols whose series are shorter than the
    patterns window: one with three daily bars, one with a single bar."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    events = pq.read_table(f"{SF_DIR}/events.parquet")
    base = max(events["event_id"].to_pylist()) + 1
    day = datetime.datetime(2024, 3, 1, 12)
    extra = [
        # (user_id, day offset, value): three bars for 900001, one for 900002
        (900001, 0, 10.0), (900001, 0, 12.0), (900001, 1, 13.5),
        (900001, 2, 11.0), (900001, 2, 14.0), (900002, 0, 5.0),
    ]
    rows = {
        "event_id": [base + i for i in range(len(extra))],
        "ts": [day + datetime.timedelta(days=d, minutes=i) for i, (_, d, _) in enumerate(extra)],
        "user_id": [u for u, _, _ in extra],
        "event_type": ["view"] * len(extra),
        "value": [v for _, _, v in extra],
        "props": [None] * len(extra),
    }
    added = pa.table(rows).cast(events.schema)
    out = tmp_path_factory.mktemp("short_series")
    pq.write_table(pa.concat_tables([events, added]), out / "events.parquet")
    return str(out)


def _oracle_bars(events_path: str) -> dict[int, list[dict]]:
    """symbol → date-ordered bars, from DuckDB over the raw events."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
    rows = con.sql(
        f"""WITH {ORACLE_BARS_CTE}
        SELECT symbol, CAST(date AS VARCHAR) AS date, open, high, low, close,
               CAST(volume AS BIGINT) AS volume
        FROM bars ORDER BY symbol, date"""
    ).fetchall()
    out: dict[int, list[dict]] = {}
    cols = ("symbol", "date", "open", "high", "low", "close", "volume")
    for r in rows:
        out.setdefault(r[0], []).append(dict(zip(cols, r)))
    return out


def _oracle_patterns(symbol: int, bars: list[dict], w: int = 5) -> dict:
    """The reference's W5/W6 loops (algorithms/patterns.py): flag arrays
    over bars 1..n-1, every sliding window of w flags scanned directly."""
    if len(bars) < 2:
        return {"symbol": symbol, "streaks": {}, "gaps": {}}
    pairs = list(zip(bars, bars[1:]))
    ups = [int(b["close"] > a["close"]) for a, b in pairs]
    gaps = [int(b["open"] > a["high"]) for a, b in pairs]
    starts = range(len(ups) - w + 1)

    def longest_run(flags):
        best = run = 0
        for f in flags:
            run = run + 1 if f else 0
            best = max(best, run)
        return best

    gap_info = {
        "symbol": symbol,
        "total_gaps": sum(gaps),
        "gap_dates": [b["date"] for (_, b), g in zip(pairs, gaps) if g],
    }
    if starts:
        gap_info["max_gaps_in_window"] = max(sum(gaps[s:s + w]) for s in starts)
    return {
        "symbol": symbol,
        "streaks": {
            "symbol": symbol,
            "total_ups": sum(ups),
            "total_windows": len(starts),
            "max_streak": max((longest_run(ups[s:s + w]) for s in starts), default=0),
        },
        "gaps": gap_info,
    }


def test_candlestick_and_patterns_values_match_duckdb(spark, short_series_dir):
    """Every symbol's /api/candlestick and /api/patterns payload equals
    an independent formulation over DuckDB's bars (ORACLE_BARS_CTE),
    including series shorter than the patterns window."""
    oracle = _oracle_bars(f"{short_series_dir}/events.parquet")
    assert min(len(b) for b in oracle.values()) == 1
    assert any(1 < len(b) < 5 for b in oracle.values())
    api = JsonApi(spark, short_series_dir)
    status, out = api.dispatch("/api/symbols", {})
    assert status == 200 and out["symbols"] == sorted(oracle)
    for symbol, bars in oracle.items():
        status, got = api.dispatch(f"/api/patterns/{symbol}", {})
        assert status == 200
        assert got == _oracle_patterns(symbol, bars), symbol
        step = max(1, len(bars) // 200)
        status, got = api.dispatch(f"/api/candlestick/{symbol}", {})
        assert status == 200
        assert got == {"symbol": symbol, "bars": bars[::step]}, symbol


def test_risk_route(api):
    status, out = api.dispatch("/api/risk", {})
    assert status == 200
    ranks = [a["rank"] for a in out["assets"]]
    assert ranks == sorted(ranks)
    assert all(a["risk_class"] in ("Conservador", "Moderado", "Agresivo")
               for a in out["assets"])


def test_unknown_route_404(api):
    status, out = api.dispatch("/api/nope", {})
    assert status == 404


def test_payloads_json_serializable(api):
    for path in ("/api/symbols", "/api/heatmap", "/api/risk"):
        _, out = api.dispatch(path, {})
        json.dumps(out)  # must not raise


def _parse_pdf(body: bytes) -> tuple[int, str]:
    """Tiny structural PDF parser: validates header/EOF, walks the xref
    table checking every object really starts at its declared offset,
    reads /Count from the page tree, and concatenates the text drawn
    by `(...) Tj` operators across all content streams. Returns
    (page_count, drawn_text)."""
    import re

    assert body.startswith(b"%PDF-1.4"), body[:16]
    assert body.rstrip().endswith(b"%%EOF")
    m = re.search(rb"startxref\s+(\d+)\s+%%EOF\s*$", body)
    assert m, "missing startxref"
    xref_pos = int(m.group(1))
    assert body[xref_pos : xref_pos + 4] == b"xref"
    lines = body[xref_pos:].split(b"\n")
    first, n_entries = map(int, lines[1].split())
    for i, line in enumerate(lines[2 : 2 + n_entries]):
        off, _gen, kind = line.split()
        if kind == b"n":
            obj_id = first + i
            at = int(off)
            assert body[at:].startswith(f"{obj_id} 0 obj".encode()), (
                f"object {obj_id} not at declared offset {at}"
            )
    count = re.search(rb"/Type /Pages [^>]*?/Count (\d+)", body)
    assert count, "no page tree"
    raw = b" ".join(re.findall(rb"\(((?:[^()\\]|\\.)*)\) Tj", body))
    text = re.sub(r"\\([()\\])", r"\1", raw.decode("latin-1"))
    return int(count.group(1)), text


def test_pdf_route_renders_valid_pdf(api):
    """S7: /export/pdf returns a structurally valid %PDF-1.4 body whose
    content streams draw the risk + patterns tables."""
    status, out = api.dispatch("/export/pdf", {})
    assert status == 200
    assert out["content_type"] == "application/pdf"
    n_pages, text = _parse_pdf(out["body"])
    assert n_pages >= 1
    for section in (
        "Risk class distribution", "Assets by volatility rank", "Pattern scan",
    ):
        assert section in text, f"missing section {section!r}"
    risk = api.risk()["assets"]
    assert str(risk[0]["symbol"]) in text
    assert any(c in text for c in ("Conservador", "Moderado", "Agresivo"))


def test_pdf_writer_paginates_and_escapes():
    """Many rows must spill onto further pages; parens/backslashes in
    cell text must survive literal-string escaping."""
    from algoritmos_etl_spark.pdf_report import PdfDoc

    doc = PdfDoc()
    doc.table(
        "Big (test) table \\ with escapes",
        ["id", "value"],
        [(i, f"row({i})") for i in range(200)],
    )
    n_pages, text = _parse_pdf(doc.render())
    assert n_pages >= 3  # ~48 rows/page at 14 pt leading
    assert "Big (test) table \\ with escapes" in text
    assert "row(199)" in text


def test_report_route_renders_html(api):
    """S7 stand-in: /export/report renders the risk + patterns result
    DataFrames into one standalone HTML document."""
    status, out = api.dispatch("/export/report", {})
    assert status == 200
    assert out["content_type"] == "text/html"
    body = out["body"]
    assert body.startswith("<!DOCTYPE html>")
    for section in (
        "Risk class distribution", "Assets by volatility rank", "Pattern scan",
    ):
        assert section in body
    # one data row per asset in the rank table, classes from the X4 pipeline
    risk = api.risk()["assets"]
    assert f"<td>{risk[0]['symbol']}</td>" in body
    assert any(c in body for c in ("Conservador", "Moderado", "Agresivo"))
