"""Fast checks of the benchmark's own logic; no Spark, no JVM.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import measure  # noqa: E402
import schedule  # noqa: E402

SYMBOLS = list(range(150))
DATES = [f"2023-12-{d}" for d in range(17, 32)] + [f"2024-01-{d:02d}" for d in range(1, 16)]


def _plan(workload: str, seed: int, blocks: int = 3) -> list:
    nxt = schedule.block_maker(workload, seed, SYMBOLS)
    staging = [schedule.etl_refresh_op(seed, SYMBOLS, DATES)] if workload == "query_catalog" else []
    return [staging, *(nxt() for _ in range(blocks))]


@pytest.mark.parametrize("workload", ["api_mix", "query_catalog"])
def test_same_seed_same_schedule(workload):
    assert _plan(workload, 7) == _plan(workload, 7)


@pytest.mark.parametrize("workload", ["api_mix", "query_catalog"])
def test_different_seeds_differ(workload):
    plans = {repr(_plan(workload, s)) for s in range(6)}
    assert len(plans) == 6


def test_api_block_shape():
    for block in _plan("api_mix", 3)[1:]:
        assert [op.name for op in block] == list(schedule.API_ROUTES)
        assert all(op.path.startswith(f"/api/{op.name}") for op in block)


def test_catalog_pass_runs_the_catalog_after_the_etl_refresh():
    staging, *blocks = _plan("query_catalog", 0)
    assert [op.name for op in staging] == ["etl_refresh"]
    assert all([op.name for op in b] == list(schedule.CATALOG_QUERIES) for b in blocks)


def test_etl_readback_stays_inside_one_year():
    for seed in range(20):
        p = schedule.etl_refresh_op(seed, SYMBOLS, DATES).params
        assert p["date_lo"][:4] == p["date_hi"][:4]
        assert p["date_lo"] <= p["date_hi"]
        assert set(p["symbols"]) <= set(SYMBOLS)


def test_timed_block_count_depends_on_seconds_only():
    assert schedule.timed_blocks("api_mix", 15) == 3  # never fewer than three
    assert schedule.timed_blocks("query_catalog", 15) == 5
    assert schedule.timed_blocks("query_catalog", 60) == 20


def test_unknown_workload_rejected():
    with pytest.raises(ValueError):
        schedule.block_maker("nope", 1, SYMBOLS)


# ------------------------------------------------------------- tail rule


def test_tail_needs_twenty_samples():
    assert measure.tail_percentile([1.0] * 19) is None


@pytest.mark.parametrize("n", [20, 21, 37, 100, 1000])
def test_tail_leaves_at_least_ten_samples_beyond(n):
    values = [float(i) for i in range(n)]
    level, value = measure.tail_percentile(values)
    assert sum(v > value for v in values) >= 10
    # and it is the highest such rank: one rank higher leaves only nine
    assert sum(v > value + 1 for v in values) < 10
    assert level == pytest.approx(100.0 * (n - 10) / n, abs=0.01)


def test_tail_is_order_independent():
    values = [5.0, 1.0, 3.0] * 10
    assert measure.tail_percentile(values) == measure.tail_percentile(sorted(values))


# ------------------------------------------------------ span arithmetic


def test_union_length_merges_and_clips():
    assert measure.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert measure.union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert measure.union_length([], 0, 1) == 0


def test_self_time_subtracts_covered_children():
    spans = [
        measure.Span("op", 0.0, 10.0),
        measure.Span("build", 0.0, 4.0, parent=0),
        measure.Span("execute", 4.0, 10.0, parent=0),
        measure.Span("job", 1.0, 3.0, parent=1),
        measure.Span("job", 2.0, 3.5, parent=1),  # overlaps its sibling
        measure.Span("job", 9.0, 12.0, parent=2),  # runs past its parent
    ]
    assert measure.self_times(spans) == pytest.approx([0.0, 1.5, 5.0, 2.0, 1.5, 3.0])


# ------------------------------------------------------------ /proc parsers

STAT = (
    "4242 (python3 (a) b) S 4200 4242 4200 0 -1 4194304 1000 0 0 0 "
    "150 30 7 3 20 0 12 0 100 1000000 2000 18446744073709551615 1 1 0 0 0 0 0 0 0 0 0 0 17 2 0 0 0 0 0"
)
STATUS = "Name:\tpython3\nVmPeak:\t  500000 kB\nVmHWM:\t  123456 kB\nVmRSS:\t  100000 kB\n"


def test_parse_stat_handles_parentheses_in_name():
    assert measure.parse_stat(STAT) == ("python3 (a) b", 4200, 180, 10)


def test_parse_status_kb():
    assert measure.parse_status_kb(STATUS, "VmHWM") == 123456
    assert measure.parse_status_kb("Name:\tkthreadd\n", "VmHWM") == 0


def _fake_proc(root):
    def proc(pid, ppid, comm, ticks, pss_kb):
        d = root / str(pid)
        d.mkdir()
        fields = ["S", str(ppid)] + ["0"] * 9 + [str(ticks), "0", "0", "0"] + ["0"] * 10
        (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(fields))
        (d / "smaps_rollup").write_text(
            f"00400000-7fff00000000 ---p 00000000 00:00 0 [rollup]\n"
            f"Rss:\t{2 * pss_kb} kB\nPss:\t{pss_kb} kB\n"
        )

    proc(10, 1, "python3", 100, 1024)  # driver
    proc(11, 10, "java", 300, 2048)  # JVM
    proc(12, 11, "python3", 50, 512)  # Python worker daemon
    proc(13, 12, "python3", 25, 512)  # forked worker
    proc(99, 1, "other", 999, 9999)  # not ours
    (root / "self").mkdir()
    return proc


def test_sample_tree_on_a_fake_proc(tmp_path):
    _fake_proc(tmp_path)
    sample = measure.sample_tree(10, str(tmp_path))
    tck = measure.CLK_TCK
    assert sample.pids == 4
    assert sample.cpu_s == pytest.approx(475 / tck)
    assert sample.worker_cpu_s == pytest.approx(75 / tck)


def test_tree_memory_sums_proportional_sets(tmp_path):
    _fake_proc(tmp_path)
    assert measure.tree_pss_mb(10, str(tmp_path)) == pytest.approx(4.0)
    assert measure.tree_pss_mb(12, str(tmp_path)) == pytest.approx(1.0)


def test_peak_memory_keeps_the_largest_sample(tmp_path):
    proc = _fake_proc(tmp_path)
    with measure.PeakMemory(10, interval=0.01, proc=str(tmp_path)) as peak:
        proc(14, 12, "python3", 0, 3072)  # a worker that comes and goes
        seen = peak.samples + 2  # the second sample from now starts after it
        while peak.samples < seen:
            threading.Event().wait(0.01)
        shutil.rmtree(tmp_path / "14")
    assert peak.peak_mb == pytest.approx(7.0)
    assert measure.tree_pss_mb(10, str(tmp_path)) == pytest.approx(4.0)


# ------------------------------------------------------ BENCHMARK.json


def test_benchmark_json_lists_what_a_run_reports():
    """The metric tables a run prints and BENCHMARK.json must agree."""
    spec_path = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")
    with open(spec_path) as fh:
        spec = json.load(fh)
    # the per-layer and end-to-end tables live next to the Spark code,
    # which imports pyarrow; read them without importing pyspark
    pytest.importorskip("pyarrow")
    import workloads

    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(schedule.WORKLOADS)
