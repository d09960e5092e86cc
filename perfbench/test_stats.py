"""Self-test of the benchmark's own arithmetic and metric definitions.

Runs without Spark in about a second:

    python3 perfbench/test_stats.py        # or: python3 -m pytest perfbench
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procprobe  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402


def load_spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_tail_percentile_needs_ten_beyond():
    assert stats.tail_percentile(list(range(10))) is None
    assert stats.tail_percentile([]) is None
    # 11 samples: only the smallest has ten above it
    assert stats.tail_percentile(list(range(11))) == (100 * 1 / 11, 0)
    xs = list(range(40, 0, -1))  # order must not matter
    assert stats.tail_percentile(xs) == (75.0, 30)
    assert stats.tail_percentile(list(range(100))) == (90.0, 89)
    pct, value = stats.tail_percentile(list(range(1000)))
    assert pct == 99.0 and value == 989
    # exactly ten samples lie above the reported value
    assert sum(1 for x in range(1000) if x > value) == 10


def test_ratio_rejects_empty_base():
    assert stats.ratio(1, 4) == 0.25
    for bad in (0, 0.0, -3):
        try:
            stats.ratio(1, bad)
        except ValueError:
            pass
        else:
            raise AssertionError(f"ratio with base {bad} must raise")


def test_quartile_spread_matches_statistics():
    xs = [10.0, 11.0, 9.5, 10.4, 12.0, 10.1, 9.9, 10.7, 11.3, 10.2]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == (q3 - q1) / q2
    assert stats.quartile_spread([5.0] * 10) == 0.0


def test_median():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 3, 2]) == 2.5


def test_name_validity():
    for ok in ("files_per_s", "verify.yield", "a", "9x", "x-y.z_1", "a" * 64):
        assert stats.valid_name(ok), ok
    for bad in ("", "_x", ".x", "a b", "a/b", "a" * 65, "é", "x\n"):
        assert not stats.valid_name(bad), bad
    for ok in ("s", "ms", "1/s", "B/B", "%", "MiB", "count"):
        assert stats.valid_unit(ok), ok
    for bad in ("", "a b", "x" * 17):
        assert not stats.valid_unit(bad), bad


def test_benchmark_json_is_well_formed():
    spec = load_spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names)), "a name is used twice"
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and stats.valid_name(w["name"])
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert stats.valid_name(m["name"]) and stats.valid_unit(m["unit"])
        assert m["better"] in ("higher", "lower")
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    per_layer = {m["name"] for m in spec["per_layer"]}
    for layer in tracing.LAYERS:
        assert f"{layer}.self_s" in per_layer, layer
    assert 2 <= len(spec["workloads"]) <= 8 and 1 <= spec["run_seconds"] <= 60
    assert len(json.dumps(spec)) <= 64 * 1024


def test_parse_size():
    total = ("total (min, med, max (stageId: taskId))\n"
             "1295.2 KiB (299.0 KiB, 333.7 KiB, 338.5 KiB (stage 14.0: task 25))")
    assert tracing.parse_size(total) == 1295.2 * 1024
    assert tracing.parse_size("12.0 B") == 12.0
    assert tracing.parse_size("1,024.5 MiB") == 1024.5 * 1024**2


def test_self_time_subtracts_children_once():
    S = tracing.Span
    spans = [
        S(0, "t", "run", "plans.pipeline", None, 0.0, 10.0),
        S(1, "t", "write", "sources.catalog", 0, 1.0, 4.0),
        S(2, "t", "write", "sources.catalog", 0, 3.0, 6.0),  # overlaps span 1
        S(3, "t", "verify_pairs", "operators.verify", 2, 3.5, 4.5),
        S(4, "t", "minhash_candidates", "operators.lsh", None, 2.0, 3.0),
    ]
    got = tracing.self_times(spans)
    assert got["plans.pipeline"] == 10.0 - 5.0  # children cover 1.0..6.0
    assert got["sources.catalog"] == 3.0 + (3.0 - 1.0)
    assert got["operators.verify"] == 1.0
    assert got["operators.lsh"] == 1.0  # no parent: a pool-thread root


def test_tracer_restores_patched_functions():
    import importlib

    try:
        pipeline = importlib.import_module("spaczz_spark.plans.pipeline")
    except ImportError:  # run outside a checkout: nothing to patch
        return
    before = pipeline.verify_pairs
    with tracing.Tracer():
        assert pipeline.verify_pairs is not before
    assert pipeline.verify_pairs is before


def test_union_find_components():
    import run

    root = run.components_of([(5, 3), (3, 9), (10, 11), (9, 5)])
    assert root(9) == root(5) == root(3) == 3
    assert root(11) == root(10) == 10
    assert root(7) == 7  # a file in no edge is its own component


def test_process_tree_counts_reaped_children():
    spin = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    before = procprobe.tree_cpu_s()
    subprocess.run([sys.executable, "-c", spin], check=True)
    # the child has exited and been reaped: its CPU is in our cutime
    assert procprobe.tree_cpu_s() - before >= 0.25
    rss = procprobe.tree_peak_rss_mb()
    assert rss["python"] > 0
    assert abs(rss["total"] - rss["python"] - rss["jvm"]) < 1e-6


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
        print(f"ok  {t.__name__}")
    print(f"{len(tests)} passed")
