"""Spark-free tests of the benchmark's own parts: oracles, input cache,
summary statistics, metric derivation and the BENCHMARK.json name check.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import statistics

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import inputs, oracles, run, stats, trace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- oracles -----------------------------------------------------------------

def test_region_corners_hand_computed():
    # r=0: c=0 -> (-150, -65, -147, -63); r=1: c=7 -> lng0 = 259-150,
    # lat0 = 161%130-65, lng1 = lng0+3+1, lat1 = lat0+2+1
    got = oracles.region_corners(np.array([0, 1]))
    assert [list(map(int, a)) for a in got] == [[-150, 109], [-65, -34],
                                                [-147, 113], [-63, -31]]


def test_gazetteer_hand_computed():
    lng, lat = oracles.gazetteer_lnglat(np.array([0, 1, 22]))
    assert lng.tolist() == [-179.75, -161.25, -132.75]
    assert lat.tolist() == [-79.75, -68.25, 13.25]


def test_oracle_formulas_match_the_program_sources():
    from s2geography_spark.sources.pages import gazetteer_lnglat
    from s2geography_spark.sources.regions import region_corners
    r = np.arange(oracles.N_REGIONS)
    for a, b in zip(oracles.region_corners(r), region_corners(r)):
        assert np.array_equal(a, b)
    k = np.arange(oracles.GAZETTEER_SIZE)
    for a, b in zip(oracles.gazetteer_lnglat(k), gazetteer_lnglat(k)):
        assert np.array_equal(a, b)


def test_points_region_counts_hand_computed():
    # inside region 0, inside region 1, in no region, region 0's east edge
    # is lng -147: -146.875 lies outside it
    lng = np.array([-148.875, 111.125, 0.125, -146.875])
    lat = np.array([-64.875, -32.875, 0.125, -64.875])
    assert oracles.points_region_counts(lng, lat, chunk=3) == {0: 1, 1: 1}


def test_pages_region_counts_hand_computed():
    # city 22 = (-132.75, 13.25) lies in region 86 = [-136, -131] x [11, 14]
    counts = np.zeros(oracles.GAZETTEER_SIZE, dtype=np.int64)
    counts[22] = 5
    counts[0] = 7  # (-179.75, -79.75): south of every region
    assert oracles.pages_region_counts(counts) == {86: 5}


def test_counts_from_rows():
    rows = [{"region_id": 3, "n": 4}, {"region_id": 10, "n": 1}]
    assert oracles.counts_from_rows(rows) == {"3": 4, "10": 1}


# -- inputs --------------------------------------------------------------------

def test_pages_input_matches_its_oracle(tmp_path):
    d = inputs.ensure_inputs(str(tmp_path), "pages_join", 3, 300)
    exp = inputs.load_expected(d)
    t = pq.read_table(os.path.join(d, "pages"))
    assert t.num_rows == 300 == exp["rows_in"]
    assert t.column_names == ["url", "warc_ts", "html", "text", "lang"]
    ks = [int(k) for s in t["text"].to_pylist()
          for k in re.findall(r"City(\d+)", s)]
    assert len(ks) == exp["mentions"] == sum(exp["city_counts"])
    # brute force, one mention at a time
    lng0, lat0, lng1, lat1 = oracles.region_corners(np.arange(oracles.N_REGIONS))
    want = {}
    for k in ks:
        x, y = oracles.gazetteer_lnglat(k)
        for r in range(oracles.N_REGIONS):
            if lng0[r] < x < lng1[r] and lat0[r] < y < lat1[r]:
                want[str(r)] = want.get(str(r), 0) + 1
    assert exp["region_counts"] == want
    html = t["html"].to_pylist()
    assert html[0] == f"<html><body><p>{t['text'][0]}</p></body></html>".encode()


def test_dense_points_on_the_offset_grid():
    lng, lat = inputs.dense_points(5, 2000)
    for v in (lng, lat):
        frac = (v - 0.125) / 0.25
        assert np.array_equal(frac, np.round(frac))
    # every point is within 1 degree of some region's bbox
    lng0, lat0, lng1, lat1 = oracles.region_corners(np.arange(oracles.N_REGIONS))
    near = ((lng[:, None] > lng0 - 1) & (lng[:, None] < lng1 + 1)
            & (lat[:, None] > lat0 - 1) & (lat[:, None] < lat1 + 1))
    assert near.any(axis=1).all()


def test_pages_match_share_does_not_depend_on_the_seed():
    # the Zipf ranking is the same for every seed, so the share of mentions
    # that match (and with it the refine work of a pass) is too
    shares = []
    for seed in range(1, 11):
        ks = inputs.zipf_city_ids(inputs._rng("pages_join", seed), 100_000)
        counts = oracles.pages_region_counts(
            np.bincount(ks, minlength=oracles.GAZETTEER_SIZE))
        shares.append(sum(counts.values()) / len(ks))
    assert max(shares) < 1.1 * min(shares)


def test_inputs_are_deterministic_per_seed(tmp_path):
    a = inputs.load_expected(inputs.ensure_inputs(str(tmp_path / "a"), "dense_join", 7, 500))
    b = inputs.load_expected(inputs.ensure_inputs(str(tmp_path / "b"), "dense_join", 7, 500))
    c = inputs.load_expected(inputs.ensure_inputs(str(tmp_path / "c"), "dense_join", 8, 500))
    assert a == b
    assert a != c


def test_cache_reuses_a_valid_set(tmp_path):
    d = inputs.ensure_inputs(str(tmp_path), "dense_join", 1, 400)
    marker = os.path.getmtime(os.path.join(d, "expected.json"))
    assert inputs.ensure_inputs(str(tmp_path), "dense_join", 1, 400) == d
    assert os.path.getmtime(os.path.join(d, "expected.json")) == marker


def test_cache_rejects_a_corrupt_or_partial_set(tmp_path):
    key = inputs.cache_key("dense_join", 1, 400)
    d = inputs.ensure_inputs(str(tmp_path), "dense_join", 1, 400)
    part = os.path.join(d, "points", "part-000.parquet")
    good = open(part, "rb").read()
    with open(part, "r+b") as f:  # same size, different bytes
        f.seek(len(good) // 2)
        f.write(b"\0\0\0\0")
    assert not inputs.is_valid(d, key)
    os.remove(os.path.join(d, "points", "part-001.parquet"))  # partial set
    assert not inputs.is_valid(d, key)
    d2 = inputs.ensure_inputs(str(tmp_path), "dense_join", 1, 400)
    assert inputs.is_valid(d2, key)
    assert open(part, "rb").read() == good
    # a manifest for another key (a stale version or size) is not reused
    assert not inputs.is_valid(d2, inputs.cache_key("dense_join", 1, 401))
    # an extra file the manifest does not list makes the set invalid
    open(os.path.join(d2, "stray"), "w").close()
    assert not inputs.is_valid(d2, key)


def test_cache_without_manifest_is_regenerated(tmp_path):
    key = inputs.cache_key("dense_join", 2, 300)
    d = tmp_path / key
    (d / "points").mkdir(parents=True)  # a killed writer's leftovers
    (d / "expected.json").write_text("{}")
    assert not inputs.is_valid(str(d), key)
    out = inputs.ensure_inputs(str(tmp_path), "dense_join", 2, 300)
    assert inputs.load_expected(out)["rows_in"] == 300


# -- statistics ----------------------------------------------------------------

def test_quartiles_match_statistics_quantiles():
    v = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0]
    assert stats.quartiles(v) == tuple(statistics.quantiles(v, n=4))
    assert stats.median(v) == 3.5


def test_iqr_share_hand_computed():
    # quantiles([1, 2, 3, 4], n=4) -> 1.25, 2.5, 3.75
    assert stats.iqr_share([1, 2, 3, 4]) == pytest.approx(2.5 / 2.5)
    assert stats.iqr_share([2, 2, 2]) == 0.0


def test_worse_by():
    assert stats.worse_by([10, 10], [12, 12], "lower") == pytest.approx(0.2)
    assert stats.worse_by([10, 10], [8, 8], "lower") == pytest.approx(-0.2)
    assert stats.worse_by([10, 10], [8, 8], "higher") == pytest.approx(0.2)


# -- metrics and names ---------------------------------------------------------

def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _op(name="op", ok=True, wall=1.0, **extra):
    return {"name": name, "ok": ok, "wall_s": wall, "matches": None, **extra}


def _result():
    plan = {"plan_nodes": 10, "candidates": 100, "refined": 40,
            "udf_rows_in": 40, "udf_python_ms": 2000, "udf_boot_ms": 0}
    traced = dict(build_s=0.1, plan_s=0.2, exec_s=0.3, build_jobs=1, jobs=3,
                  stages=4, tasks=12, plan=plan)
    return {"setup_s": 5.0, "session_start_s": 3.0,
            "prepare_repeat_s": [1.0, 2.0, 3.0],
            "passes": [
                {"kind": "cold", "traced": False, "wall_s": 9.0, "rows_in": 10,
                 "ops": [_op(wall=9.0)]},
                {"kind": "warm", "traced": False, "wall_s": 2.0, "rows_in": 10,
                 "ops": [_op(wall=2.0)]},
                {"kind": "warm", "traced": True, "wall_s": 3.0, "rows_in": 10,
                 "persisted_bytes": 7,
                 "ops": [dict(_op(wall=3.0), matches=30, **traced)]},
                {"kind": "warm", "traced": False, "wall_s": 4.0, "rows_in": 10,
                 "ops": [_op(ok=False, wall=4.0)]},
            ]}


def test_end_to_end_metrics_from_samples():
    m, attempted, failed = run.end_to_end(_result())
    assert (attempted, failed) == (4, 1)
    assert m["setup_s"] == 5.0
    assert m["cold_s"] == 9.0
    assert m["warm_s"] == 3.0  # untraced warm passes only: 2 and 4
    assert m["op_p50_s"] == 3.0
    assert m["rows_per_s"] == pytest.approx((10 / 2.0 + 10 / 4.0) / 2)
    assert m["ok_frac"] == 0.75


def test_per_layer_metrics_and_names_match_benchmark_json():
    micro = {"core.pip_ns": 1000.0, "core.knn_dist_ns": 1.0,
             "core.overlay_ms": 1.0, "core.wkb_decode_us": 1.0}
    v = run.per_layer(_result(), micro, 0)
    assert v["spatial_join.refine_per_candidate"] == pytest.approx(0.4)
    assert v["spatial_join.match_per_candidate"] == pytest.approx(0.3)
    assert v["udf.kernel_share"] == pytest.approx(1000e-9 * 40 / 2.0)
    assert v["spatial_join.prepare_s"] == 2.0
    assert v["trace.overhead"] == pytest.approx(3.0 / 3.0)
    bench = _bench()
    units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    run.check_names(bench, {k: {"value": x, "unit": units[k]}
                            for k, x in v.items()}, trace=True)
    e2e, _, _ = run.end_to_end(_result())
    e2e["peak_rss_mb"] = 1.0
    units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    run.check_names(bench, {k: {"value": x, "unit": units[k]}
                            for k, x in e2e.items()}, trace=False)


def test_check_names_rejects_missing_extra_or_wrong_unit():
    bench = _bench()
    good = {m["name"]: {"value": 1.0, "unit": m["unit"]}
            for m in bench["end_to_end"]}
    run.check_names(bench, good, trace=False)
    for bad in ({k: v for k, v in list(good.items())[1:]},
                {**good, "extra": {"value": 1.0, "unit": "s"}},
                {**good, "setup_s": {"value": 1.0, "unit": "ms"}}):
        with pytest.raises(ValueError):
            run.check_names(bench, bad, trace=False)


def test_benchmark_json_shape():
    bench = _bench()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"]) <= 0.25
    assert set(w["name"] for w in bench["workloads"]) == set(run.SIZES)


# a process that starts a grandchild in a process group of its own, as
# Spark's Python daemon does, then waits
_LAUNCHER = """
import subprocess, sys, time
subprocess.Popen([sys.executable, "-c", "import os, time; os.setpgid(0, 0); "
                  "b = b'x' * (64 << 20); time.sleep(60)"])
time.sleep(60)
"""

# run in a fresh interpreter, because it makes itself a subreaper
_TREE_CHECK = """
import json, os, signal, subprocess, sys, time
from perfbench import run
run._enable_subreaper()
me = os.getpid()
mid = subprocess.Popen([sys.executable, "-c", sys.argv[1]])
end = time.time() + 20
while run._tree_rss_mb(me) < 64 and time.time() < end:
    time.sleep(0.1)
out = {"rss_before": run._tree_rss_mb(me)}
(leaf,) = [p for p in run._descendants(me) if p != mid.pid]
out["own_group"] = os.getpgid(leaf) != os.getpgid(mid.pid)
mid.kill()  # orphans the grandchild: it is reparented to this process
mid.wait()
time.sleep(0.2)
out["orphan_counted"] = run._descendants(me) == [leaf]
out["rss_after"] = run._tree_rss_mb(me)
t = time.time()
run._stop_descendants(me)
out["stop_s"] = time.time() - t
out["left"] = run._descendants(me)
print(json.dumps(out))
"""


def test_process_tree_counts_and_stops_a_child_in_its_own_group():
    import subprocess
    import sys
    proc = subprocess.run([sys.executable, "-c", _TREE_CHECK, _LAUNCHER],
                          cwd=ROOT, capture_output=True, text=True, timeout=60)
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["own_group"]
    assert out["rss_before"] >= 64
    assert out["orphan_counted"]
    assert out["rss_after"] >= 64
    assert out["left"] == []
    assert out["stop_s"] < 5


# -- plan counters -------------------------------------------------------------

def test_plan_counters_on_a_flattened_plan():
    nodes = [
        {"name": "HashAggregate", "desc": "", "metrics": {"spillSize": 5},
         "children": [1]},
        {"name": "Exchange", "desc": "", "metrics": {"shuffleBytesWritten": 100},
         "children": [2]},
        {"name": "ArrowEvalPython", "desc": "ArrowEvalPython [udf(...)]",
         "metrics": {"pythonTotalTime": 30, "pythonBootTime": 4,
                     "pythonDataSent": 800, "pythonDataReceived": 80},
         "children": [3]},
        {"name": "WholeStageCodegen (1)", "desc": "", "metrics": {},
         "children": [4]},
        {"name": "BroadcastHashJoin", "desc": "BroadcastHashJoin [_ck#1L], [_ck#2L]",
         "metrics": {"numOutputRows": 60}, "children": [5, 6]},
        {"name": "BroadcastHashJoin", "desc": "BroadcastHashJoin [city_k#3]",
         "metrics": {"numOutputRows": 500}, "children": []},
        {"name": "BroadcastExchange", "desc": "", "metrics": {"dataSize": 64},
         "children": []},
    ]
    c = trace.plan_counters(nodes)
    assert c["plan_nodes"] == 7
    assert (c["shuffles"], c["shuffle_bytes"]) == (1, 100)
    assert (c["broadcasts"], c["broadcast_bytes"]) == (1, 64)
    assert c["spill_bytes"] == 5
    assert (c["udf_nodes"], c["udf_rows_in"], c["udf_python_ms"]) == (1, 60, 30)
    assert (c["candidates"], c["refined"], c["mention_rows"]) == (60, 60, 500)


def test_tracer_records_parent_and_is_free_when_off():
    t = trace.Tracer(True)
    with t.span("outer", 1):
        with t.span("inner", 1):
            pass
    assert [(s["name"], s["parent"]) for s in t.spans] == [("outer", None),
                                                           ("inner", "outer")]
    assert all(s["end"] >= s["start"] for s in t.spans)
    off = trace.Tracer(False)
    with off.span("x", 1):
        pass
    assert off.spans == []
