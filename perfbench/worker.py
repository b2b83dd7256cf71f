"""One benchmark session in a fresh process: set up, run a cold pass, a
warm-up, then timed warm passes in a closed loop with one client until the
time is up.

Started by run.py as ``python -m perfbench.worker`` from the checkout root,
with the checkout on PYTHONPATH (so Spark's Python workers import the
package too) and TMPDIR / the Spark local dir inside the run directory.
Writes its raw samples as JSON to --out; run.py turns them into metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

from . import inputs, oracles, trace

# traced runs need this many untraced and as many traced warm passes
MIN_TRACED_PAIRS = 2
PREPARE_REPEATS = 3


class Op:
    """One operation: build() returns a DataFrame, check(rows) says whether
    its collected result is right, matches(rows) gives the spatial join's
    match count."""

    def __init__(self, name, build, check, matches):
        self.name, self.build, self.check, self.matches = name, build, check, matches


def _regions(spark, n=oracles.N_REGIONS):
    from s2geography_spark.sources.regions import regions_df
    return regions_df(spark, n, covering_level=8)


class PagesJoin:
    """pages -> extract_mentions -> broadcast spatial_join (prepared dim)
    -> per-region counts."""

    # untimed passes after the cold one: the JIT and the worker caches keep
    # shortening the first passes (measured on a 4-core host: cold 15 s,
    # then 3.8, 3.3, 3.0, 2.8, then 2.2-2.6 s)
    warmup_passes = 3
    # timed warm passes an untraced run makes at least, so that warm_s and
    # op_p50_s are medians of several samples even when a pass is slow
    min_warm_passes = 5

    def __init__(self, spark, d, expected, tracer):
        from s2geography_spark.operators.spatial_join import prepare_regions
        from s2geography_spark.sources.pages import gazetteer_df
        self.spark, self.d, self.expected = spark, d, expected
        self.gaz = gazetteer_df(spark)
        with tracer.span("spatial_join.prepare_regions", 0):
            self.prep = prepare_regions(spark, _regions(spark))
        self.rows_in_per_pass = expected["rows_in"]

    def ops(self):
        from pyspark.sql import functions as F
        from s2geography_spark.operators.spatial_join import spatial_join
        from s2geography_spark.sources.pages import extract_mentions

        def build():
            pages = self.spark.read.parquet(os.path.join(self.d, "pages"))
            mentions = extract_mentions(pages, self.gaz)
            return (spatial_join(mentions, self.prep, predicate="contains", level=8)
                    .groupBy("region_id").agg(F.count("*").alias("n")))

        want = self.expected["region_counts"]
        return [Op("pages_join", build,
                   lambda rows: oracles.counts_from_rows(rows) == want,
                   lambda rows: sum(r["n"] for r in rows))]

    def prepare_once(self):
        from s2geography_spark.operators.spatial_join import prepare_regions
        prepare_regions(self.spark, _regions(self.spark))


class DenseJoin:
    """Dense points -> spatial_join(broadcast=False) and spatial_count on an
    unprepared dim; both must equal the oracle (so each other)."""

    # a pass is 2.5x as long as a pages_join one and mostly per-op dim prep;
    # only its first warm pass is still slow (measured: 8.6, then 6.8-7.4 s)
    warmup_passes = 1
    # 3 passes of 2 ops each: op_p50_s is a median of 6 samples
    min_warm_passes = 3

    def __init__(self, spark, d, expected, tracer):
        self.spark, self.d, self.expected = spark, d, expected
        # the dim source (its covering rows are memoised per process); the
        # per-cell subdivided state is still built inside every operation
        _regions(spark, oracles.DENSE_REGIONS)
        self.rows_in_per_pass = 2 * expected["rows_in"]

    def ops(self):
        from pyspark.sql import functions as F
        from s2geography_spark.operators.spatial_join import (spatial_count,
                                                              spatial_join)

        def points():
            return self.spark.read.parquet(os.path.join(self.d, "points"))

        def join():
            return (spatial_join(points(), _regions(self.spark, oracles.DENSE_REGIONS),
                                 broadcast=False, level=8)
                    .groupBy("region_id").agg(F.count("*").alias("n")))

        def count():
            return spatial_count(points(), _regions(self.spark, oracles.DENSE_REGIONS),
                                 level=8,
                                 count_col="n")

        want = self.expected["region_counts"]
        check = lambda rows: oracles.counts_from_rows(rows) == want  # noqa: E731
        total = lambda rows: sum(r["n"] for r in rows)  # noqa: E731
        return [Op("dense_join.join", join, check, total),
                Op("dense_join.count", count, check, total)]

    def prepare_once(self):
        from s2geography_spark.operators.spatial_join import (
            prepare_regions_subdivided)
        prepare_regions_subdivided(self.spark,
                                   _regions(self.spark, oracles.DENSE_REGIONS))


WORKLOADS = {"pages_join": PagesJoin, "dense_join": DenseJoin}


def run_op(spark, op, op_id, traced, tracer) -> dict:
    """Build, plan (traced only) and collect one operation; a raised
    exception or a wrong answer is a failed operation, never a crash."""
    sc = spark.sparkContext
    rec = {"name": op.name, "ok": False, "matches": None}
    group = f"op{op_id}"
    t0 = time.time()
    try:
        with tracer.span(op.name, op_id):
            if traced:
                sc.setJobGroup(f"{group}-build", op.name)
            with tracer.span("driver.build", op_id):
                df = op.build()
            t1 = time.time()
            if traced:
                sc.setJobGroup(f"{group}-exec", op.name)
                with tracer.span("driver.plan", op_id):
                    df._jdf.queryExecution().executedPlan()
            t2 = time.time()
            # collect materialises every output column (a count() would let
            # Catalyst prune the UDF-computed ones)
            with tracer.span("spark.exec", op_id):
                rows = df.collect()
            t3 = time.time()
        rec["ok"] = bool(op.check(rows))
        rec["matches"] = op.matches(rows)
        if not rec["ok"]:
            print(f"perfbench: {op.name}: result differs from the oracle",
                  file=sys.stderr)
        rec.update(build_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2)
        if traced:
            b = trace.job_group_stats(sc, f"{group}-build")
            e = trace.job_group_stats(sc, f"{group}-exec")
            rec["build_jobs"] = b["jobs"]
            rec["jobs"] = b["jobs"] + e["jobs"]
            rec["stages"] = b["stages"] + e["stages"]
            rec["tasks"] = b["tasks"] + e["tasks"]
            rec["plan"] = trace.plan_counters(trace.plan_nodes(df))
    except Exception:  # noqa: BLE001 - a failing op is counted, the run goes on
        traceback.print_exc(file=sys.stderr)
        rec["ok"] = False
    finally:
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
    rec["wall_s"] = time.time() - t0
    return rec


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True,
                    help="time.time() when the parent started this process")
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", help="where a traced run writes its spans")
    args = ap.parse_args(argv)

    from s2geography_spark.session import get_spark
    tracer = trace.Tracer(bool(args.trace))
    expected = inputs.load_expected(args.inputs)
    cpus = len(os.sched_getaffinity(0))
    t = time.time()
    with tracer.span("session.get_spark", 0):
        spark = get_spark(f"perfbench-{args.workload}", cpus=cpus)
    session_start_s = time.time() - t
    wl = WORKLOADS[args.workload](spark, args.inputs, expected, tracer)
    setup_s = time.time() - args.t0
    result = {"setup_s": setup_s, "session_start_s": session_start_s,
              "passes": []}
    try:
        ops = wl.ops()
        op_ids = iter(range(1, 1 << 30))

        def run_pass(kind, traced=False):
            t = time.time()
            recs = [run_op(spark, op, next(op_ids), traced, tracer)
                    for op in ops]
            p = {"kind": kind, "traced": traced, "wall_s": time.time() - t,
                 "rows_in": wl.rows_in_per_pass, "ops": recs}
            if traced:
                p["persisted_bytes"] = trace.persisted_bytes(spark.sparkContext)
            result["passes"].append(p)

        run_pass("cold")
        # warm-up passes are run and checked, but not timed as warm passes
        for _ in range(wl.warmup_passes):
            run_pass("warmup")
        # traced runs alternate untraced and traced passes, so their
        # ratio is the tracing overhead
        start = time.time()
        n_warm = 0
        while (n_warm < (2 * MIN_TRACED_PAIRS if args.trace else wl.min_warm_passes)
               or time.time() - start < args.seconds):
            run_pass("warm", traced=bool(args.trace) and n_warm % 2 == 1)
            n_warm += 1
        if args.trace:
            times = []
            for _ in range(PREPARE_REPEATS):
                t = time.time()
                with tracer.span("spatial_join.prepare", 0):
                    wl.prepare_once()
                times.append(time.time() - t)
            result["prepare_repeat_s"] = times
            tracer.write(args.spans)
    finally:
        spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
