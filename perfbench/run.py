"""Benchmark of the s2geography_spark engine, end to end and per layer.

    python3 perfbench/run.py --workload pages_join --seed 1 --seconds 6 --trace 0

Run from the root of a checkout.  Generates (or reuses, after validating)
the seeded inputs and their oracle answers, then starts the session in a
fresh process (perfbench/worker.py) on local[<cores>] with the checkout on
the Python workers' path and every temporary file inside the checkout.
With --trace 0 the last stdout line is a JSON object with the end-to-end
metrics; with --trace 1 it holds the per-layer metrics instead.  See
perfbench/README.md for the workloads and what each metric measures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, microbench  # noqa: E402
from perfbench.stats import median  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
# input size per workload: pages, points
SIZES = {"pages_join": 200_000, "dense_join": 250_000}
# a run must end within 180 s, and stopping a killed session takes seconds
RUN_DEADLINE_S = 165.0
DRIVER_MEM = "2g"


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------------------
# child processes
# ---------------------------------------------------------------------------

def _enable_subreaper():
    """Make this process the reaper of its orphaned descendants (Linux
    prctl PR_SET_CHILD_SUBREAPER).  A process whose parent exits then
    stays in this process's tree, so it is still measured and stopped."""
    import ctypes
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _descendants(root: int) -> list[int]:
    """Descendants of pid root that have not been reaped, found by
    following each process's parent pid in /proc/<pid>/stat.  Zombies are
    kept: a JVM whose main thread has exited shows as one while its other
    threads still run.  Process groups are not used: Spark's Python daemon
    (pyspark/daemon.py) moves itself and the UDF workers it forks into a
    group of their own."""
    children: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue  # the process ended while it was being read
        children.setdefault(ppid, []).append(int(pid))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _tree_rss_mb(root: int) -> float:
    """Summed resident memory of every descendant of pid root."""
    total_kb = 0
    for pid in _descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def _reap():
    """Collect the exit status of every child of this process that ended."""
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def _stop_descendants(root: int):
    """SIGTERM, then SIGKILL, every descendant of pid root (this process,
    a subreaper); returns once all have ended and been reaped."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in _descendants(root):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.time() + 10.0
        while time.time() < end:
            _reap()
            if not _descendants(root):
                return
            time.sleep(0.1)


def run_child(args: list, run_dir: str, deadline: float) -> tuple[dict, float]:
    """Run perfbench.worker in a fresh process; returns its result and the
    peak summed RSS of every process it started, in MB.  This process
    must be a subreaper (_enable_subreaper) with no other children.
    Raises RuntimeError on failure."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = local
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.local.dir={local} "
        f"--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
        # a fixed-size heap (initial = max) keeps the JVM's footprint from
        # depending on when G1 decides to grow it
        f"--driver-java-options '-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp}' "
        f"pyspark-shell")
    log_path = os.path.join(run_dir, "worker.log")
    t0 = time.time()
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", *args,
             "--t0", repr(t0), "--out", out],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT)
    # the worker, its JVM and Spark's Python daemon and UDF workers
    me = os.getpid()
    peak = [0.0]
    done = threading.Event()

    def sample():
        while not done.is_set():
            peak[0] = max(peak[0], _tree_rss_mb(me))
            done.wait(0.25)

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    timed_out = False
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        timed_out = True
    finally:
        done.set()
        sampler.join()
        _stop_descendants(me)
        proc.wait()
        _reap()
    if timed_out or proc.returncode != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        why = "did not finish in time" if timed_out else \
            f"exited with {proc.returncode}"
        raise RuntimeError(f"worker {why}:\n{tail}")
    with open(out) as f:
        return json.load(f), peak[0]


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def end_to_end(res: dict) -> tuple[dict, int, int]:
    passes = res["passes"]
    ops = [o for p in passes for o in p["ops"]]
    failed = sum(not o["ok"] for o in ops)
    warm = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    warm_ops = [o["wall_s"] for p in warm for o in p["ops"]]
    m = {
        "setup_s": res["setup_s"],
        "cold_s": passes[0]["wall_s"],
        "warm_s": median(p["wall_s"] for p in warm),
        "op_p50_s": median(warm_ops),
        "rows_per_s": median(p["rows_in"] / p["wall_s"] for p in warm),
        "ok_frac": 1.0 - failed / len(ops),
    }
    return m, len(ops), failed


def per_layer(res: dict, micro: dict, leaked: int) -> dict:
    passes = res["passes"]
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if p["kind"] == "warm" and not p["traced"]]

    def per_pass(fn):
        return median(sum(fn(o) for o in p["ops"]) for p in traced)

    def plan(key):
        return per_pass(lambda o: o.get("plan", {}).get(key, 0))

    udf_python_s = plan("udf_python_ms") / 1e3
    udf_rows = plan("udf_rows_in")
    cand = plan("candidates")
    matches = per_pass(lambda o: o["matches"] or 0)
    refined = plan("refined")
    # ns the kernel needs per UDF row: one point-in-polygon test
    kernel_ns = micro["core.pip_ns"]
    prepare = res["prepare_repeat_s"]
    return {
        "session.start_s": res["session_start_s"],
        "spatial_join.prepare_s": median(prepare),
        "sources.mention_rows": plan("mention_rows"),
        "driver.build_s": per_pass(lambda o: o.get("build_s", 0.0)),
        "driver.build_jobs": per_pass(lambda o: o.get("build_jobs", 0)),
        "driver.plan_s": per_pass(lambda o: o.get("plan_s", 0.0)),
        "driver.plan_nodes": plan("plan_nodes"),
        "spark.exec_s": per_pass(lambda o: o.get("exec_s", 0.0)),
        "spark.jobs": per_pass(lambda o: o.get("jobs", 0)),
        "spark.stages": per_pass(lambda o: o.get("stages", 0)),
        "spark.tasks": per_pass(lambda o: o.get("tasks", 0)),
        "exchange.shuffles": plan("shuffles"),
        "exchange.broadcasts": plan("broadcasts"),
        "exchange.shuffle_bytes": plan("shuffle_bytes"),
        "exchange.broadcast_bytes": plan("broadcast_bytes"),
        "exchange.spill_bytes": plan("spill_bytes"),
        "udf.nodes": plan("udf_nodes"),
        "udf.rows_in": udf_rows,
        "udf.bytes_sent": plan("udf_bytes_sent"),
        "udf.bytes_received": plan("udf_bytes_received"),
        "udf.python_s": udf_python_s,
        "udf.boot_s": plan("udf_boot_ms") / 1e3,
        "spatial_join.candidates": cand,
        "spatial_join.refined": refined,
        "spatial_join.matches": matches,
        "spatial_join.match_per_candidate": matches / cand if cand else 0.0,
        "spatial_join.refine_per_candidate": refined / cand if cand else 0.0,
        **micro,
        "udf.kernel_share": (kernel_ns * 1e-9 * udf_rows / udf_python_s
                             if udf_python_s else 0.0),
        "cache.persisted_bytes": traced[-1]["persisted_bytes"],
        "cache.tmp_leaked": leaked,
        "trace.overhead": (median(p["wall_s"] for p in traced)
                           / median(p["wall_s"] for p in untraced)),
    }


def check_names(bench: dict, metrics: dict, trace: bool):
    """The metrics about to be printed are exactly the BENCHMARK.json ones
    for this mode, with the same units; raises ValueError otherwise."""
    spec = {m["name"]: m["unit"]
            for m in bench["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in metrics.items()}
    if got != spec:
        raise ValueError(f"printed metrics {sorted(got.items())} differ from "
                         f"BENCHMARK.json {sorted(spec.items())}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.time()
    # a SIGTERM unwinds through the finally blocks that stop the session
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _enable_subreaper()

    for rel in ("s2geography_spark/__init__.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            fail(f"{rel} not found under {ROOT}: run from a checkout of the repo")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    # inputs and oracle answers: outside every timer
    cache = os.path.join(WORK, "inputs")
    d = inputs.ensure_inputs(cache, args.workload, args.seed, SIZES[args.workload])
    expected = inputs.load_expected(d)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    deadline = started + RUN_DEADLINE_S
    inputs_s = time.time() - started
    common = ["--workload", args.workload, "--inputs", d,
              "--seconds", str(args.seconds), "--trace", str(args.trace)]
    try:
        spans = None
        if args.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            spans = os.path.join(WORK, "traces",
                                 f"{args.workload}-s{args.seed}-{time.time_ns()}.json")
        res, peak_mb = run_child(common + (["--spans", spans] if spans else []),
                                 run_dir, deadline)
        tmp = os.path.join(run_dir, "tmp")
        leaked = len(os.listdir(tmp)) if os.path.isdir(tmp) else 0
    except RuntimeError as e:
        fail(str(e), 1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"perfbench: inputs {inputs_s:.1f} s, session processes "
          f"{time.time() - started - inputs_s:.1f} s", file=sys.stderr)
    e2e, attempted, failed = end_to_end(res)
    e2e["peak_rss_mb"] = peak_mb
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    if args.trace:
        micro = microbench.run(args.workload, d, expected)
        values = per_layer(res, micro, leaked)
    else:
        values = e2e
    metrics = {k: {"value": float(v), "unit": units.get(k, "?")}
               for k, v in values.items()}
    try:
        check_names(bench, metrics, bool(args.trace))
    except ValueError as e:
        fail(str(e), 1)

    for k, v in metrics.items():
        print(f"{args.workload} {k} = {v['value']:.6g} {v['unit']}")
    warm = [p for p in res["passes"] if p["kind"] == "warm" and not p["traced"]]
    warmup = [p for p in res["passes"] if p["kind"] == "warmup"]
    print(f"{args.workload} pass wall times: cold {res['passes'][0]['wall_s']:.3f} s, "
          f"warm-up {[round(p['wall_s'], 3) for p in warmup]} s, "
          f"untraced warm {[round(p['wall_s'], 3) for p in warm]} s")
    print(f"{args.workload} samples: {len(warm)} warm passes, "
          f"{sum(len(p['ops']) for p in warm)} warm ops; "
          f"{attempted} ops attempted, {failed} failed")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
