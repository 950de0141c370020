"""End-to-end and per-layer benchmark of the fintrack engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload report_refresh --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 1

One run is one process with one Spark session on ``local[<cpus>]``:

1. set-up, timed as ``setup_s``: write the seeded fixture tables into a
   private temp root inside the checkout, start the session, run one
   untimed warm pass over every distinct op, gating each op's output on
   its DuckDB oracle (the oracle's own time is left out), then the
   workload's untimed warm passes;
2. the measured window: whole passes over the workload's ops, in an
   order drawn from ``--seed``, one op at a time: the workload's fixed
   number of passes, then more only while ``--seconds`` have not yet
   passed (a floor that the fixed passes outlast at the fixture scale);
3. the final output checks, then the session is stopped, its JVM is
   waited for and the temp root is removed.

With ``--trace 0`` the last line of standard output is the result JSON
with the end-to-end metrics; with ``--trace 1`` it carries the
per-layer metrics, and the spans are written to
``.perfbench-out/trace-<workload>-seed<seed>.json``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from collections import defaultdict

T_START = time.perf_counter()

import numpy as np  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Fixture scale and seed: the tables are the same on every run, so each
#: op's oracle verdict is too; ``--seed`` orders the ops and generates
#: the lake_upsert change batches.
SF = 0.01
FIXTURE_SEED = 42
#: The seed held out while a change is written, to check that a claimed
#: gain holds on a seed it was not tuned on.
HELD_OUT_SEED = 7919
#: ``op_tail_s`` is the highest whole percentile of the run's op wall
#: times with at least this many of them beyond it (``op_p50_s`` is the
#: 50th), both as Harrell-Davis estimates.
TAIL_SAMPLES = 10

class Context:
    """State one run shares between the runner and its workload."""

    def __init__(self, spark, sf_dir: str, tmp: str, tracer):
        self.spark = spark
        self.sf_dir = sf_dir
        self.tmp = tmp
        #: kept between runs: answers that depend only on the fixture
        self.cache_dir = os.path.join(ROOT, ".perfbench-cache")
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.checked = 0
        self.mismatches = 0
        self.oracle_s = 0.0
        #: lake_upsert, traced: (stored bytes, stored / live bytes) after each op
        self.lake_stored: list[tuple[int, float]] = []

    def fail(self, what: str, why: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"FAIL {what}: {why}", file=sys.stderr)

    def check(self, what: str, problems: list[str]) -> None:
        self.checked += 1
        if problems:
            self.mismatches += 1
            self.fail(f"oracle {what}", "; ".join(problems))
        else:
            self.attempted += 1


def _cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def _commit() -> str:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, env=env, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip()


def _peak_rss_mb(spark) -> float:
    """The driver JVM's resident-set high-water mark (VmHWM)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _start_session(tmp: str):
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(tmp, d))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = _cpus()
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from fintrack_etl_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}/tmp",
        },
    )


def _stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def hd_quantile(x: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p``-quantile of ``x``.

    A Beta((n+1)p, (n+1)(1-p))-weighted mean of all order statistics.
    On a few dozen samples of a heterogeneous op mix it moves smoothly
    with every op's time, where interpolating between the two nearest
    order statistics jumps across gaps between op kinds.
    """
    xs = np.sort(np.asarray(x, dtype=float))
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    m = 20_000  # midpoint rule for the Beta CDF; exact to ~1e-4 here
    g = (np.arange(m) + 0.5) / m
    cdf = np.concatenate([[0.0], np.cumsum(np.exp((a - 1) * np.log(g) + (b - 1) * np.log1p(-g)))])
    cdf /= cdf[-1]
    w = np.diff(np.interp(np.arange(n + 1) / n, np.linspace(0.0, 1.0, m + 1), cdf))
    return float(w @ xs)


def tail_pct(n: int) -> int:
    """The highest whole percentile of ``n`` samples with at least
    TAIL_SAMPLES of them beyond it; with fewer than twice that many
    samples it would fall below the median."""
    if n < 2 * TAIL_SAMPLES:
        raise RuntimeError(f"{n} ops are too few for a tail of {TAIL_SAMPLES}")
    return 100 * (n - TAIL_SAMPLES) // n


def _e2e_metrics(walls: list[float], setup_s: float) -> dict:
    if not walls:
        raise RuntimeError("no op completed")
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(walls) / sum(walls), "1/s"),
        "op_p50_s": (hd_quantile(walls, 0.5), "s"),
        "op_tail_s": (hd_quantile(walls, tail_pct(len(walls)) / 100), "s"),
    }


def _run_pass(wl, ctx, rng, timed: bool) -> list[float]:
    """One pass over the workload's ops, one at a time; the wall time
    of each op that completed. A failed op is counted and skipped."""
    walls: list[float] = []
    # untimed: a lake pass writes its change batches here
    for op in wl.pass_ops(rng):
        t0 = time.perf_counter()
        try:
            wl.run_op(op, timed)
        except Exception as exc:  # noqa: BLE001 — counted, run continues
            ctx.fail(f"op {op}", f"{type(exc).__name__}: {exc}")
            continue
        walls.append(time.perf_counter() - t0)
        if timed:
            ctx.attempted += 1
    return walls


def _layer_metrics(ctx, t_first: float, session_s: float, warmup_s: float, rss_mb: float) -> dict:
    """Per-layer metrics over the spans of the measured window. Times
    and counts are means per op unless the name says otherwise."""
    tr = ctx.tracer
    c = tr.counters
    window = tr.since(t_first)
    by_id = {s["id"]: s for s in window}
    total: dict[str, float] = defaultdict(float)
    in_op: dict[str, float] = defaultdict(float)
    for s in window:
        d = s["end"] - s["start"]
        total[s["name"]] += d
        parent = by_id.get(s["parent"])
        if parent is not None and parent["name"] == "op":
            in_op["trace" if s["name"] == "trace" else "layers"] += d
    n = sum(1 for s in window if s["name"] == "op")
    op_s = total["op"] - in_op["trace"]
    lake_s = total["lake_tx.commit"] + total["lake_tx.read"] + total["lake_tx.maint"]
    lookups, puts = c["memo.lookups"], c["memo.puts"]
    stored = np.mean(ctx.lake_stored, axis=0) if ctx.lake_stored else (0.0, 0.0)

    def per_op(key: str) -> float:
        return c[key] / n

    return {
        "session.start_s": (session_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
        "jvm.peak_rss_mb": (rss_mb, "MB"),
        "queries.build_s": (total["build"] / n, "s"),
        "queries.build_jobs": (per_op("queries.build_jobs"), "count"),
        "queries.build_share": (total["build"] / op_s, "ratio"),
        "catalyst.plan_s": (total["catalyst"] / n, "s"),
        "exec.s": (total["exec"] / n, "s"),
        "exec.jobs": (per_op("exec.jobs"), "count"),
        "exec.stages": (per_op("exec.stages"), "count"),
        "exec.tasks": (per_op("exec.tasks"), "count"),
        "exec.shuffle_write_bytes": (per_op("exec.shuffle_write_bytes"), "bytes"),
        "exec.broadcast_bytes": (per_op("exec.broadcast_bytes"), "bytes"),
        "exec.spill_bytes": (per_op("exec.spill_bytes"), "bytes"),
        "io.scan_rows": (per_op("io.scan_rows"), "count"),
        "io.scan_files": (per_op("io.scan_files"), "count"),
        "io.rows_scanned_per_row_out": (c["io.scan_rows"] / max(1.0, c["io.rows_out"]), "ratio"),
        "memo.lookups": (lookups / n, "count"),
        "memo.puts": (puts / n, "count"),
        "memo.hit_rate": ((lookups - puts) / lookups if lookups else 0.0, "ratio"),
        "python.boot_ms": (per_op("python.boot_ms"), "ms"),
        "python.init_ms": (per_op("python.init_ms"), "ms"),
        "python.total_ms": (per_op("python.total_ms"), "ms"),
        "python.bytes_sent": (per_op("python.bytes_sent"), "bytes"),
        # Python task time over the cores' wall time: the share of the
        # machine the Python workers kept busy
        "python.share": (c["python.total_ms"] / 1000 / (op_s * int(_cpus())), "ratio"),
        "lake_tx.commit_s": (total["lake_tx.commit"] / n, "s"),
        "lake_tx.read_s": (total["lake_tx.read"] / n, "s"),
        "lake_tx.maint_s": (total["lake_tx.maint"] / n, "s"),
        "lake_tx.bytes_written": (per_op("lake_tx.bytes_written"), "bytes"),
        "lake_tx.files_written": (per_op("lake_tx.files_written"), "count"),
        "lake_tx.stored_bytes": (float(stored[0]), "bytes"),
        "lake_tx.share": (lake_s / op_s, "ratio"),
        "lake_tx.write_amp": (c["lake_tx.bytes_written"] / max(1.0, c["lake_tx.input_bytes"]), "ratio"),
        "lake_tx.space_amp": (float(stored[1]), "ratio"),
        "oracle.checked": (float(ctx.checked), "count"),
        "oracle.mismatches": (float(ctx.mismatches), "count"),
        "trace.op_s": (op_s / n, "s"),
        "trace.overhead_s": (total["trace"] / n, "s"),
        "trace.overhead_share": (total["trace"] / (op_s + total["trace"]), "ratio"),
        "trace.layer_coverage": (in_op["layers"] / op_s, "ratio"),
    }


def run(args, tmp: str) -> dict:
    import spans
    import workloads
    import fixture

    tracer = spans.Tracer(bool(args.trace))
    sf_dir = os.path.join(tmp, "fixture")
    with tracer.span("setup.fixture", op="setup"):
        fixture.write(sf_dir, FIXTURE_SEED, SF)
    t0 = time.perf_counter()
    with tracer.span("setup.session", op="setup"):
        spark = _start_session(tmp)
    session_s = time.perf_counter() - t0
    try:
        import pyspark

        stamp = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "sf": SF,
            "fixture_seed": FIXTURE_SEED,
            "held_out_seed": HELD_OUT_SEED,
            "nproc": len(os.sched_getaffinity(0)),
            "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", "default"),
            "pyspark": pyspark.__version__,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "commit": _commit(),
        }
        print("stamp " + json.dumps(stamp), flush=True)
        ctx = Context(spark, sf_dir, tmp, tracer)
        if args.workload == "lake_upsert":
            wl = workloads.LakeWorkload(ctx, args.seed)
        else:
            wl = workloads.RegistryWorkload(ctx, args.workload)
        rng = np.random.default_rng(args.seed)

        t0 = time.perf_counter()
        with tracer.span("setup.warm", op="setup"):
            wl.warm(rng)
            for _ in range(wl.warm_passes):
                _run_pass(wl, ctx, rng, timed=False)
        t_first = time.perf_counter()
        warmup_s = t_first - t0 - ctx.oracle_s
        setup_s = t_first - T_START - ctx.oracle_s

        walls: list[float] = []
        pass_walls: list[float] = []
        deadline = t_first + args.seconds
        with spans.memo_counters(tracer):
            while len(pass_walls) < wl.passes or time.perf_counter() < deadline:
                done = _run_pass(wl, ctx, rng, timed=True)
                walls += done
                pass_walls.append(sum(done))
        wl.finish()
        rss_mb = _peak_rss_mb(spark)
    finally:
        _stop_session(spark)

    if args.trace:
        metrics = _layer_metrics(ctx, t_first, session_s, warmup_s, rss_mb)
        out_dir = os.path.join(ROOT, ".perfbench-out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"), stamp)
    else:
        metrics = _e2e_metrics(walls, setup_s)
    print(
        f"ops {len(walls)}  attempted {ctx.attempted}  failed {ctx.failed}  "
        f"failed_frac {ctx.failed / max(1, ctx.attempted):.4f}  "
        f"oracle {ctx.checked - ctx.mismatches}/{ctx.checked}"
    )
    print("pass walls " + " ".join(f"{w:.3f}" for w in pass_walls) + " s")
    if walls:
        print(f"op_tail_s is p{tail_pct(len(walls))} of {len(walls)} ops")
    for k, (v, unit) in metrics.items():
        print(f"  {k:32s} {v:14.6g} {unit}")
    return {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }


def run_all(args) -> int:
    """Run every workload, each in its own process, and summarise."""
    import workloads

    rc, results = 0, {}
    for w in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        print(f"== {w}", flush=True)
        proc = subprocess.run(cmd, capture_output=True, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr[-4000:])
            rc = 1
            continue
        results[w] = json.loads(lines[-1])
    print(json.dumps({
        "correct": rc == 0 and all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {
            f"{w}.{k}": m for w, r in results.items() for k, m in r["metrics"].items()
        },
    }))
    return rc


def main(argv: list[str]) -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*workloads.WORKLOADS, "all"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    # a terminated run still stops its session and removes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        import __spark_entry__  # noqa: F401
        import fintrack_etl_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    tmp = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    try:
        result = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
