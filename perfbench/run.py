"""Benchmark command for the engine (see BENCHMARK.json).

Usage:

    python3 perfbench/run.py --workload paper_pipeline --seed 1 --seconds 1 --trace 0

One invocation generates the workload's input from ``--seed``, computes the
oracle's expected result, starts the engine on ``local[<cpus>]``, runs the
untimed warm-up, then runs the workload in a closed loop (one client, the
next run starts when the previous one ends) until ``--seconds`` of run time
are measured. Every operation, the warm-up's too, is checked against the
oracle after the loop; one that raised is a failed operation.
``--trace 1`` then repeats as many runs with layer spans on and reports the
per-layer counters plus the tracing overhead instead of the end-to-end
metrics. Human-readable lines come first; the last stdout line is the JSON
result.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The end-to-end metrics BENCHMARK.json gates. The others are printed
# only: on this class of machine their spread across seeds is as wide as
# the largest bound allowed, so a gate on them would reject at random.
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "ok_frac": "frac"}
WARMUP_RUNS = 1


def tail(values: list[float]) -> tuple[float, float]:
    """Latency at the highest percentile with at least ten samples beyond
    it, and that percentile. Below 20 samples that percentile lies under
    the median, so the maximum is reported instead, as p100."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def _parse(argv):
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _env(workdir: str) -> None:
    """Pin the engine to this machine's cores and keep every temporary
    file of Spark, the JVM and Python inside ``workdir``."""
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM (and its Python workers) ended."""
    gw = spark.sparkContext._gateway
    proc = gw.proc
    spark.stop()
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait()


class Loop:
    """Runs of one kind (warm-up, measured or traced) and their checked operations."""

    def __init__(self):
        self.walls: list[float] = []
        self.ops: list[tuple[str, float, object]] = []
        self.outs: list[str] = []
        self.layers: list[dict[str, float]] = []
        self.errors = 0

    def run_once(self, w, spark, tracer, inp, out) -> float:
        t0 = time.perf_counter()
        try:
            ops = w.run(spark, tracer, inp, out)
        except Exception:  # noqa: BLE001  (a failed run is a failed operation)
            traceback.print_exc()
            self.errors += 1
            return time.perf_counter() - t0
        wall = time.perf_counter() - t0
        self.walls.append(wall)
        self.ops.extend(ops)
        self.outs.append(out)
        return wall

    def check(self, w, spark, expected) -> int:
        """Failed operations: raised, or differ from the oracle."""
        failed = self.errors
        for op, _, result in self.ops:
            try:
                ok = result is not None and w.check(spark, op, result, expected)
            except Exception:  # noqa: BLE001
                traceback.print_exc()
                ok = False
            if not ok:
                print(f"MISMATCH {w.name}:{op} differs from the oracle")
                failed += 1
        for out in self.outs:
            shutil.rmtree(out, ignore_errors=True)
        return failed

    @property
    def attempted(self) -> int:
        return len(self.ops) + self.errors


def bench(w, args, workdir: str) -> dict:
    """One invocation of workload ``w``."""
    from perfbench.spans import UNITS, Memory, Tracer, layer_totals
    from skripsi_mapreduce_spark.session import get_spark

    t = time.perf_counter()
    inp = w.prepare(args.seed, os.path.join(workdir, "input"), w.size)
    gen_s = time.perf_counter() - t
    t = time.perf_counter()
    expected = w.expected(inp)
    oracle_s = time.perf_counter() - t

    runs = itertools.count()

    def fresh() -> str:
        return os.path.join(workdir, f"out{next(runs)}")

    t_setup = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{w.name}")
    start_s = time.perf_counter() - t_setup
    try:
        mem = Memory(spark)
        mem.reset()
        off = Tracer(spark, enabled=False)
        warm = Loop()
        warm_s = [warm.run_once(w, spark, off, inp, fresh()) for _ in range(WARMUP_RUNS)]
        setup_s = time.perf_counter() - t_setup

        plain = Loop()
        measured = 0.0
        while measured < args.seconds and plain.errors == 0:
            measured += plain.run_once(w, spark, off, inp, fresh())
        peak_mb = mem.peak_mb()

        traced = Loop()
        if args.trace:
            for _ in range(max(len(plain.walls), 1)):
                tr = Tracer(spark, enabled=True)
                traced.run_once(w, spark, tr, inp, fresh())
                traced.layers.append(layer_totals(spark, tr.spans))

        loops = (warm, plain, traced)
        failed = sum(loop.check(w, spark, expected) for loop in loops)
    finally:
        _stop(spark)

    attempted = sum(loop.attempted for loop in loops)
    # None when no run completed: the result then leaves out what needs one
    wall_s = statistics.median(plain.walls) if plain.walls else None
    info = [
        ("gen_s", gen_s, "s", 1),
        ("oracle_s", oracle_s, "s", 1),
        ("session_start_s", start_s, "s", 1),
        ("warmup_run_s", statistics.median(warm_s) if warm_s else 0.0, "s", len(warm_s)),
        ("failed_frac", failed / attempted, "frac", attempted),
        (f"items ({w.item})", w.items, "count", 1),
    ]
    if args.trace:
        n = len(traced.layers)
        for run in traced.layers:
            run["session.start_s"] = run["session.busy_s"] = start_s
            it = run.get("kmeans.iterations", 0)
            run["kmeans.s_per_iter"] = run["kmeans.busy_s"] / it if it else 0.0
        metrics = {
            key: (statistics.median(run.get(key, 0.0) for run in traced.layers), unit, n)
            for key, unit in UNITS.items()
            if key != "trace.overhead_s"
        }
        if wall_s is not None and traced.walls:
            overhead = statistics.median(traced.walls) - wall_s
            metrics["trace.overhead_s"] = (overhead, UNITS["trace.overhead_s"], n)
    else:
        values = {
            "setup_s": (setup_s, 1),
            "ok_frac": (1.0 - failed / attempted, attempted),
        }
        if wall_s is not None:
            values["wall_s"] = (wall_s, len(plain.walls))
            lat = [lat for _, lat, _ in plain.ops]
            tail_s, tail_pct = tail(lat)
            info += [
                ("items_per_s", w.items / wall_s, "1/s", len(plain.walls)),
                ("query_p50_s", statistics.median(lat), "s", len(lat)),
                (f"query_tail_s (p{tail_pct:.4g})", tail_s, "s", len(lat)),
                ("peak_rss_mb", peak_mb, "MB", 1),
            ]
            # each operation by name, printed only: a trade between the
            # entries of one workload nets out in wall_s but shows here
            by_op: dict[str, list[float]] = {}
            for op, lat_s, _ in plain.ops:
                by_op.setdefault(op, []).append(lat_s)
            if len(by_op) > 1:
                info += [
                    (f"latency_s[{op}]", statistics.median(xs), "s", len(xs))
                    for op, xs in by_op.items()
                ]
        metrics = {k: (v, E2E_UNITS[k], n) for k, (v, n) in values.items()}
    for name, value, unit, n in info + [(k, *v) for k, v in metrics.items()]:
        print(f"{w.name} {name} = {value:.6g} {unit} (n={n})")
    print(f"{w.name} run walls (s): {' '.join(f'{x:.3f}' for x in plain.walls + traced.walls)}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path[0] = ROOT
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    workdir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    _env(workdir)
    try:
        result = bench(WORKLOADS[args.workload], args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:  # another invocation still uses it
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
