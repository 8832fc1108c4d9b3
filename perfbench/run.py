"""Repository benchmark: one closed-loop client driving the engine's
registry entries on Spark local[nproc], checked against DuckDB oracles.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 30 --trace 0

Run from the repository root. A run
  1. writes seeded fixtures under perfbench/.run/<pid>/ (not timed);
  2. sets up: imports PySpark, `session.get_spark`, imports the registry
     and runs every op of the workload once cold (`setup_s`);
  3. computes each op's DuckDB oracle once (not timed);
  4. runs one untimed warm pass, then a fixed number of timed passes of
     the workload's ops, each pass in a seed-shuffled order (`--seconds`
     only caps the timed phase on a slow host);
  5. stops Spark, checks every op result against its oracle and deletes
     the run's scratch files.

`--trace 0` prints the end-to-end metrics; `--trace 1` installs the
tracer (perfbench/tracing.py), alternates untraced and traced passes and
prints the per-layer metrics, the tracing overhead and the layer-sum
residual. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "parking_violations_data_pipeline_spark"
SCRATCH = os.path.join(ROOT, ".tmp")  # where the package's ETL/streaming entries write

sys.path.insert(0, HERE)

import datagen  # noqa: E402
from workloads import PASSES, WORKLOADS  # noqa: E402

SPEC = os.path.join(ROOT, "BENCHMARK.json")  # metric names and units printed in the result
NOTE = ("BENCH_r*.json history was measured with bench.py on a 32-vCPU box "
        "and is not comparable with these figures")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and its Python workers), sampled every 200 ms. Each process
    counts its proportional set size, so pages that forked Python workers
    share with their parent are counted once, not once per worker."""

    def __init__(self) -> None:
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree(self) -> list[int]:
        pids, i = [os.getpid()], 0
        while i < len(pids):
            try:
                for task in os.listdir(f"/proc/{pids[i]}/task"):
                    with open(f"/proc/{pids[i]}/task/{task}/children") as f:
                        pids.extend(int(c) for c in f.read().split())
            except OSError:
                pass
            i += 1
        return pids

    def sample(self) -> None:
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                pass
        self.peak = max(self.peak, total)
        self.samples += 1

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(0.2)


def oracle_frames(fixture_dir: str, ops: tuple[str, ...], registry) -> dict:
    """Each op's oracle result, computed once per run over DuckDB views;
    a multi-file table is read through a glob."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in datagen.TABLES:
            p = os.path.join(fixture_dir, f"{t}.parquet")
            src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
        return {name: con.execute(registry[name].oracle).df() for name in ops}
    finally:
        con.close()


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "registry.py")) or not os.path.isfile(
        os.path.join(ROOT, "tests", "oracle_harness.py")
    ):
        print(f"perfbench: {PKG}/ and tests/oracle_harness.py must sit beside perfbench/",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    pid = os.getpid()
    remove_dead_runs(os.path.join(HERE, ".run"))
    run_dir = os.path.join(HERE, ".run", str(pid))
    fixture_dir = os.path.join(run_dir, f"sf{pid}")
    for sub in ("work", "spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    scratch_existed = os.path.isdir(SCRATCH)
    scratch_before = set(os.listdir(SCRATCH)) if scratch_existed else set()
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        # -XX:-UsePerfData: no jvmstat counter file in /tmp/hsperfdata_*,
        # from the launcher JVM that spark-submit starts first or the driver
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    })
    sys.path.insert(0, ROOT)
    sys.path.append(os.path.join(ROOT, "tests"))
    os.chdir(os.path.join(run_dir, "work"))
    try:
        return run(args, wl, fixture_dir, nproc)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still be using it
            os.rmdir(os.path.dirname(run_dir))
        if not scratch_existed:
            shutil.rmtree(SCRATCH, ignore_errors=True)
        elif os.path.isdir(SCRATCH):
            for entry in os.listdir(SCRATCH):
                if entry not in scratch_before or entry.endswith((f"-{pid}", f"_{pid}")):
                    shutil.rmtree(os.path.join(SCRATCH, entry), ignore_errors=True)


def remove_dead_runs(parent: str) -> None:
    """Delete run directories left by runs that were killed."""
    if not os.path.isdir(parent):
        return
    for entry in os.listdir(parent):
        if entry.isdigit() and not os.path.exists(f"/proc/{entry}"):
            shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)


def run(args, wl, fixture_dir: str, nproc: int) -> int:
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    clock = PhaseClock()
    fixture_stamp = datagen.write(fixture_dir, wl.sizes, args.seed)
    clock.lap("datagen")

    with RssSampler() as rss:
        # ---- set-up: what a user pays on every job run ------------------
        t_setup = time.perf_counter()
        tracer = None
        if args.trace:
            import tracing

            tracer = tracing.Tracer()
            tracer.install_py4j_counter()
        from parking_violations_data_pipeline_spark import session

        t0 = time.perf_counter()
        spark = session.get_spark(app_name="perfbench")
        get_spark_ms = (time.perf_counter() - t0) * 1e3
        t0 = time.perf_counter()
        from parking_violations_data_pipeline_spark.registry import REGISTRY, all_queries

        all_queries()
        registry_ms = (time.perf_counter() - t0) * 1e3
        install_s = 0.0
        if tracer is not None:
            t0 = time.perf_counter()
            tracer.install_layer_wrappers()
            tracer.install_stream_listener(spark)
            install_s = time.perf_counter() - t0

        sc = spark.sparkContext
        results: list[Result] = []

        def run_op(name: str) -> None:
            fn = REGISTRY[name].fn
            traced = tracer is not None and tracer.active
            if traced:
                tracer.begin(sc, name)
            ticks = cpu_ticks()
            t = time.perf_counter()
            try:
                df = fn(spark, fixture_dir)
                if traced:
                    tracer.built()
                rows = df.collect()
            except Exception as e:  # an op failure is counted, not fatal
                if traced:
                    tracer.fail()
                results.append(Result(name, None, error=e))
                return
            lat = time.perf_counter() - t
            stolen = stolen_share(ticks, cpu_ticks())
            if traced:
                tracer.end(df, len(rows))
            results.append(Result(name, lat, list(df.columns), rows, stolen=stolen))

        rng = random.Random(args.seed)
        for name in rng.sample(wl.ops, len(wl.ops)):
            run_op(name)
        setup_s = time.perf_counter() - t_setup - install_s
        clock.lap("setup")

        oracles = oracle_frames(fixture_dir, wl.ops, REGISTRY)
        clock.lap("oracle")

        # one untimed warm pass: the JIT keeps compiling for several passes
        # after the cold one, and the first warm pass is the least steady
        for name in rng.sample(wl.ops, len(wl.ops)):
            run_op(name)
        n_untimed = len(results)
        clock.lap("warm")

        # ---- timed phase: a fixed number of passes -----------------------
        pass_walls: list[tuple[bool, float]] = []  # (traced, wall)
        pass_stolen: list[float] = []
        io = StageIO(spark)
        # a traced run alternates untraced and traced passes in ABBA blocks,
        # so warm-up drift cancels out of the tracing overhead
        block = 4 if tracer is not None else 1
        # --seconds only caps the phase: on a host too slow for the fixed
        # count, no new block starts once the cap is used up
        while len(pass_walls) < PASSES and (
            len(pass_walls) % block or sum(w for _, w in pass_walls) < args.seconds
        ):
            if tracer is not None:
                tracer.active = len(pass_walls) % 4 in (1, 2)
            t_ms = time.time() * 1000.0
            ticks = cpu_ticks()
            t = time.perf_counter()
            for name in rng.sample(wl.ops, len(wl.ops)):
                run_op(name)
            pass_walls.append((tracer is not None and tracer.active, time.perf_counter() - t))
            pass_stolen.append(stolen_share(ticks, cpu_ticks()))
            if tracer is None:
                io.account(t_ms)
            else:
                tracer.active = False
                tracer.read_status(spark)

        layer_rows: list[dict] = []
        if tracer is not None:
            layer_rows = [
                {**tracer.op_metrics(op, nproc), "_op": op.name} for op in tracer.ops if op.ok
            ]
            tracer.remove_stream_listener()
        clock.lap("timed")
        env = environment(spark, args, nproc, fixture_stamp)
        stop_spark(spark)
        clock.lap("stop")

    for r in results:
        verify(r, oracles[r.name])
    clock.lap("verify")
    timed = results[n_untimed:]
    failed = [r for r in results if r.failure]
    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
          f"ops={','.join(wl.ops)}")
    print(json.dumps({"env": env}, sort_keys=True))
    print("  run phases: " + ", ".join(
        f"{k} {v:.2f} s (stolen {clock.stolen[k]:.0%})" for k, v in clock.laps.items()))
    if len(pass_walls) < PASSES:
        print(f"  --seconds {args.seconds:g} cut the timed phase to {len(pass_walls)} "
              f"of {PASSES} passes")
    print("  pass walls: " + ", ".join(
        f"{w:.3f}{'*' if t else ''} ({f:.0%} stolen)" for (t, w), f in zip(pass_walls, pass_stolen))
          + " s" + (" (* traced)" if args.trace else ""))
    for r in failed:
        print(f"FAILED {r.name}: {r.failure}")
    for name in wl.ops:
        ms = [r.latency * 1e3 for r in timed if r.name == name and r.latency is not None]
        if ms:
            print(f"  op {name:32s} n={len(ms)} median {statistics.median(ms):9.1f} ms  "
                  + " ".join(f"{m:.0f}" for m in ms))
    with open(SPEC) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        print(json.dumps({"spans": tracer.span_records()}))
        values = layer_metrics(layer_rows, pass_walls, get_spark_ms, registry_ms)
        for m in declared:
            print(f"  {m['name']:34s} {fmt(values[m['name']]):>14s} {m['unit']}")
    else:
        passes = [timed[i:i + len(wl.ops)] for i in range(0, len(timed), len(wl.ops))]
        values = e2e_metrics(setup_s, clock.stolen["setup"], passes, pass_walls, pass_stolen,
                             rss, io, results)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    print(json.dumps({"correct": not failed, "attempted": len(results),
                      "failed": len(failed), "metrics": metrics}))
    return 0


class PhaseClock:
    """Wall time of the run's phases, and the stolen share of each."""

    def __init__(self) -> None:
        self.laps: dict[str, float] = {}
        self.stolen: dict[str, float] = {}
        self._t = time.perf_counter()
        self._ticks = cpu_ticks()

    def lap(self, name: str) -> None:
        t, ticks = time.perf_counter(), cpu_ticks()
        self.laps[name] = t - self._t
        self.stolen[name] = stolen_share(self._ticks, ticks)
        self._t, self._ticks = t, ticks


def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat, in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def stolen_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time the VM's CPUs wanted that the hypervisor gave
    to other guests (steal ÷ (busy + steal)) between two readings."""
    user, nice, system, _idle, _iowait, irq, softirq, steal = (
        b - a for a, b in zip(before, after)
    )
    wanted = user + nice + system + irq + softirq + steal
    return steal / wanted if wanted else 0.0


def unstolen(wall: float, share: float) -> float:
    """The wall an interval would have taken with nothing stolen, if the
    stolen share of its wanted CPU time had simply been waited out."""
    return wall * (1.0 - share)


class Result:
    """One op execution: its latency, or the exception it raised, and
    after verify() the oracle mismatch, if any."""

    def __init__(self, name, latency, columns=None, rows=None, error=None, stolen=0.0) -> None:
        self.name = name
        self.latency = latency
        self.stolen = stolen
        self.columns = columns
        self.rows = rows
        self.failure = f"raised {type(error).__name__}: {str(error)[:300]}" if error else ""


def verify(r: Result, oracle) -> None:
    import pandas as pd
    from oracle_harness import compare_frames

    if r.failure:
        return
    try:
        compare_frames(r.name, pd.DataFrame.from_records(r.rows, columns=r.columns), oracle)
    except (AssertionError, TypeError, ValueError) as e:  # mismatch, or not comparable
        r.failure = f"{type(e).__name__}: {str(e)[:400]}"
    r.rows = None


class StageIO:
    """Executor input and output bytes of the stages a phase submitted."""

    def __init__(self, spark) -> None:
        from tracing import StatusStore

        self.read = 0
        self.written = 0
        self._seen: set[tuple[int, int]] = set()
        self._spark = spark
        self._store = StatusStore(spark)

    def account(self, since_ms: float) -> None:
        from tracing import drain_listener_bus

        # stage events reach the status store asynchronously; a stage read
        # before its completion event would count partial bytes
        drain_listener_bus(self._spark)
        for st in self._store.read()[1]:
            k = (st["stageId"], st["attemptId"])
            sub = st.get("submissionTime")
            if k in self._seen or sub is None or sub < since_ms - 1:
                continue
            self._seen.add(k)
            self.read += st["inputBytes"]
            self.written += st["outputBytes"]


def environment(spark, args, nproc: int, fixture_stamp: dict) -> dict:
    import duckdb
    import pyspark

    sc = spark.sparkContext
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "jvm": sc._jvm.java.lang.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "machine": platform.machine(),
        "fixtures": fixture_stamp,
        "note": NOTE,
    }


def stop_spark(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def fmt(v: float) -> str:
    return f"{v:.6g}"


def e2e_metrics(setup_s, setup_stolen, passes, pass_walls, pass_stolen, rss, io, results) -> dict:
    """Print every end-to-end figure with its unit and sample count, and
    return their values by name. Times are steal-adjusted (see
    unstolen); the raw wall-clock figure is printed beside each."""
    n_failed = sum(1 for r in results if r.failure)
    correct = sum(1 for p in passes for r in p if not r.failure)
    wall = sum(w for _, w in pass_walls)
    adj_wall = sum(unstolen(w, f) for (_, w), f in zip(pass_walls, pass_stolen))
    ok = [r for p in passes for r in p if r.latency is not None]
    if not ok:
        raise RuntimeError("no op of the timed phase completed")
    lat = [unstolen(r.latency, r.stolen) for r in ok]
    raw_p50 = statistics.median(r.latency for r in ok) * 1e3
    rows = {
        "setup_s": (unstolen(setup_s, setup_stolen), "s",
                    f"n=1 set-up; raw {setup_s:.3f} s, {setup_stolen:.0%} stolen"),
        "ops_per_s": (correct / adj_wall, "ops/s",
                      f"{correct} correct ops in {len(passes)} passes; raw {correct / wall:.4f}"),
        "op_p50_ms": (statistics.median(lat) * 1e3, "ms",
                      f"n={len(lat)}; raw {raw_p50:.1f}"),
        "peak_rss_mb": (rss.peak / 2**20, "MB", f"n={rss.samples} samples"),
    }
    if len(lat) >= 100:
        rows["op_p90_ms"] = (statistics.quantiles(lat, n=10)[-1] * 1e3, "ms", f"n={len(lat)}")
    else:
        print(f"  op_p90_ms withheld: {len(lat)} ops < 100")
    rows["bytes_written_per_input_byte"] = (
        io.written / io.read if io.read else 0.0, "ratio",
        f"{io.written} B written / {io.read} B read by executors")
    rows["error_rate"] = (n_failed / len(results), "fraction", f"{n_failed}/{len(results)} ops")
    for k, (v, u, n) in rows.items():
        print(f"  {k:30s} {fmt(v):>12s} {u:9s} ({n})")
    return {k: v for k, (v, _, _) in rows.items()}


def layer_metrics(layer_rows, pass_walls, get_spark_ms, registry_ms) -> dict:
    import tracing as tr

    summary = tr.per_op_summary(layer_rows)
    summary["session.get_spark_ms"] = get_spark_ms
    summary["registry.import_ms"] = registry_ms
    traced = [w for t, w in pass_walls if t]
    plain = [w for t, w in pass_walls if not t]
    summary["trace.overhead_frac"] = sum(traced) / len(traced) / (sum(plain) / len(plain)) - 1.0
    walls = sum(r["_wall_ms"] for r in layer_rows)
    selfs = sum(v for r in layer_rows for k, v in r.items() if k.startswith("_self."))
    summary["trace.layer_residual_frac"] = (walls - selfs) / walls if walls else 0.0
    unattributed = sum(r["_unattributed_ms"] for r in layer_rows)
    summary["trace.unattributed_frac"] = unattributed / walls if walls else 0.0
    print(f"  tracing overhead: {len(traced)} traced passes {sum(traced):.3f} s vs "
          f"{len(plain)} untraced {sum(plain):.3f} s")
    print("  layer self time, share of op wall (traced ops):")
    shares: dict[str, float] = {}
    for r in layer_rows:
        for k, v in r.items():
            if k.startswith("_self."):
                shares[k[6:]] = shares.get(k[6:], 0.0) + v
    for k, v in sorted(shares.items(), key=lambda kv: -kv[1]):
        print(f"    {k:32s} {v / walls:7.1%}")
    print(f"  layer-sum residual: {summary['trace.layer_residual_frac']:+.2%} of op wall "
          f"({len(layer_rows)} ops)")
    print(f"  op wall outside every named layer span: "
          f"{summary['trace.unattributed_frac']:.2%}")
    for r in layer_rows:
        res = (r["_wall_ms"] - sum(v for k, v in r.items() if k.startswith("_self."))) / r["_wall_ms"]
        if abs(res) > 0.10:
            print(f"    {r['_op']}: residual {res:+.1%} exceeds 10%")
    return summary


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
