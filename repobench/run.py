"""Repo benchmark: one workload and one seed in one fresh process.

    python3 repobench/run.py --workload copy --seed 1 --seconds 10 --trace 0

Workloads: copy, llm_pipeline (see WORKLOADS.md). A run

1. builds the workload's inputs for the seed once per work directory
   (``.benchwork/`` at the checkout root), in a child process, before
   any clock starts;
2. times set-up: engine import, session start on ``local[4]`` and, on
   llm_pipeline, caching the corpus;
3. times a first pass; checks every output outside the timed passes
   (after each pass, and on llm_pipeline once between the first and the
   warm passes, where rerunning each op also warms it up); then times
   warm passes until ``--seconds`` of them have run, and at least the
   workload's ``min_warm`` of them;
5. stops the Spark JVM and every process it started, waits until each
   has ended, then prints the warm-pass series and one JSON line.

With ``--trace 0`` the JSON holds the end-to-end metrics: ``setup_s``,
``first_pass_s`` and ``pass_s`` (the median warm pass). With
``--trace 1`` traced and untraced warm passes alternate; the JSON holds
the per-layer metrics of the traced passes, and the spans are written
to ``.benchwork/traces/``.
"""

from __future__ import annotations

import argparse
import ctypes
import glob
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "copy_databasetables_spark")

MAX_PASSES = 200
#: traced (True) and untraced (False) warm passes, repeated: ABBA, so
#: neither kind sits earlier in the warm-up on average
TRACE_PATTERN = (True, False, False, True)


def digest() -> str:
    """Key of the input cache: gen.py, prepare.py, params.py and the
    engine's operator sources (which hold the oracle SQL)."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, f) for f in ("gen.py", "prepare.py", "params.py")]
    files += sorted(glob.glob(os.path.join(ENGINE, "operators", "*.py")))
    for f in files:
        with open(f, "rb") as fh:
            h.update(os.path.basename(f).encode() + fh.read())
    return h.hexdigest()[:16]


def ensure_entry(work: str, workload: str, seed: int) -> str:
    cache, key = os.path.join(work, "cache"), digest()
    entry = os.path.join(cache, key, f"{workload}-s{seed}")
    if not os.path.isdir(entry):
        for stale in glob.glob(os.path.join(cache, "*")):
            if os.path.basename(stale) != key:
                shutil.rmtree(stale, ignore_errors=True)
        os.makedirs(os.path.dirname(entry), exist_ok=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "prepare.py"), workload, str(seed), entry],
            check=True, timeout=900, stdout=sys.stderr,
        )
    return entry


def child_env(run_dir: str) -> None:
    """Keep every file the engine, Spark and Derby write inside run_dir."""
    from prepare import DERBY_PROPS

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    props = [*DERBY_PROPS, f"-Dderby.stream.error.file={run_dir}/derby.log",
             f"-Djava.io.tmpdir={tmp}"]
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options {shlex.quote(' '.join(props))} pyspark-shell",
    )


def become_subreaper() -> None:
    """Adopt orphaned descendants (Linux ``PR_SET_CHILD_SUBREAPER``), so
    Python workers whose JVM has exited can still be waited for."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (AttributeError, OSError):
        pass


def stop_jvm(gateway) -> None:
    """End the py4j gateway's JVM and wait for it: the JVM exits when its
    stdin closes, but only after this process would otherwise be gone."""
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is None:
        return
    try:
        proc.stdin.close()
    except (AttributeError, OSError):
        pass
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def children() -> list[int]:
    me, found = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            # the field after the ")" that closes the command is the state,
            # then the parent pid
            if int(stat.rsplit(")", 1)[1].split()[1]) == me:
                found.append(int(d))
    return found


def reap_children(grace: float = 10.0) -> None:
    """Wait for every remaining child (adopted ones too) to end; after
    ``grace`` seconds, terminate, then kill, what is left."""
    deadline, sig = time.monotonic() + grace, None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = children()
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.05)


def settled_at(series: list[float]) -> int | None:
    """1-based warm pass after which the series stopped falling."""
    for i in range(1, len(series)):
        if series[i] >= series[i - 1]:
            return i
    return None


class Run:
    def __init__(self, args, entry: str, run_dir: str):
        self.args, self.entry, self.run_dir = args, entry, run_dir
        self.attempted = self.failed = 0
        self.passes: list[dict] = []

    def tally_checks(self, items) -> None:
        for ops, err in items:
            self.attempted += len(ops)
            if err is not None:
                self.failed += len(ops)
                print(f"CHECK FAILED {ops}: {err}", file=sys.stderr)

    def one_pass(self, i: int, traced: bool) -> float:
        wl, tr = self.wl, self.tracer
        wl.before_pass()
        tr.begin_pass(i, traced)
        t = time.perf_counter()
        n_ops, failed = wl.run_pass()
        dt = time.perf_counter() - t
        if traced:
            tr.collect(i)
        self.attempted += n_ops
        self.failed += len(failed)
        self.tally_checks(wl.check_pass())
        wl.after_pass()
        self.passes.append({"id": i, "s": dt, "traced": traced, "storage": tr.storage})
        return dt

    def measure(self) -> dict:
        from params import CORES, WORKLOADS
        from spans import Tracer
        from workloads import WORKLOAD_CLASSES

        args = self.args
        t0 = time.perf_counter()
        sys.path.insert(0, ROOT)
        from copy_databasetables_spark import get_spark

        spark = get_spark("repobench", master=f"local[{CORES}]")
        gateway = spark.sparkContext._gateway
        try:
            t_session = time.perf_counter()
            self.tracer = Tracer(spark, enabled=bool(args.trace))
            self.tracer.begin_pass(-1, bool(args.trace))
            self.wl = WORKLOAD_CLASSES[args.workload](
                spark, self.tracer, self.entry, self.run_dir, args.seed
            )
            self.wl.setup()
            setup_s = time.perf_counter() - t0
            self.tracer.sample_storage()
            setup_storage = self.tracer.storage

            first = self.one_pass(0, bool(args.trace))
            self.tally_checks(self.wl.check_outputs())
            warm: dict[bool, list[float]] = {True: [], False: []}
            i = 1
            while i < MAX_PASSES:
                traced = bool(args.trace) and TRACE_PATTERN[(i - 1) % len(TRACE_PATTERN)]
                warm[traced].append(self.one_pass(i, traced))
                i += 1
                # a traced run needs one full ABBA cycle; an untraced run
                # the workload's minimum for a steady median
                need = {True: 2, False: 2} if args.trace else {
                    False: WORKLOADS[args.workload]["min_warm"]}
                if (all(len(warm[k]) >= n for k, n in need.items())
                        and sum(warm[True] + warm[False]) >= args.seconds):
                    break
            calib = calibrate(spark) if args.trace else {}
        finally:
            spark.stop()
            stop_jvm(gateway)

        for kind, series in warm.items():
            if series:
                label = "traced" if kind else "untraced"
                k = settled_at(series)
                print(f"{label} warm passes ({len(series)}): "
                      + " ".join(f"{x:.3f}" for x in series)
                      + f" | first pass {first:.3f} | "
                      + (f"stopped falling at warm pass {k}" if k
                         else "still falling" if len(series) > 1 else "one warm pass"))
        if not args.trace:
            return {
                "setup_s": (setup_s, "s"),
                "first_pass_s": (first, "s"),
                "pass_s": (statistics.median(warm[False]), "s"),
            }
        from layers import per_layer

        m = per_layer(self.tracer, self.passes, warm)
        m.update(calib)
        m["session.start_s"] = (t_session - t0, "s")
        m["io.input_ready_s"] = (setup_s - (t_session - t0), "s")
        m["io.cached_mb"] = (setup_storage[0][0] if setup_storage else 0.0, "MB")
        m["peak_storage_mb"] = (max(
            [s[0] for p in self.passes for s in p["storage"]] + [s[0] for s in setup_storage],
            default=0.0), "MB")
        m["fail_ratio"] = (self.failed / max(1, self.attempted), "ratio")
        trace_dir = os.path.join(os.path.dirname(self.run_dir), "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-s{args.seed}-{os.getpid()}.jsonl")
        self.tracer.dump(path)
        print(f"spans: {os.path.relpath(path, ROOT)}")
        return m


def calibrate(spark) -> dict:
    """bench.py's three machine sentinels: pure CPU, shuffle, and a
    mapInPandas identity, best of three."""

    def best(fn) -> float:
        times = []
        for _ in range(3):
            t = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t)
        return min(times)

    def ident(it):
        yield from it

    return {
        "calib.cpu_s": (best(lambda: spark.range(0, 50_000_000, 1, 32).selectExpr(
            "sum(id * 2654435761 % 1000003) as s").collect()), "s"),
        "calib.shuffle_s": (best(lambda: spark.range(0, 10_000_000, 1, 32)
                                 .selectExpr("id % 1000 AS k", "id AS v")
                                 .repartition(32, "k").groupBy("k").agg({"v": "sum"})
                                 .collect()), "s"),
        "calib.python_s": (best(lambda: spark.range(0, 1_000_000, 1, 32).selectExpr("id")
                                .mapInPandas(ident, "id long")
                                .selectExpr("sum(id) AS s").collect()), "s"),
    }


def main(argv: list[str] | None = None) -> int:
    from params import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(ENGINE):
        print(f"engine package not found at {ENGINE}", file=sys.stderr)
        return 2

    become_subreaper()
    work = os.path.join(ROOT, ".benchwork")
    entry = ensure_entry(work, args.workload, args.seed)
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        from workloads import stage_run_dir

        stage_run_dir(args.workload, entry, run_dir)
        child_env(run_dir)
        run = Run(args, entry, run_dir)
        metrics = run.measure()
    finally:
        reap_children()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
