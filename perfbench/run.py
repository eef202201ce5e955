#!/usr/bin/env python3
"""Benchmark command: run one named workload in a closed loop with one
client on ``local[nproc]`` and print its metrics as one JSON line.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 5 --trace 0

Run from the repository root. The seed fixes the generated inputs.
Set-up (session start and one untimed pass, which pays the first cold
job, the lazy one-offs and each call's first-run planning and code
generation) is charged to ``setup_s``. Then it runs whole passes over
the workload's calls until ``--seconds`` have passed (at least one),
checks the last pass's outputs, and
prints the end-to-end metrics (``--trace 0``) or, from spans and Spark
counters, the per-layer metrics (``--trace 1``).
Everything it writes stays under ``perfbench/.work``. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "project_clinical_data_etl_pipeline_spark"
WORK = os.path.join(HERE, ".work")


def _pin_environment(run_dir: str) -> dict:
    """Fix the session's resources to this machine and keep the files
    the session writes under ``run_dir``. Returns what was pinned."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    # an eighth of the machine, between 1g and 2g: the package default
    # (48g) exceeds small machines and the benchmark's inputs are small
    driver_mem = f"{max(1024, min(2048, mem_kb // (8 * 1024)))}m"
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEM": driver_mem,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # -XX:-UsePerfData: the JVM would otherwise keep a file under
        # /tmp/hsperfdata_<user> whatever java.io.tmpdir says.
        # -Xms equal to the heap cap: otherwise G1 grows the heap when its
        # GC time runs high, and peak RSS follows the host's speed (1.8
        # to 2.6 GB over runs of the same code) rather than the program
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{driver_mem}' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    })
    return {"master": f"local[{nproc}]", "nproc": nproc, "driver_mem": driver_mem,
            "driver_heap": "fixed (-Xms = -Xmx)", "spark_local_dirs": local}


# --- process tree ------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, stack = _children_map(), [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Samples the RSS of this process and all its descendants (the JVM
    and its Python workers) and keeps the peak since the last reset."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak_kb = 0
        self._lock = threading.Lock()
        self._stop_event = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_event.is_set():
            with self._lock:
                total = sum(_rss_kb(p) for p in [me, *descendants(me)])
                self.peak_kb = max(self.peak_kb, total)
            self._stop_event.wait(self.period)

    def reset(self) -> None:
        with self._lock:
            self.peak_kb = 0

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=5)


def stop_session(spark) -> None:
    """Stop Spark, then wait for the JVM and every Python worker it
    started to end (killing any that outlive a grace period)."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 15
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
            time.sleep(0.1)
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except (ProcessLookupError, PermissionError):
                pass


# --- run ---------------------------------------------------------------------


def cpu_probe() -> float:
    """Seconds a fixed single-threaded Python loop takes (the median of
    five). Recorded at the start and end of a run, so that a set of runs
    measured while the machine itself slowed down can be told from a
    regression."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        x = 0
        for i in range(500_000):
            x = (x * 31 + i) & 0xFFFF
        times.append(time.perf_counter() - t)
    return sorted(times)[2]


def cpu_times() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far: the share of a
    run's ticks the hypervisor gave to other guests is the other sign
    that the machine, not the program, changed speed."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _check(fn, *args) -> list[str]:
    """Run one check; a check that raises is a failed check."""
    try:
        return fn(*args)
    except Exception as e:  # the other checks must still run
        traceback.print_exc()
        return [f"check raised {type(e).__name__}: {e}"]


def run_pass(ctx, wl, calls, tracer, samples: list, results: dict, pass_id: str):
    """One pass over ``calls``, the workload's calls or a subset of them.
    Appends (call, seconds, ok) to ``samples`` and keeps each call's
    result for the checks."""
    import workloads

    workloads.reset_outputs(ctx)
    tracer.pass_id = pass_id
    t0 = time.perf_counter()
    with tracer.span("pass", "bench"):
        for stage, group in itertools.groupby(calls, key=lambda c: c.stage):
            with tracer.span(f"stage:{stage}", "bench"):
                for call in group:
                    c0 = time.perf_counter()
                    ok = True
                    try:
                        with tracer.span(call.name, call.layer):
                            results[call.name] = call.run(ctx)
                    except Exception:  # one failing call must not end the run
                        traceback.print_exc()
                        results[call.name] = None
                        ok = False
                    samples.append((call, time.perf_counter() - c0, ok))
    wall = time.perf_counter() - t0
    return wall, workloads.space_amp(ctx, wl)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: run from the repository root ({PACKAGE}/ not found in {ROOT})",
              file=sys.stderr)
        return 2
    probe_start, ticks_start = cpu_probe(), cpu_times()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    env = _pin_environment(run_dir)
    sys.path[:0] = [ROOT, HERE]
    import pyspark

    import gen
    import metrics
    import workloads
    from spans import Tracer
    from project_clinical_data_etl_pipeline_spark import session

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    data_dir = os.path.join(
        WORK, "data", f"seed{args.seed}-sf{wl.sf}-doc{wl.doc_sf}"
                      f"-days{wl.ingest_days}-base{wl.ingest_base}")
    manifest = gen.generate(data_dir, args.seed, wl.sf, wl.doc_sf, wl.ingest_days,
                            wl.ingest_base)
    for i, n in enumerate(manifest["batch_rows"]):
        manifest["rows"][f"batch{i}"] = n

    tracer = Tracer(enabled=bool(args.trace))
    sampler = RssSampler()
    sampler.start()
    out_dir = os.path.join(run_dir, "out")
    spark = None
    try:
        # set-up: session start, the upsert target's first days, then
        # one untimed pass that pays the first cold job, the lazy
        # one-offs and each call's first-run planning and code generation
        t_setup = time.perf_counter()
        spark = session.get_spark(cpus=env["nproc"])
        start_s = time.perf_counter() - t_setup
        ctx = workloads.Ctx(spark=spark, data=data_dir, manifest=manifest, out=out_dir,
                            tracer=Tracer(enabled=False))
        if wl.ingest_days:
            workloads.build_base(ctx, os.path.join(run_dir, "base_target"))
        warm: list = []
        run_pass(ctx, wl, [c for c in wl.calls if c.warm], ctx.tracer, warm, {}, "warmup")
        setup_s = time.perf_counter() - t_setup

        # timed window: whole passes until --seconds have passed, at
        # least one
        ctx.tracer = tracer
        ctx.landed_bytes = 0
        sampler.reset()
        samples: list = []
        results: dict = {}
        walls: list[float] = []
        space: list[float] = []
        layer_values: list[dict] = []
        t0 = time.perf_counter()
        while not walls or time.perf_counter() - t0 < args.seconds:
            pass_id = f"p{len(walls)}"
            ctx.counts.clear()
            wall, amp = run_pass(ctx, wl, wl.calls, tracer, samples, results, pass_id)
            if args.trace:
                layer_values.append(metrics.pass_counts(ctx, wl, pass_id, results))
            walls.append(wall)
            space.append(amp)
        peak_rss_mb = sampler.peak_kb / 1024
        t_checks = time.perf_counter()

        # checks, outside the timed window, on the last pass's outputs
        failed = sum(1 for _, _, ok in warm + samples if not ok)
        checked, check_s = [], {}
        for call in wl.calls:
            if results.get(call.name) is not None:
                c0 = time.perf_counter()
                checked.append((call.name, _check(call.check, ctx, results[call.name])))
                check_s[call.name] = round(time.perf_counter() - c0, 3)
        checked.append(("final state", _check(workloads.final_checks, ctx, wl)))
        for name, problems in checked:
            for p in problems:
                print(f"perfbench: check failed: {name}: {p}", file=sys.stderr)
        failed += sum(1 for _, problems in checked if problems)
        attempted = len(warm) + len(samples)

        detail = {
            "env": {**env, "parallelism": spark.sparkContext.defaultParallelism,
                    "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                    "spark": pyspark.__version__,
                    "python": sys.version.split()[0], "seed": args.seed,
                    "sizes": {"sf": wl.sf, "doc_sf": wl.doc_sf,
                              "ingest_days": wl.ingest_days,
                              "ingest_base": wl.ingest_base, "rows": manifest["rows"]}},
            "pass_s": walls,
            "phase_s": {"start": start_s, "setup": setup_s,
                        "window": t_checks - t0, "checks": time.perf_counter() - t_checks},
            "check_s": check_s,
            "setup_call_s": {c.name: round(s, 4) for c, s, _ in warm},
        }
        if args.trace:
            values = metrics.per_layer(layer_values, start_s, warm[0][1])
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
            detail["layer_self_s"] = metrics.self_time_table(tracer.spans, "p0")
        else:
            values, more = metrics.end_to_end(
                ctx, samples, walls, space, setup_s, peak_rss_mb, failed, attempted)
            detail.update(more)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            listed = json.load(f)["per_layer" if args.trace else "end_to_end"]
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                        for m in listed},
        }
    finally:
        if spark is not None:
            stop_session(spark)
        sampler.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    # the closing probe runs once the JVM has gone, as the opening one did
    steal, total = (b - a for a, b in zip(ticks_start, cpu_times()))
    detail["cpu_probe_s"] = [probe_start, cpu_probe()]
    detail["cpu_steal_share"] = steal / total if total else 0.0
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
