"""Benchmark entry point.

    python3 perfbench/run.py --workload {backfill,tail,cdc_out} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the repository.  One process runs one
workload: it generates (or reuses) the seeded input, starts a Spark
session and warms it up over a disjoint input (``setup_s``), runs the
timed phase with tracing off, and checks the output untimed.  With
``--trace 1`` it then runs the timed phase once more with spans installed,
and prints the per-layer metrics and the tracing overhead (traced minus
untraced) instead of the end-to-end metrics.

Each workload runs a fixed number of units (batches, windows or waves), so
a run's work does not depend on ``--seconds``; the argument is accepted
because the benchmark's command line carries it.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import ctypes
import dataclasses
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END_UNITS = {
    "events_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}


class Ctx:
    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        self.spark = None

    def ns(self, name: str) -> str:
        return os.path.join(self.run_dir, name)


T_START = time.perf_counter()


def log(msg: str) -> None:
    t = time.perf_counter() - T_START
    print(f"[perfbench {t:6.1f}s] {msg}", file=sys.stderr, flush=True)


#: prctl option that makes orphaned descendants children of this process
PR_SET_CHILD_SUBREAPER = 36


def _become_subreaper() -> None:
    """Make every process this run starts, however deep (the JVM's helper
    processes, Python workers that outlive the JVM), a child of this
    process once its parent is gone, so `_reap_children` can stop it and
    wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the fields after the parenthesised command: state, ppid, ...
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(d))
    return out


def _reap_children(grace_s: float = 20.0) -> None:
    """Stop every remaining child (SIGTERM, then SIGKILL after grace_s) and
    wait until none is left, zombies included."""
    deadline = time.monotonic() + grace_s
    while True:
        kids = _children()
        if not kids:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break


def _on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument(
        "--seconds",
        type=int,
        required=True,
        help="accepted, not used: each workload runs a fixed number of units",
    )
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale",
        type=float,
        default=1.0,
        help="shrink events per unit and the warm-up (smoke tests only)",
    )
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import scylla_cdc_source_connector_spark  # noqa: F401
    except ImportError as e:
        print(f"engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from cdcbench import session
    from cdcbench import trace as tr
    from cdcbench.inputs import materialize_all
    from cdcbench.workloads import LAYER_METRICS, WORKLOADS, install_spans

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work")
    cuts = wl.cuts(args.scale)

    # the generator runs in its own process, before the JVM starts, so its
    # memory never counts toward the driver's peak RSS
    t_gen = time.perf_counter()
    gen = subprocess.run(
        [
            sys.executable,
            "-m",
            "cdcbench.inputs",
            work,
            str(args.seed),
            json.dumps({kind: dataclasses.asdict(c) for kind, c in cuts.items()}),
        ],
        env={**os.environ, "PYTHONPATH": os.pathsep.join([HERE, ROOT])},
    )
    log(f"inputs ready in {time.perf_counter() - t_gen:.1f} s")
    if gen.returncode != 0:
        print("input generation failed", file=sys.stderr)
        return 1
    manifests = materialize_all(work, args.seed, cuts)
    timed_in = manifests["timed"]

    ctx = Ctx(os.path.join(work, f"run-{os.getpid()}"))
    shutil.rmtree(ctx.run_dir, ignore_errors=True)
    os.makedirs(ctx.run_dir)
    try:
        t0 = time.perf_counter()
        ctx.spark = session.start(ctx.run_dir)
        log(f"session up in {time.perf_counter() - t0:.1f} s")
        warm = wl.warmup(ctx, manifests["warm"])
        log(f"warm-up samples (ms): {[round(x) for x in warm.latencies_ms]}")
        setup_s = time.perf_counter() - t0
        log(f"setup done in {setup_s:.1f} s")

        if args.trace:
            # host.control_ms is a per-layer metric: only traced runs pay
            # for the probe, still just before the timed phase
            control = session.control_ms(ctx.spark)
            log(f"host control job: {control:.0f} ms")
        phase = wl.phase(ctx, timed_in, ctx.ns("timed"))
        e2e = wl.end_to_end(phase, timed_in)
        e2e["setup_s"] = setup_s + phase.prep_s
        e2e["peak_rss_mb"] = session.peak_rss_mb(ctx.spark)
        phases = [phase]
        log(f"timed phase: {phase.wall_s:.1f} s, {e2e}")
        log(f"timed samples (ms): {[round(x) for x in phase.latencies_ms]}")

        if args.trace:
            tracer = tr.Tracer()
            install_spans(tracer)
            try:
                traced = wl.phase(ctx, timed_in, ctx.ns("traced"), tracer)
            finally:
                tracer.restore()
            phases.append(traced)
            log(f"traced phase: {traced.wall_s:.1f} s")
            jobs = tr.jobs_after(ctx.spark, traced.first_job)
            metrics = wl.layers(ctx, traced, timed_in, jobs)
            tr.dump(
                os.path.join(work, "traces", f"{wl.name}-seed{args.seed}.json"),
                tracer,
                batches=traced.progress,
                jobs=jobs,
            )
            t_e2e = wl.end_to_end(traced, timed_in)
            metrics["host.control_ms"] = control
            metrics["trace.overhead_latency_p50_ms"] = (
                t_e2e["latency_p50_ms"] - e2e["latency_p50_ms"]
            )
            metrics["trace.overhead_events_per_s"] = (
                e2e["events_per_s"] - t_e2e["events_per_s"]
            )
            units = dict(LAYER_METRICS)
        else:
            metrics = e2e
            units = END_TO_END_UNITS

        log("per-layer numbers done" if args.trace else "checking output")
        attempted = failed = 0
        for ph in phases:
            a, f = wl.check(ctx, ph, timed_in)
            attempted += a
            failed += f
        log(f"output check: {failed} of {attempted} failed")
    finally:
        if ctx.spark is not None:
            session.stop(ctx.spark)
        shutil.rmtree(ctx.run_dir, ignore_errors=True)
        log("session stopped")

    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    _become_subreaper()
    signal.signal(signal.SIGTERM, _on_sigterm)
    try:
        code = main()
    finally:
        _reap_children()
    sys.exit(code)
