#!/usr/bin/env python3
"""Steady-state, layer-by-layer benchmark of the spatial-join + tiling engine.

Run from the repository root:

    python3 perfbench/run.py --workload flagship_dense --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 16   # every workload

One driver process, ``session.get_spark(cpus=4)`` with engine defaults.
A run is: set-up (session, then the inputs built and persisted three
times, reporting the median), one reference signature per seed (outside
every timer), one cold job, then warm jobs in a closed loop of one client
for ``--seconds``. The first few warm jobs (a count set per workload, so
that a slow host does not measure earlier in the JIT's warm-up than a
fast one) are warm-up: checked, not measured. Every job starts after a
full collection of the JVM heap (outside its timer), so its peak RSS is
its own. Every job's output signature is checked.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is a separate
run that alternates untraced and traced warm jobs, harvests executed-plan
metrics, runs the per-layer probes, writes its spans to
``.perfbench_work/trace/`` and prints the per-layer metrics. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

# name -> (unit, better, bound); the bound is the share of the parent's
# median by which the metric may worsen
END_TO_END = {
    "throughput": ("rows/s", "higher", 0.2),
    "first_run_s": ("s", "lower", 0.2),
    "setup_s": ("s", "lower", 0.25),
    "cpu_s_per_run": ("s", "lower", 0.2),
    "peak_rss_mb": ("MB", "lower", 0.2),
    "success_rate": ("ratio", "higher", 0.01),
}

ALL = ("flagship_dense", "raster_tiles")
FLAGSHIP = ("flagship_dense",)
TILES = ("raster_tiles",)
# name -> (unit, better, the end-to-end metric it should move, on which workloads)
PER_LAYER = {
    "session.start_s": ("s", "lower", "setup_s", ALL),
    "fixtures.build_s": ("s", "lower", "setup_s", ALL),
    "cells.assign_s": ("s", "lower", "throughput", FLAGSHIP),
    "geom.pip_kernel_s": ("s", "lower", "throughput", FLAGSHIP),
    "geom.pack_build_s": ("s", "lower", "setup_s", ALL),
    "joins.boundary_rows": ("count", "lower", "throughput, cpu_s_per_run", FLAGSHIP),
    "joins.boundary_bytes_sent": ("bytes", "lower", "throughput, cpu_s_per_run", FLAGSHIP),
    "joins.boundary_bytes_received": ("bytes", "lower", "throughput, cpu_s_per_run", FLAGSHIP),
    "joins.python_s": ("s", "lower", "throughput, cpu_s_per_run", FLAGSHIP),
    "joins.python_boot_s": ("s", "lower", "throughput, cpu_s_per_run", FLAGSHIP),
    "joins.passthrough_s": ("s", "lower", "throughput, cpu_s_per_run", FLAGSHIP),
    "joins.candidates": ("count", "lower", "throughput, cpu_s_per_run", FLAGSHIP),
    "joins.pairs": ("count", "higher", "throughput, cpu_s_per_run", FLAGSHIP),
    "joins.candidate_ratio": ("ratio", "lower", "throughput, cpu_s_per_run", FLAGSHIP),
    "joins.s2_alt_s": ("s", "lower", "throughput", FLAGSHIP),
    "s2.cover_s": ("s", "lower", "first_run_s", FLAGSHIP),
    "s2.cover_cells": ("count", "lower", "first_run_s", FLAGSHIP),
    "raster.fragments": ("count", "lower", "throughput", TILES),
    "raster.base_s": ("s", "lower", "throughput", TILES),
    "raster.overview_s": ("s", "lower", "throughput", TILES),
    "raster.shuffle_bytes": ("bytes", "lower", "throughput", TILES),
    "raster.write_s": ("s", "lower", "throughput", TILES),
    "raster.bytes_written": ("bytes", "lower", "throughput", TILES),
    "codecs.decode_us": ("us", "lower", "throughput", TILES),
    "codecs.encode_png_us": ("us", "lower", "throughput", TILES),
    "rasterize.cover_s": ("s", "lower", "throughput", TILES),
    "rasterize.fragments": ("count", "lower", "throughput", TILES),
    "rasterize.burn_s": ("s", "lower", "throughput", TILES),
    "rasterize.overlay_s": ("s", "lower", "throughput", TILES),
    "rasterize.shuffle_bytes": ("bytes", "lower", "throughput", TILES),
    "rasterize.pixel_tests": ("count", "lower", "throughput", TILES),
    "rasterize.kernel_us": ("us", "lower", "throughput", TILES),
    "proc.jvm_cpu_s": ("s", "lower", "cpu_s_per_run", ALL),
    "proc.pyworker_cpu_s": ("s", "lower", "cpu_s_per_run", ALL),
    "proc.driver_cpu_s": ("s", "lower", "cpu_s_per_run", ALL),
    "spark.jobs": ("count", "lower", "first_run_s", ALL),
    "spark.tasks": ("count", "lower", "first_run_s", ALL),
    "spark.spill_bytes": ("bytes", "lower", "peak_rss_mb", ALL),
    "trace.overhead": ("ratio", "lower", "none (traced / untraced job wall)", ALL),
}

N_BUILDS = 3      # set-up repetitions; setup_s reports the median
MIN_WARM = 3      # measured warm jobs per run even when --seconds is short


def control_unit_s() -> float:
    """No-Spark numpy+zlib unit wall (the definition ``bench.py`` records
    as ``control_unit_s``): host speed, to make drift visible."""
    import zlib

    import numpy as np

    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        rng = np.random.default_rng(0)
        for _i in range(30):
            a = (rng.random((256, 256, 3)) * 255).astype(np.uint8)
            zlib.compress(a.tobytes(), 3)
        best = min(best, time.perf_counter() - t0)
    return best


class Ctx:
    """What a workload needs from the run: session, seed, scratch paths,
    the tracer, and the output checks."""

    def __init__(self, spark, seed: int, workdir: str, tracer):
        self.spark, self.seed, self.workdir, self.tracer = spark, seed, workdir, tracer
        self.attempted = 0
        self.failed = 0

    def path(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def elapsed(self) -> float:
        return time.perf_counter() - T_PROCESS

    def check(self, what: str, got, expected) -> bool:
        self.attempted += 1
        ok = got == expected
        if not ok:
            self.failed += 1
            print(f"[perfbench] WRONG OUTPUT {what}: got {got!r}, expected {expected!r}",
                  file=sys.stderr)
        return ok


def session_conf(workdir: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        # keep the JVM's scratch files inside the run's work directory
        "spark.driver.extraJavaOptions":
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={workdir} -XX:-UsePerfData",
    }


def run_job(ctx, wl, inp, tree, trace: bool) -> dict:
    """One job: wall, CPU by process class, signature; never raises."""
    from probes import cpu_delta, host_ticks

    rec = {"walls": {}, "plans": {}, "traced": trace}
    tracer_on = ctx.tracer.enabled
    ctx.tracer.enabled = trace
    # start every job from a collected heap, so the job's peak RSS measures
    # the job rather than how far the JVM's heap happened to grow before it
    ctx.spark.sparkContext._jvm.System.gc()
    tree.reset_window()
    cpu0, ticks0 = tree.cpu(), host_ticks()
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span("job"):
            rec["sig"] = wl.job(ctx, inp, rec)
    except Exception:  # a failed job is counted, and the loop goes on
        traceback.print_exc()
        rec["sig"] = None
        rec["error"] = True
    rec["wall"] = time.perf_counter() - t0
    rec["cpu"] = cpu_delta(cpu0, tree.cpu())
    ticks1 = host_ticks()
    rec["steal"] = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)
    tree.sample_rss()
    rec["peak_rss"] = tree.window_peak
    print(f"[perfbench] job traced={int(trace)} wall={rec['wall']:.3f}s "
          f"cpu={ {k: round(v, 2) for k, v in rec['cpu'].items()} } peak_rss_mb={rec['peak_rss'] / 2**20:.0f} "
          f"procs={len(tree.descendants()) + 1} steal={rec['steal']:.3f}", file=sys.stderr)
    ctx.tracer.enabled = tracer_on
    return rec


def measure(wl_name: str, seed: int, seconds: float, trace: bool, workdir: str,
            scale: float = 1.0, reference=None) -> dict:
    """Run one workload; returns the result record printed by :func:`main`.

    ``reference`` overrides the per-seed reference signature (the
    self-test passes a wrong one to prove that mismatches are counted)."""
    from gdal_scripts_spark.session import get_spark
    from probes import ProcTree, Tracer
    from workloads import WORKLOADS, median, timed

    wl = WORKLOADS[wl_name](scale)
    tracer = Tracer(f"{wl_name}-seed{seed}-pid{os.getpid()}", enabled=trace)
    tree = ProcTree().start()
    try:
        with tracer.span("session.get_spark"):
            spark = get_spark(app_name="perfbench", cpus=4, extra_conf=session_conf(workdir))
            session_s = time.perf_counter() - T_PROCESS
        ctx = Ctx(spark, seed, workdir, tracer)

        builds = []
        for i in range(N_BUILDS):
            with tracer.span("setup", rep=i):
                t, inp = timed(lambda: wl.build(ctx))
            builds.append(t)
            if i < N_BUILDS - 1:
                wl.release(inp)

        with tracer.span("reference"):
            t_ref, ref = timed(lambda: reference if reference is not None else wl.reference(ctx, inp))

        ctrl_pre = control_unit_s()
        spark.sparkContext.setJobGroup("cold", "cold job")
        cold = run_job(ctx, wl, inp, tree, trace)
        spark.sparkContext.setJobGroup("warm", "warm jobs")
        if cold["sig"] is not None:
            # parts without an independent oracle (None) are pinned by the cold job
            ref = tuple(c if r is None else r for r, c in zip(ref, cold["sig"]))
        ctx.check("cold job", cold["sig"], ref)

        # the first wl.warmup_jobs warm jobs let the JIT settle; they are
        # checked but left out of the metrics
        warm = []
        t0 = time.perf_counter()
        deadline = t0 + seconds

        def measured(traced: bool) -> list:
            return [r for r in warm if r["measured"] and r["traced"] == traced]

        def more() -> bool:
            # past the window, go on until MIN_WARM jobs of each kind are
            # measured, but never beyond twice the window (a slowed host must
            # not blow the run) unless none is measured yet
            now = time.perf_counter()
            have = min(len(measured(False)), len(measured(True)) if trace else MIN_WARM)
            return now < deadline or have == 0 or (have < MIN_WARM and now < t0 + 2 * seconds)

        while more():
            r = run_job(ctx, wl, inp, tree, trace and len(warm) % 2 == 1)
            r["measured"] = len(warm) >= wl.warmup_jobs
            ctx.check(f"warm job {len(warm)}", r["sig"], ref)
            warm.append(r)
        ctrl_post = control_unit_s()

        plain, traced = ([r for r in measured(t) if "error" not in r] for t in (False, True))
        layers = _layers(ctx, wl, inp, plain, traced) if trace else {}
        job_s = median([r["wall"] for r in plain])
        metrics = {
            "throughput": inp["rows"] / job_s if job_s else 0.0,
            "first_run_s": cold["wall"],
            "setup_s": session_s + median(builds),
            # a mean, not a median: whether a job triggers a garbage
            # collection moves its CPU by ~10%, and the mean smooths that out
            "cpu_s_per_run": sum(sum(r["cpu"].values()) for r in plain) / len(plain) if plain else 0.0,
            "peak_rss_mb": median([r["peak_rss"] for r in plain]) / 2**20,
            "success_rate": 1.0 - ctx.failed / ctx.attempted,
        }
        context = {
            "workload": wl_name, "seed": seed, "rows": inp["rows"], "unit": wl.unit,
            "supersedes": wl.supersedes, "control_unit_s_pre": ctrl_pre,
            "control_unit_s_post": ctrl_post, "warm_jobs": len(warm),
            "measured_jobs": len(plain) + len(traced),
            "warm_walls_s": [r["wall"] for r in warm],
            "error_rate": ctx.failed / ctx.attempted,
            "session_s": session_s, "builds_s": builds, "reference_s": t_ref,
            "peak_rss_run_mb": tree.peak_rss / 2**20,
            "steal_share": median([r["steal"] for r in plain + traced]),
        }
        if trace:
            context["end_to_end"] = metrics
            context["per_layer"] = {k: {"value": v, "moves": f"{PER_LAYER[k][2]} on {', '.join(PER_LAYER[k][3])}"}
                                    for k, v in layers.items()}
            tracer.write(os.path.join(ROOT, ".perfbench_work", "trace",
                                      f"{wl_name}-seed{seed}.json"), context)
        wl.release(inp)
        return {"metrics": metrics, "layers": layers, "context": context,
                "attempted": ctx.attempted, "failed": ctx.failed}
    finally:
        tree.stop()


def _layers(ctx, wl, inp, plain, traced) -> dict:
    """The per-layer metrics of a traced run; 0 for a layer the workload
    does not run."""
    from workloads import median

    sc = ctx.spark.sparkContext
    st = sc.statusTracker()
    jobs = list(st.getJobIdsForGroup("cold"))
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else ()):
            si = st.getStageInfo(s)
            tasks += si.numTasks if si else 0
    session_s = next(s["end"] - s["start"] for s in ctx.tracer.spans if s["name"] == "session.get_spark")
    fixtures_s = median([s["end"] - s["start"] for s in ctx.tracer.spans
                         if s["name"].startswith("fixtures.")])
    pack_s = median([s["end"] - s["start"] for s in ctx.tracer.spans if s["name"] == "geom.pack_build"])
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update({
        "session.start_s": session_s,
        "fixtures.build_s": fixtures_s,
        "geom.pack_build_s": pack_s,
        "proc.jvm_cpu_s": median([r["cpu"]["jvm"] for r in plain + traced]),
        "proc.pyworker_cpu_s": median([r["cpu"]["pyworker"] for r in plain + traced]),
        "proc.driver_cpu_s": median([r["cpu"]["driver"] for r in plain + traced]),
        "spark.jobs": len(jobs),
        "spark.tasks": tasks,
        "spark.spill_bytes": median([sum(p.get("spill_bytes", 0) for p in r["plans"].values())
                                     for r in traced]),
        "trace.overhead": (median([r["wall"] for r in traced]) / median([r["wall"] for r in plain])
                           if plain and traced else 0.0),
    })
    if traced:
        with ctx.tracer.span("layers"):
            out.update(wl.layers(ctx, inp, traced))
    return out


def stop_spark() -> None:
    """Stop the session, close the JVM gateway and wait for every process
    this run started to end."""
    from pyspark import SparkContext

    from probes import ProcTree

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    tree = ProcTree()
    deadline = time.monotonic() + 20
    while tree.descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in tree.descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in tree.descendants():
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def print_result(res: dict, trace: bool, unit_of: dict) -> None:
    c = res["context"]
    print(f"perfbench workload={c['workload']} seed={c['seed']} trace={int(trace)} "
          f"rows={c['rows']} ({c['unit']}) warm_jobs={c['warm_jobs']} measured={c['measured_jobs']} supersedes: {c['supersedes'] or '-'}")
    print(f"  control_unit_s pre={c['control_unit_s_pre']:.4f} post={c['control_unit_s_post']:.4f}")
    print(f"  phases: session {c['session_s']:.2f} s, builds {', '.join(f'{b:.2f}' for b in c['builds_s'])} s, "
          f"reference {c['reference_s']:.2f} s, warm jobs {', '.join(f'{w:.2f}' for w in c['warm_walls_s'])} s")
    print(f"  peak_rss over the whole run: {c['peak_rss_run_mb']:.0f} MB; "
          f"host CPU stolen by the hypervisor during measured jobs: {c['steal_share']:.1%}")
    for k, v in res["metrics"].items():
        u = f"{c['unit']}/s" if k == "throughput" else END_TO_END[k][0]
        print(f"  {k:<16} {v:>16.4f} {u}")
    print(f"  {'error_rate':<16} {c['error_rate']:>16.4f} ratio ({res['failed']}/{res['attempted']} checks failed)")
    for k, v in res["layers"].items():
        unit, _b, moves, wls = PER_LAYER[k]
        print(f"  {k:<30} {v:>16.4f} {unit:<6} -> {moves} on {', '.join(wls)}")
    shown = res["layers"] if trace else res["metrics"]
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(v), "unit": unit_of[k]} for k, v in shown.items()},
    }))


def prepare_env() -> str:
    """Make this process's work directory inside the checkout and point
    the JVM, the Python workers and temporary files at it."""
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["TMPDIR"] = work
    return work


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=ALL + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        # every workload in a process of its own, one after the other
        return max(subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", wl, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)]).returncode for wl in ALL)

    sys.path[:0] = [ROOT, HERE]
    try:
        import gdal_scripts_spark.session  # noqa: F401
    except ImportError as e:
        print(f"[perfbench] cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = prepare_env()
    # a terminated run still stops its JVM and workers (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        res = measure(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        t = time.perf_counter()
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        print(f"[perfbench] stopped in {time.perf_counter() - t:.2f}s, "
              f"process wall {time.perf_counter() - T_PROCESS:.1f}s", file=sys.stderr)
    units = {k: v[0] for k, v in END_TO_END.items()} | {k: v[0] for k, v in PER_LAYER.items()}
    print_result(res, bool(args.trace), units)
    return 0


if __name__ == "__main__":
    sys.exit(main())
