"""Seeded end-to-end benchmark of the inputosm_spark engine.

    python3 perfbench/run.py --workload spatial_join --seed 1 --seconds 5 --trace 0

One driver process is a single closed-loop client at local[nproc]:
each step starts when the previous one ends. A run

1. starts the session (launching the JVM), generates or reuses the
   seeded inputs, registers them and runs one untimed warm-up pass,
   which is also the check pass: it sends each step's frame to the
   no-op sink and collects a digest of the rows the sink consumed. The
   first pass of a session pays about 20 s of one-time JIT and
   Python-worker start-up. ``setup_s`` is the time from process start
   to the end of that pass, less the input generation;
2. repeats timed passes over the workload's steps for ``--seconds``
   (at least one) and reports the median pass as ``wall_s``;
3. compares the digests with independent oracles.

A separate check pass after the timed ones would check the state the
timed passes leave, but costs a pass: 48 runs of about a minute is
what the benchmark's run budget holds.

One set-up per run: a set-up is a fresh process, because a session
restarted inside one JVM leaves the engine's module-level pandas UDFs
bound to the stopped context.

The last stdout line is the JSON result. With ``--trace 1`` timed
passes alternate traced and untraced, at least one of each; the traced
ones record spans and read Spark's status stores per step, and the
result holds the per-layer metrics of BENCHMARK.json instead of the
end-to-end ones.
Run context, self times and per-step figures go to the lines before it
and to ``.perfbench/results``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import subprocess
import sys
import time
import traceback
from statistics import geometric_mean, median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")

#: per-layer metric -> the end-to-end metric it should move, and where
LAYER_MOVES = {
    "session.": "setup_s, all workloads",
    "driver.": "query_geomean_s and wall_s on query_mix; little on spatial_join",
    "spark.": "docs_per_sec and write_amp on spatial_join",
    "python.": "docs_per_sec on spatial_join (refine, polyfill, raster); "
               "the similarity family on query_mix",
    "cells.": "docs_per_sec, spatial_join",
    "spatial.": "docs_per_sec on spatial_join; the spatial family on query_mix",
    "skew.": "docs_per_sec, spatial_join",
    "cache.": "peak_rss_mb and pass-to-pass wall_s drift, all workloads",
    "family.": "query_geomean_s, query_mix",
    "query.": "query_geomean_s, query_mix",
    "trace.": "none: the cost of tracing itself",
}
#: per-layer metrics that are one step's median wall
STEP_WALL = {
    "cells.assign_s": "cell_assign",
    "spatial.pip_join_s": "pip_join",
    "skew.salted_count_s": "salted_count",
    "spatial.tile_counts_s": "tile_counts",
    "spatial.raster_roundtrip_s": "raster_roundtrip",
    "spatial.knn_join_s": "knn_join",
}
#: per-layer metrics only spatial_join produces; 0 on query_mix
WORKLOAD_ONLY = ("spatial.pip_refine_keep", "spatial.knn_rounds",
                 "spatial.knn_cand_per_result")
#: per-pass sums of the per-step status-store figures
SUMMED = ("driver.jobs", "driver.only_s", "spark.stages", "spark.tasks", "spark.exchanges",
          "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
          "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s", "python.run_s",
          "python.boot_s", "python.init_s", "python.sent_mb", "python.recv_mb",
          "python.rows_out")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def git_commit() -> str | None:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


class Run:
    """One benchmark run: its passes, failures, spans and probe figures."""

    def __init__(self, workload, engine, tracer):
        self.wl = workload
        self.engine = engine
        self.tr = tracer
        self.attempted = 0
        self.failures: list[dict] = []
        self.traced_passes: list[dict] = []
        self.step_walls: dict[str, list[float]] = {}
        self.disk_bytes: list[int] = []
        self.digests: dict = {}
        self.probe = None

    def one_pass(self, label: str, mode: str = "timed") -> float:
        """Run every step once and return the pass wall (the sum of the
        step walls). Frames go to the no-op sink; with ``mode`` ``check``
        the run then also collects a digest of each for the checks, and
        ``traced`` passes record spans and status-store figures."""
        from tracing import SparkProbe
        from workloads import noop

        sc = self.engine.spark.sparkContext
        traced = mode == "traced"
        if self.probe is None:
            self.probe = SparkProbe(self.engine.spark)
        self.tr.enabled = traced
        rdds0 = sc._jsc.getPersistentRDDs().size() if traced else 0
        pass_group = f"{self.tr.run_id}:{label}"
        if not traced:
            sc.setJobGroup(pass_group, label)
        steps: dict[str, dict] = {}
        first_span = len(self.tr.spans)
        wall = 0.0
        t_pass = time.time()
        with self.tr.span(f"pass:{label}"):
            for name, fn in self.wl.steps():
                group = f"{pass_group}:{name}"
                if traced:
                    sc.setJobGroup(group, name)
                t_wall = time.time()
                t0 = time.perf_counter()
                try:
                    with self.tr.span(f"step:{name}"):
                        df = fn(self.tr)
                        if df is not None and mode == "check":
                            self.check_step(name, df)
                        elif df is not None:
                            noop(df, self.tr)
                except Exception as e:  # an engine failure is a result, not a crash
                    self.failures.append({"op": f"{label}:{name}",
                                          "error": f"{type(e).__name__}: {e}"[:500]})
                    traceback.print_exc(file=sys.stderr)
                dt = time.perf_counter() - t0
                wall += dt
                self.attempted += 1
                if mode in ("timed", "traced"):
                    self.step_walls.setdefault(name, []).append(dt)
                if traced:
                    sc._jsc.clearJobGroup()
                    steps[name] = {"wall_s": dt, **self.probe.group(group, t_wall, t_wall + dt)}
        if not traced:
            sc._jsc.clearJobGroup()
        self.wl.after_pass()
        self.tr.enabled = False
        if mode == "timed":
            # bytes the pass wrote to disk: shuffle files and spill
            g = self.probe.group(pass_group, t_pass, time.time(), plans=False)
            self.disk_bytes.append(round(
                (g["spark.shuffle_write_mb"] + g["spark.spill_mb"]) * 2**20))
        if traced:
            self.traced_passes.append({
                "wall_s": wall, "steps": steps,
                "persisted_rdds": sc._jsc.getPersistentRDDs().size() - rdds0,
                "spans": [s for s in self.tr.spans[first_span:]
                          if s["name"].startswith("call:")],
            })
        return wall

    def check_step(self, name: str, df) -> None:
        """Send a step's frame to the no-op sink, as a timed pass does, and
        take its digest from the rows the sink consumed: the frame is
        cached for the digest unless the step cached it itself."""
        from workloads import noop

        owned = not df.is_cached
        if owned:
            df = df.cache()
        noop(df, self.tr)
        self.digests[name] = self.wl.digest(name, df)
        if owned:
            df.unpersist()

    def check(self) -> list[dict]:
        """Run the checks on the digests of the check pass."""
        results = []
        for name, fn in self.wl.checks(self.digests):
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                why = fn()
            except Exception as e:
                why = f"{type(e).__name__}: {e}"[:500]
                traceback.print_exc(file=sys.stderr)
            results.append({"check": name, "ok": why is None, "why": why,
                            "seconds": time.perf_counter() - t0})
            if why is not None:
                self.failures.append({"op": f"check:{name}", "error": why})
        return results


def end_to_end(wl, setup_s: float, walls: list[float], step_walls: dict[str, list[float]],
               disk_bytes: list[int], peak_rss_mb: float) -> dict[str, float]:
    wall = float(median(walls))
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "docs_per_sec": wl.n_docs / wall,
        "query_geomean_s": float(geometric_mean([median(v) for v in step_walls.values()])),
        "write_amp": float(median(disk_bytes)) / wl.input_bytes,
        "peak_rss_mb": peak_rss_mb,
    }


def layer_metrics(run: Run, untraced: list[float], traced: list[float],
                  session_start_s: float) -> dict[str, float]:
    """Per-layer metrics from the traced passes; 0 for a layer the
    workload does not exercise."""
    from workloads import QueryMix

    tp = run.traced_passes
    out: dict[str, float] = dict.fromkeys(WORKLOAD_ONLY, 0.0)

    def med(values) -> float:
        vals = [v for v in values if v is not None]
        return float(median(vals)) if vals else 0.0

    def steps(p):
        return p["steps"].values()

    out["session.start_s"] = session_start_s
    out["trace.overhead_s"] = float(median(traced) - median(untraced))
    for key in SUMMED:
        out[key] = med(sum(s.get(key, 0) for s in steps(p)) for p in tp)
    out["driver.build_s"] = med(sum(s["end"] - s["start"] for s in p["spans"]) for p in tp)
    out["spark.core_util"] = med(
        sum(s.get("spark.task_run_s", 0) for s in steps(p)) / (p["wall_s"] * run.engine.cpus)
        for p in tp)
    # the task skew of the pass's heaviest step
    out["spark.task_skew"] = med(
        max(steps(p), key=lambda s: s.get("spark.task_run_s", 0)).get("spark.task_skew")
        for p in tp)
    out["cache.persisted_rdds"] = med(p["persisted_rdds"] for p in tp)
    for key, step in STEP_WALL.items():
        out[key] = med(p["steps"].get(step, {}).get("wall_s") for p in tp)
    for family, names in QueryMix.FAMILIES.items():
        out[f"family.{family}_s"] = med(
            sum(p["steps"][f"query.{q}"]["wall_s"] for q in names
                if f"query.{q}" in p["steps"]) or None
            for p in tp)
    for q in QueryMix.QUERIES:
        out[f"query.{q}_s"] = med(p["steps"].get(f"query.{q}", {}).get("wall_s") for p in tp)
    out["skew.task_skew"] = med(
        p["steps"].get("salted_count", {}).get("spark.task_skew") for p in tp)
    if run.wl is not None:
        figures = [run.wl.plan_figures(p["steps"]) for p in tp]
        for key in figures[0] if figures else ():
            out[key] = med(f[key] for f in figures)
    return out


def parse_args(argv: list[str] | None):
    ap = argparse.ArgumentParser(description="inputosm_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("inputosm_spark") is None:
        print(f"perfbench: the engine is not importable from {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    return measure(args, t_start)


def measure(args, t_start: float) -> int:
    """Set up (session start, input registration, the warm-up and check
    pass), run the timed passes, check the outputs and print the result."""
    import gen
    from session import Engine, RssSampler
    from tracing import Tracer
    from workloads import WORKLOADS

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    context = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "trace": args.trace, "seconds": args.seconds, "loadavg_start": os.getloadavg(),
        "git_commit": git_commit(), "client": "one closed-loop driver process",
    }
    ticks0 = cpu_ticks()
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    os.makedirs(gen.CACHE, exist_ok=True)
    engine = Engine()
    context.update(nproc=engine.cpus, master=f"local[{engine.cpus}]",
                   worker_pythonpath=engine.worker_pythonpath)
    tracer = Tracer(run_id)
    try:
        with RssSampler() as rss:
            session_start = engine.start()
            context.update(engine.versions())
            t0 = time.monotonic()
            if args.workload == "spatial_join":
                in_dir, manifest = gen.spatial_inputs(args.seed)
            else:
                in_dir, manifest = gen.query_inputs(args.seed)
            input_s = time.monotonic() - t0
            context["inputs"] = in_dir
            wl = WORKLOADS[args.workload](in_dir, manifest)
            run = Run(wl, engine, tracer)
            wl.register(engine.spark)
            warmup = run.one_pass("check", "check")
            # from process start until timing can begin, less input generation
            setup_s = time.perf_counter() - t_start - input_s

            # peak memory of the timed passes: the warm-up adds one-time
            # worker start-up and the digests' collects
            rss.reset()
            untraced, traced = [], []
            deadline = time.monotonic() + args.seconds
            i = 0
            while True:
                if args.trace and i % 2 == 0:
                    traced.append(run.one_pass(f"p{i}", "traced"))
                else:
                    untraced.append(run.one_pass(f"p{i}"))
                i += 1
                if untraced and time.monotonic() >= deadline:
                    break
            t0 = time.monotonic()
            checks = run.check()
            context["checks_s"] = time.monotonic() - t0
        context["loadavg_end"] = os.getloadavg()
        # CPU time the hypervisor gave to other guests: runs on a shared
        # host drift with it
        ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
        context["steal_frac"] = ticks[7] / sum(ticks)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        engine.close()

    failed = len(run.failures)
    context.update(setup_s=setup_s, input_s=input_s, session_start_s=session_start,
                   warmup_wall_s=warmup, samples=len(untraced), pass_walls_s=untraced,
                   step_walls_s=run.step_walls, disk_bytes=run.disk_bytes,
                   traced_samples=len(traced), traced_walls_s=traced,
                   fail_frac=failed / run.attempted, checks=checks, failures=run.failures)
    if args.trace:
        values = layer_metrics(run, untraced, traced, session_start)
        wanted = spec()["per_layer"]
        with open(os.path.join(OUT, "results", f"{run_id}.spans.json"), "w") as f:
            json.dump(tracer.spans, f)
        print(json.dumps({"self_time": tracer.self_time_table()}))
        print(json.dumps({"layer_moves": LAYER_MOVES}))
    else:
        values = end_to_end(wl, setup_s, untraced, run.step_walls, run.disk_bytes,
                            rss.peak_mb)
        wanted = spec()["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    with open(os.path.join(OUT, "results", f"{run_id}.json"), "w") as f:
        json.dump({"context": context, "traced_passes": run.traced_passes,
                   "metrics": metrics}, f, default=str)
    print(json.dumps({"context": {k: v for k, v in context.items() if k != "checks"}},
                     default=str))
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
