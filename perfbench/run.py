#!/usr/bin/env python3
"""hexscape-spark benchmark: one workload in one ``local[<cores>]`` Spark
process (shuffle partitions = cores, one client, closed loop).

    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 5 --trace 0

Workloads (``workloads.py``): ``query_suite`` and ``tile_rollup``.  A run
generates missing seeded inputs in a child process, warms up, then runs
whole passes until ``--seconds`` have passed; every op's output is
checked.  The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; stderr gets a line with the box
noise of each measured op and pass.

End-to-end metrics (``--trace 0``, both workloads):

* ``setup_s``: process start to the first timed op (session start, input
  loading, warm-up), less the time spent generating missing inputs.
* ``items_per_s``: items per pass / median pass wall time; a
  ``query_suite`` pass is the 22 queries (items: queries), a
  ``tile_rollup`` pass is one op (items: pages).

``--trace 1`` also writes the Spark event log (uncompressed, inside the
run's scratch directory), calls single layers alone after the measured
window (``tile_rollup`` runs end with the ``extract_landcover`` probe set)
and prints the per-layer metrics instead; layers a workload does not
exercise read 0.  Spans, per-op Spark counts, box noise and the event-log
fold are written to ``.bench_cache/traces/``.  All run-time files stay under
``.bench_cache/`` in the checkout.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
_MAX_TRACES = 20
# a warm pass this much faster than the last: not settled.  Warm
# tile_rollup passes differ by up to ~5% from noise alone.
WARM_SETTLED = 0.10
WORKLOAD_NAMES = ("query_suite", "tile_rollup")

END_TO_END = ("setup_s", "items_per_s")
UNITS = {"setup_s": "s", "items_per_s": "1/s"}


def per_layer_names() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in output order."""
    from workloads import LAYERS, QUERY_LAYER
    out = [("spark.jobs", "count", "lower"), ("spark.stages", "count", "lower"),
           ("spark.tasks", "count", "lower"),
           ("exec.run_s", "s", "lower"), ("exec.cpu_s", "s", "lower"),
           ("exec.cpu_ratio", "ratio", "higher"), ("task.wait_s", "s", "lower"),
           ("shuffle.write_bytes", "B", "lower"),
           ("shuffle.read_bytes", "B", "lower"), ("spill.bytes", "B", "lower"),
           ("python.bytes_to_workers", "B", "lower"),
           ("python.bytes_from_workers", "B", "lower"),
           ("trace.op_p50_s", "s", "lower"), ("trace.overhead_s", "s", "lower"),
           ("op_p90_s", "s", "lower"),
           ("peak_rss_mb", "MB", "lower"),
           ("box.external_cores", "cores", "lower"),
           ("box.steal_cores", "cores", "lower"),
           ("entry.build_s", "s", "lower"), ("entry.action_s", "s", "lower")]
    for q in QUERY_LAYER:
        out += [(f"query.{q}.s", "s", "lower"), (f"query.{q}.jobs", "count", "lower")]
    out += [(f"layer.{m}.s", "s", "lower") for m in LAYERS]
    out += [("scan.s", "s", "lower"), ("hexgrid.assign_s", "s", "lower"),
            ("rollup.agg_s", "s", "lower"),
            ("pipeline.jobs", "count", "lower"), ("pipeline.stages", "count", "lower"),
            ("pipeline.build_s", "s", "lower"), ("pipeline.action_s", "s", "lower"),
            ("pipeline.exec.cpu_s", "s", "lower"),
            ("pipeline.python.bytes_to_workers", "B", "lower"),
            ("pipeline.python.bytes_from_workers", "B", "lower"),
            ("cover.polygon_cell_cover_s", "s", "lower"),
            ("dissolve.dissolve_s", "s", "lower"),
            ("checkpoint.write_s", "s", "lower"), ("checkpoint.bytes", "B", "lower"),
            ("checkpoint.rows", "count", "lower")]
    return out


class Context:
    """Run-wide settings and the tracer, passed to the workload."""

    def __init__(self, args, cache: str, scratch: str) -> None:
        import probe
        self.seed = args.seed
        self.cores = len(os.sched_getaffinity(0))
        self.cache = cache
        self.scratch = scratch
        self.tracer = probe.Tracer()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _program_present() -> bool:
    return all(os.path.exists(os.path.join(ROOT, f)) for f in
               ("hexscape_spark/__init__.py", "__spark_entry__.py", "bench.py"))


def _isolate(scratch: str) -> None:
    """Point every temp/spill location of the driver, JVM and Python
    workers into the run's scratch directory, and put the checkout on the
    workers' import path (pandas UDFs import ``hexscape_spark``)."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    # both JVMs spark-submit starts; UsePerfData would write /tmp/hsperfdata_*
    java = os.environ.get("JAVA_TOOL_OPTIONS")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
        + (" " + java if java else ""))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path[:0] = [ROOT, HERE]


def _session(ctx, trace: bool):
    from hexscape_spark.session import get_spark
    conf = {
        "spark.local.dir": os.path.join(ctx.scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(ctx.scratch, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(ctx.scratch, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return get_spark(app="perfbench", master=f"local[{ctx.cores}]",
                     shuffle_partitions=ctx.cores, **conf)


def _ensure_inputs(ctx, kinds) -> float:
    """Generate missing inputs in a separate process, so the measured
    process neither pays for nor is shaped by generating them; return the
    seconds that took."""
    import inputs
    missing = [k for k in kinds if not inputs.ready(ctx.cache, k, ctx.seed)]
    t = time.perf_counter()
    for kind in missing:
        subprocess.run([sys.executable, os.path.join(HERE, "inputs.py"),
                        ctx.cache, kind, str(ctx.seed), str(ctx.cores)],
                       check=True)
    return time.perf_counter() - t if missing else 0.0


class Runner:
    def __init__(self, wl, ctx, spark) -> None:
        import bench
        self.wl = wl
        self.ctx = ctx
        self.sc = spark.sparkContext
        self.meter = bench._PassLoadMeter()
        self.pass_meter = bench._PassLoadMeter()
        self.ops: list[dict] = []
        self.failures: list[dict] = []

    def execute(self, name: str, phase: str, wl=None) -> dict:
        import probe
        wl = wl or self.wl
        tr = self.ctx.tracer
        group = f"{wl.name}/{len(self.ops)}/{name}"
        self.sc.setJobGroup(group, name)
        self.meter.start()
        result, err = None, None
        with tr.span("op", op=name, group=group, phase=phase) as op:
            try:
                result = wl.run_op(name, op)
            except Exception:
                err = traceback.format_exc()
        op["box.external_cores"] = self.meter.stop()
        op["box.steal_cores"] = self.meter.steal_cores
        op["seconds"] = tr.seconds(op)
        op.update({f"spark.{k}": v for k, v in
                   probe.spark_counts(self.sc, group).items()})
        if err is None:
            self.sc.setJobGroup(group + "/check", "check")
            try:
                ok, detail = wl.check(name, result)
            except Exception:
                ok, detail = False, traceback.format_exc()
        else:
            ok, detail = False, err
        op["ok"] = ok
        if not ok:
            self.failures.append({"op": name, "phase": phase,
                                  "detail": str(detail)[-2000:]})
        self.ops.append(op)
        return op

    def warm(self) -> list[float]:
        """Warm-up passes: at least ``wl.warm_passes``, then more while a
        pass still ran ``WARM_SETTLED`` faster than the one before it, up to
        ``wl.max_warm_passes``.  Returns the warm pass times."""
        wl = self.wl
        times: list[float] = []
        while len(times) < wl.max_warm_passes:
            if (len(times) >= wl.warm_passes
                    and times[-1] >= (1 - WARM_SETTLED) * times[-2]):
                break
            t = time.perf_counter()
            for name in wl.pass_order(-1 - len(times)):
                self.execute(name, "warm")
            times.append(time.perf_counter() - t)
        return times

    def measure(self, seconds: float) -> list[dict]:
        tr = self.ctx.tracer
        passes = []
        deadline = time.perf_counter() + seconds
        while True:
            k = len(passes)
            self.pass_meter.start()
            with tr.span("pass", index=k) as p:
                p["ops"] = [self.execute(n, "measure")["id"]
                            for n in self.wl.pass_order(k)]
            p["seconds"] = tr.seconds(p)
            p["box.external_cores"] = self.pass_meter.stop()
            p["box.steal_cores"] = self.pass_meter.steal_cores
            passes.append(p)
            if time.perf_counter() >= deadline:
                return passes


def _quantile(xs: list[float], q: int) -> float:
    return (statistics.quantiles(xs, n=10, method="inclusive")[q - 1]
            if len(xs) > 1 else xs[0])


def end_to_end(wl, passes, setup_s: float) -> dict[str, float]:
    pass_s = statistics.median(p["seconds"] for p in passes)
    return {"setup_s": setup_s, "items_per_s": wl.items_per_pass / pass_s}


def _untraced_op_p50(cache: str, workload: str, add: float | None) -> list[float]:
    """``op_p50_s`` of the latest untraced runs of ``workload`` in this
    checkout, after appending ``add`` when it is given."""
    path = os.path.join(cache, f"untraced-{workload}.json")
    try:
        with open(path) as f:
            hist = json.load(f)
    except FileNotFoundError:
        hist = []
    if add is not None:
        hist = (hist + [add])[-_MAX_TRACES:]
        with open(path + f".tmp{os.getpid()}", "w") as f:
            json.dump(hist, f)
        os.replace(f.name, path)
    return hist


def per_layer(wl, tr, passes, fold, probes, peak_bytes,
              untraced: list[float]) -> dict[str, float]:
    from probe import FOLD_KEYS
    from workloads import median
    op_recs = [[tr.spans[i] for i in p["ops"]] for p in passes]
    out = {name: 0.0 for name, _, _ in per_layer_names()}
    for key in ("spark.jobs", "spark.stages", "spark.tasks"):
        out[key] = median(sum(o[key] for o in p) for p in op_recs)
    for key in FOLD_KEYS:
        out[key] = median(sum(fold.get(o["group"], {}).get(key, 0.0)
                              for o in p) for p in op_recs)
    out["exec.cpu_ratio"] = (out["exec.cpu_s"] / out["exec.run_s"]
                             if out["exec.run_s"] else 0.0)
    ops = [o for p in op_recs for o in p]
    out["trace.op_p50_s"] = median(o["seconds"] for o in ops)
    # tracing overhead against the untraced runs made in this checkout (0
    # until one has run)
    if untraced:
        out["trace.overhead_s"] = out["trace.op_p50_s"] - median(untraced)
    out["op_p90_s"] = _quantile([o["seconds"] for o in ops], 9)
    out["peak_rss_mb"] = peak_bytes / 2**20
    out["box.external_cores"] = median(o["box.external_cores"] for o in ops)
    out["box.steal_cores"] = median(o["box.steal_cores"] for o in ops)
    out.update(wl.layer_metrics(op_recs))
    out.update(probes)
    if "hexgrid.assign_s" in probes:
        out["rollup.agg_s"] = out["trace.op_p50_s"] - probes["hexgrid.assign_s"]
    # executor CPU and Arrow UDF traffic of the warm extract_landcover probe
    lc_ops = [s for s in tr.spans if s["name"] == "op" and s["phase"] == "probe"]
    for key in ("exec.cpu_s", "python.bytes_to_workers",
                "python.bytes_from_workers"):
        out["pipeline." + key] = median(
            fold.get(o["group"], {}).get(key, 0.0) for o in lc_ops)
    unknown = set(out) - {n for n, _, _ in per_layer_names()}
    if unknown:
        raise KeyError(f"per-layer metrics missing from the list: {unknown}")
    return out


def _write_trace(cache, args, tr, passes, fold, result, failures) -> str:
    d = os.path.join(cache, "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{args.workload}-s{args.seed}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "seconds": args.seconds, "spans": tr.spans,
                   "passes": [p["id"] for p in passes],
                   "event_log_fold": fold, "failures": failures,
                   "result": result}, f, indent=1, default=str)
    old = sorted((os.path.join(d, e) for e in os.listdir(d)), key=os.path.getmtime)
    for stale in old[:max(0, len(old) - _MAX_TRACES)]:
        os.remove(stale)
    return path


def main(argv=None) -> int:
    args = parse_args(argv)
    if not _program_present():
        print("perfbench: hexscape_spark/, __spark_entry__.py or bench.py "
              f"not found under {ROOT}", file=sys.stderr)
        return 2
    cache = os.path.join(ROOT, ".bench_cache")
    scratch = os.path.join(cache, f"run-{os.getpid()}")
    try:
        _isolate(scratch)
        import inputs
        import probe
        from workloads import WORKLOADS
        ctx = Context(args, cache, scratch)
        tr = ctx.tracer
        wl_cls = WORKLOADS[args.workload]
        gen_s = _ensure_inputs(ctx, [args.workload] + (
            list(wl_cls.probe_inputs) if args.trace else []))
        with probe.RssSampler() as rss:
            spark = _session(ctx, bool(args.trace))
            try:
                wl = wl_cls(spark, ctx)
                with tr.span("setup"):
                    wl.prepare(inputs.load(cache, args.workload, args.seed))
                    runner = Runner(wl, ctx, spark)
                    warm_s = runner.warm()
                setup_s = time.perf_counter() - T0 - gen_s
                passes = runner.measure(args.seconds)
                probes = wl.probe(runner) if args.trace else {}
            finally:
                probe.stop_spark(spark)
        fold = (probe.fold_event_log(os.path.join(scratch, "eventlog"))
                if args.trace else {})
        measured = [tr.spans[i] for p in passes for i in p["ops"]]
        op_p50_s = statistics.median(o["seconds"] for o in measured)
        untraced = _untraced_op_p50(cache, args.workload,
                                    None if args.trace else op_p50_s)
        if args.trace:
            metrics = per_layer(wl, tr, passes, fold, probes, rss.peak_bytes,
                                untraced)
            units = {n: u for n, u, _ in per_layer_names()}
        else:
            metrics = end_to_end(wl, passes, setup_s)
            units = UNITS
        result = {"correct": not runner.failures,
                  "attempted": len(runner.ops),
                  "failed": len(runner.failures),
                  "metrics": {k: {"value": float(v), "unit": units[k]}
                              for k, v in metrics.items()}}
        # box noise next to the run: cores busy outside this process tree
        # (and steal) per measured op and pass, from bench._PassLoadMeter
        print(json.dumps({
            "op_p50_s": op_p50_s,
            "op_seconds": [[o["op"], round(o["seconds"], 4)] for o in measured],
            "op_external_cores": [round(o["box.external_cores"], 3) for o in measured],
            "op_steal_cores": [round(o["box.steal_cores"], 3) for o in measured],
            "pass_seconds": [round(p["seconds"], 4) for p in passes],
            "pass_external_cores": [round(p["box.external_cores"], 3) for p in passes],
            "pass_steal_cores": [round(p["box.steal_cores"], 3) for p in passes],
            "warm_pass_seconds": [round(t, 4) for t in warm_s],
            "generate_s": round(gen_s, 3), "failures": runner.failures}),
            file=sys.stderr)
        if args.trace:
            path = _write_trace(cache, args, tr, passes, fold, result,
                                runner.failures)
            print(f"perfbench: trace written to {path}", file=sys.stderr)
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
