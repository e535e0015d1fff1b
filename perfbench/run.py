"""Serene benchmark: one workload, one seed, one client, closed loop.

    python3 perfbench/run.py --workload octopus_predict --seed 1 --seconds 10 --trace 0

Run from the root of a checkout that holds the ``serene_spark`` package.
Workloads: ``octopus_predict`` and ``modeler_suggest`` (see ``workloads.py``
and ``NOTES.md``).

Inputs are generated from ``--seed`` into a fresh run directory under
``.bench_work/`` in the checkout, which also holds the service's storage
root, Spark's local and warehouse directories and, with ``--trace 1``, the
Spark event log; it is deleted at exit. A run does a fixed number of whole
cycles of its workload's shape schedule, about ``--seconds`` long, so
``attempted`` depends on neither the seed nor the host.

Prints a human-readable report, then, as the last line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics. ``--trace 1`` traces every input, runs every
other one untraced as well, and reports the per-layer metrics of
``report.py``.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import threading  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARD_LIMIT_S = 170.0  # a run still going after this is killed without a result
CPUS = min(4, os.cpu_count() or 1)  # Spark local[N]
DRIVER_MEMORY = "3g"  # the 16-column plan peaks near 3.4 GB of JVM resident memory

# set and dict iteration order steers how much work the Steiner search does
PINNED_ENV = {"PYTHONHASHSEED": "0", "PYTHONDONTWRITEBYTECODE": "1"}
END_TO_END_UNITS = {
    "setup_s": "s", "latency_p50_s": "s", "cells_per_s": "cells/s",
    "quality": "ratio", "success_rate": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _abort_after(seconds: float) -> threading.Timer:
    def abort():
        print(f"perfbench: run exceeded {seconds:.0f} s, aborting", file=sys.stderr, flush=True)
        try:
            import spark_env

            spark_env.ensure_stopped()
        finally:
            os._exit(3)

    t = threading.Timer(seconds, abort)
    t.daemon = True
    t.start()
    return t


def _progress(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _count_modeler_calls(tracer) -> None:
    """Count AlignmentGraph.top_k_steiner calls, the trees they return and
    undirected_weighted calls, by wrapping the methods from outside."""
    from serene_spark.modeler.alignment import AlignmentGraph

    top_k, build = AlignmentGraph.top_k_steiner, AlignmentGraph.undirected_weighted

    def counted_top_k(self, *args, **kwargs):
        trees = top_k(self, *args, **kwargs)
        tracer.count("steiner_calls")
        tracer.count("trees", len(trees))
        return trees

    def counted_build(self, *args, **kwargs):
        tracer.count("graph_builds")
        return build(self, *args, **kwargs)

    AlignmentGraph.top_k_steiner = counted_top_k
    AlignmentGraph.undirected_weighted = counted_build


def run(args, work: str) -> tuple[dict, list[str]]:
    import spark_env
    import stats
    from report import UNITS, layer_metrics, layer_table, shape_table, span_table
    from spans import Tracer, read_event_log, vm_hwm_mb
    from workloads import WORKLOADS, Ctx

    traced_run = bool(args.trace)
    tracer = Tracer(enabled=traced_run)
    w = WORKLOADS[args.workload](Ctx(args.seed, work, CPUS, tracer))
    if w.uses_spark:
        spark_env.configure(work, CPUS, DRIVER_MEMORY, event_log=traced_run)
    if traced_run:
        _count_modeler_calls(tracer)
    lines: list[str] = []

    w.prepare()
    # a Spark set-up ends with one operation on a warm-up input: JIT and
    # code-generation warm-up on the JVM, pointless for pure Python
    warm = w.make_input(-1) if w.uses_spark else None
    setups: list[float] = []

    def timed_setup() -> None:
        t = time.perf_counter()
        w.setup()
        if w.uses_spark:
            with tracer.span("setup.warmup_op"):
                w.op(warm)
        setups.append(time.perf_counter() - t)

    timed_setup()
    _progress(f"set-up {setups[0]:.2f} s")

    records: list[tuple[int, stats.Op]] = []
    traced_walls: list[float] = []
    pairs: list[tuple[float, float]] = []  # (traced, untraced) walls of one input
    results, problems = [], []
    n_ops = w.op_count(args.seconds)
    probe_before = stats.host_probe()
    for i in range(n_ops):
        inp = w.make_input(i)
        out = None
        # a traced run traces every input and also runs every other one
        # untraced, alternating which goes first: all of them twice would not
        # fit the run's time limit on octopus_predict
        if not traced_run:
            modes = (False,)
        elif i % 2:
            modes = (True,)
        else:
            modes = (True, False) if i % 4 == 0 else (False, True)
        ok_walls = {}
        for traced in modes:
            if w.uses_spark:
                # untimed, so no operation pays for an earlier one's garbage;
                # on the modeler a full collection walks every alignment graph
                # (about 65 ms) and would take a sixth of the run's budget
                gc.collect()
            tracer.enabled, tracer.op = traced, (i if traced else None)
            res, err = None, ""
            t = time.perf_counter()
            try:
                with tracer.span("op"):
                    res = w.op(inp)
            except Exception as exc:  # noqa: BLE001 — counted as a failed operation
                err = f"{type(exc).__name__}: {exc}"
            wall = time.perf_counter() - t
            tracer.enabled, tracer.op = False, None
            if not err:
                found = w.check(inp, res)
                problems += [f"op {i}: {p}" for p in found]
                err = "check: " + "; ".join(found) if found else ""
            if not err and wall > w.timeout_s:
                err = f"timeout: {wall:.1f} s > {w.timeout_s:.0f} s"
            records.append((i, stats.Op(w.shape(inp), wall, w.cells(inp), err)))
            if traced:
                traced_walls.append(wall)
            if not err:
                ok_walls[traced] = wall
                out = res
            _progress(f"op {i} {w.shape(inp)}{' traced' if traced else ''}: {wall:.3f} s {err}")
        if len(ok_walls) == 2:
            pairs.append((ok_walls[True], ok_walls[False]))
        results.append((inp, out))
        # without Spark, a run sets up again after every cycle and setup_s is
        # the median of its set-ups: spread over the run, they sample the
        # host's drifting speed where a burst of them at the start would
        # catch one moment of it. With Spark the JVM starts once a process.
        if not w.uses_spark and (i + 1) % len(w.cycle) == 0:
            tracer.enabled = traced_run
            timed_setup()
            tracer.enabled = False
            gc.collect()  # the replaced set-up's garbage is no operation's to pay
            _progress(f"set-up {setups[-1]:.2f} s")
    probe_after = stats.host_probe()
    ops = [o for _i, o in records]
    setup_s = statistics.median(setups)

    mem = {"driver": vm_hwm_mb(os.getpid())}
    if w.uses_spark:
        mem["jvm"] = vm_hwm_mb(spark_env.jvm_pid() or 0)
    w.teardown()
    if w.uses_spark:
        spark_env.stop(w.ctx.spark)

    lines.append(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
                 f"{len(ops)} operations in {n_ops // len(w.cycle)} cycles of "
                 f"{len(w.cycle)}, set-up {setup_s:.3f} s")
    lines.append(f"host probe: {probe_before:.4f} s before, {probe_after:.4f} s after "
                 "the timed window")
    failures = stats.failures_by_type(ops)
    for kind, n in failures.most_common():
        example = next(o.error for o in ops if o.error.split(":", 1)[0] == kind)
        lines.append(f"failed: {n} x {kind} (e.g. {example[:160]})")
    if traced_run:
        ev = read_event_log(os.path.join(work, "eventlog")) if w.uses_spark else None
        values = layer_metrics(tracer.spans, tracer.counters, ev, traced_walls, pairs,
                               CPUS, len(setups), mem)
        lines += span_table(tracer.spans, ev, len(traced_walls), len(setups))
        lines += shape_table(records, tracer.spans, ev)
        lines += layer_table(values)
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}
    else:
        values = {
            "setup_s": setup_s,
            "latency_p50_s": stats.p50(ops, w.timeout_s),
            "cells_per_s": stats.cells_per_s(ops),
            "quality": w.quality(results),
            "success_rate": stats.success_rate(ops),
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
        lines += shape_table(records, [], None)
        for k, m in metrics.items():
            lines.append(f"{k:16} {m['value']:14.6f} {m['unit']}")
        tail = stats.tail(ops, w.timeout_s)
        lines.append(f"{'latency_tail_s':16} {tail[0]:14.6f} s (p{tail[1]:.1f} of {tail[2]} samples)"
                     if tail else f"{'latency_tail_s':16} {'-':>14} s (needs 21 samples, "
                                  f"has {len(ops)})")
    lines += [f"check failed: {p}" for p in problems[:10]]
    result = {"correct": not problems, "attempted": len(ops),
              "failed": sum(not o.ok for o in ops), "metrics": metrics}
    return result, lines


def main(argv=None) -> int:
    args = parse_args(argv)
    if any(os.environ.get(k) != v for k, v in PINNED_ENV.items()):
        os.environ.update(PINNED_ENV)
        os.execv(sys.executable, [sys.executable, *sys.argv])
    if not os.path.isfile(os.path.join(ROOT, "serene_spark", "__init__.py")):
        print(f"perfbench: no serene_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)  # after this directory
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # no disk-cached fixture model, nothing inherited that points the
    # program outside the run directory
    os.environ["SERENE_FIXTURE_CACHE"] = ""
    os.environ.pop("SERENE_CHECKPOINT_DIR", None)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    watchdog = _abort_after(HARD_LIMIT_S)
    try:
        result, lines = run(args, work)
    finally:
        import spark_env

        watchdog.cancel()
        spark_env.ensure_stopped()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print("\n".join(lines))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
