"""Per-layer metrics of the traced run and the printed tables.

Each per-layer metric names the end-to-end metric it should move, on which
workload, and says where lazily planned Spark work is forced, so a change in
one layer can be traced to the end-to-end figure it explains. A layer a
workload does not call reads 0.

Time metrics are self times. A layer called inside the timed operations
reports its mean per traced operation; a layer called only in set-up (the
forest fit, the model store, the alignment build) reports its set-up total
divided by the number of set-ups in the run.

``trace.overhead_share`` is the median, over the inputs a traced run executes
both traced and untraced, of traced / untraced wall, minus 1. Spark's event
log can only be switched on when the JVM starts, so it is on for both: the
share covers the spans and the modeler call counters, not the event log.
"""

from __future__ import annotations

import statistics

from spans import EventLog, Span, attribute, covered, self_times

OCT, MOD = "octopus_predict", "modeler_suggest"

# name, unit, end-to-end metric it should move (on which workload), note
PER_LAYER = (
    ("session.start_s", "s", f"setup_s ({OCT})", "get_spark: JVM launch and session build"),
    ("ml.fit_s", "s", f"setup_s ({OCT})",
     "train_semantic_classifier: forces the corpus's fused feature statement, "
     "then the 128-tree forest fit"),
    ("storage.save_model_s", "s", f"setup_s ({OCT})", "ModelStorage.save_model, eager"),
    ("storage.load_model_s", "s", f"setup_s ({OCT})", "ModelStorage.load_model, eager"),
    ("modeler.align_s", "s", f"setup_s ({MOD}; {OCT})",
     "load_ontology_text and construct_initial_alignment, all graphs of one set-up"),
    ("service.post_dataset_s", "s", f"latency_p50_s ({OCT})",
     "HTTP round trip; the handler reads the CSV header with a Spark job"),
    ("service.get_dataset_s", "s", f"latency_p50_s ({OCT})",
     "HTTP round trip; the handler runs the column-sample job"),
    ("sources.load_csv_s", "s", f"latency_p50_s ({OCT})",
     "column count read and header probe; the parse itself is lazy and runs in ml.profile"),
    ("functions.melt_s", "s", f"latency_p50_s ({OCT})",
     "melt_ids builds the stack plan; lazy apart from a partition-count probe"),
    ("ml.profile_s", "s", f"latency_p50_s, cells_per_s ({OCT})",
     "forces the parse, the melt and the histogram checkpoint, and plans them: "
     "the constraint-propagation blow-up lands here"),
    ("ml.predict_s", "s", f"latency_p50_s, cells_per_s ({OCT})",
     "predict_with_scores and collect: forces the fused feature statement and the forest"),
    ("spark.jobs_per_op", "count", f"latency_p50_s ({OCT})", "jobs submitted, from the event log"),
    ("spark.stages_per_op", "count", f"latency_p50_s ({OCT})", "stages that ran"),
    ("spark.tasks_per_op", "count", f"latency_p50_s ({OCT})", "tasks that ran"),
    ("spark.driver_only_s_per_op", "s", f"latency_p50_s ({OCT})",
     "operation wall with no Spark job running: planning, Python, py4j, HTTP"),
    ("spark.task_busy_s_per_op", "s", f"cells_per_s ({OCT})", "executor run time summed over tasks"),
    ("spark.core_idle_share", "ratio", f"cells_per_s ({OCT})",
     "1 - task busy / (operation wall x cores)"),
    ("spark.shuffle_write_mb_per_op", "MB", f"cells_per_s ({OCT})", "shuffle bytes written"),
    ("modeler.suggest_s", "s", f"latency_p50_s ({MOD})", "suggest_models, pure Python"),
    ("modeler.steiner_calls_per_op", "count", f"latency_p50_s ({MOD})",
     "AlignmentGraph.top_k_steiner calls"),
    ("modeler.graph_builds_per_op", "count", f"latency_p50_s ({MOD})",
     "AlignmentGraph.undirected_weighted calls: one per Steiner re-solve"),
    ("modeler.trees_per_graph_build", "ratio", f"latency_p50_s ({MOD})",
     "distinct trees top_k_steiner returned per undirected_weighted call; "
     "low means wasted re-solves"),
    ("mem.driver_rss_peak_mb", "MB", "guard", "VmHWM of the Python driver"),
    ("mem.jvm_rss_peak_mb", "MB", "guard", "VmHWM of the gateway JVM"),
    ("trace.overhead_share", "ratio", "guard",
     "median over paired inputs of traced / untraced operation wall, minus 1"),
)
UNITS = {name: unit for name, unit, *_ in PER_LAYER}
SPANS = ("session.start", "ml.fit", "storage.save_model", "storage.load_model",
         "modeler.align", "service.post_dataset", "service.get_dataset", "sources.load_csv",
         "functions.melt", "ml.profile", "ml.predict", "modeler.suggest")


def layer_metrics(spans: list[Span], counters: dict[str, float], ev: EventLog | None,
                  traced_walls: list[float], pairs: list[tuple[float, float]], cpus: int,
                  n_setups: int, mem: dict[str, float]) -> dict[str, float]:
    selfs = self_times(spans)
    n_ops = max(len(traced_walls), 1)

    def span_time(name: str) -> float:
        in_ops = [selfs[s.sid] for s in spans if s.name == name and s.op is not None]
        if in_ops:
            return sum(in_ops) / n_ops
        return sum(selfs[s.sid] for s in spans if s.name == name) / n_setups

    out = {f"{name}_s": span_time(name) for name in SPANS}
    op_counter = lambda k: counters.get(f"op:{k}", 0.0)  # noqa: E731
    out["modeler.steiner_calls_per_op"] = op_counter("steiner_calls") / n_ops
    out["modeler.graph_builds_per_op"] = op_counter("graph_builds") / n_ops
    out["modeler.trees_per_graph_build"] = (
        op_counter("trees") / op_counter("graph_builds") if op_counter("graph_builds") else 0.0)

    jobs = stages = tasks = shuffle = 0
    busy = job_wall = 0.0
    if ev is not None:
        per_span = attribute(spans, ev)
        for op in (s for s in spans if s.name == "op"):
            inner = [c for sid, c in per_span.items() if spans[sid].op == op.op]
            jobs += sum(c.jobs for c in inner)
            stages += sum(c.stages for c in inner)
            tasks += sum(c.tasks for c in inner)
            busy += sum(c.busy_s for c in inner)
            shuffle += sum(c.shuffle_bytes for c in inner)
            job_wall += covered([iv for c in inner for iv in c.job_intervals], op.start, op.end)
    wall = sum(traced_walls)
    out["spark.jobs_per_op"] = jobs / n_ops
    out["spark.stages_per_op"] = stages / n_ops
    out["spark.tasks_per_op"] = tasks / n_ops
    out["spark.driver_only_s_per_op"] = (wall - job_wall) / n_ops if ev is not None else 0.0
    out["spark.task_busy_s_per_op"] = busy / n_ops
    out["spark.core_idle_share"] = 1 - busy / (wall * cpus) if ev is not None and wall else 0.0
    out["spark.shuffle_write_mb_per_op"] = shuffle / 1e6 / n_ops
    out["mem.driver_rss_peak_mb"] = mem.get("driver", 0.0)
    out["mem.jvm_rss_peak_mb"] = mem.get("jvm", 0.0)
    out["trace.overhead_share"] = (
        statistics.median(t / u for t, u in pairs) - 1 if pairs else 0.0)
    return out


def span_table(spans: list[Span], ev: EventLog | None, n_ops: int,
               n_setups: int) -> list[str]:
    """Self time, job-free time and Spark work per span name: per traced
    operation, and per set-up."""
    selfs = self_times(spans)
    per_span = attribute(spans, ev) if ev is not None else {}
    rows: dict[str, list[float]] = {}
    for s in spans:
        r = rows.setdefault(s.name, [0.0, 0.0, 0.0, 0, 0, 0.0])
        c = per_span.get(s.sid)
        job = covered(c.job_intervals, s.start, s.end) if c else 0.0
        if s.op is None:
            r[0] += selfs[s.sid] / n_setups
        else:
            r[1] += selfs[s.sid] / n_ops
            r[2] += (selfs[s.sid] - job) / n_ops
            if c:
                r[3] += c.jobs / n_ops
                r[4] += c.tasks / n_ops
                r[5] += c.busy_s / n_ops
    lines = [f"{'span':22} {'setup s':>8} {'self/op s':>10} {'no-job/op s':>11} "
             f"{'jobs/op':>8} {'tasks/op':>9} {'busy/op s':>10}"]
    for name, (setup, op_self, no_job, jobs, tasks, busy) in sorted(rows.items()):
        lines.append(f"{name:22} {setup:8.3f} {op_self:10.4f} {no_job:11.4f} {jobs:8.1f} "
                     f"{tasks:9.1f} {busy:10.3f}")
    return lines


def shape_table(ops, spans: list[Span], ev: EventLog | None) -> list[str]:
    """Per input shape: operations, median wall and, in a traced run, the
    mean ml.profile self time and job-free time of the traced operations."""
    selfs = self_times(spans)
    per_span = attribute(spans, ev) if ev is not None else {}
    by_op = {}
    for s in spans:
        if s.op is not None:
            d = by_op.setdefault(s.op, {"profile": 0.0, "op": None})
            if s.name == "ml.profile":
                d["profile"] += selfs[s.sid]
            elif s.name == "op":
                d["op"] = s
    shapes: dict[str, list] = {}
    for i, o in ops:
        shapes.setdefault(o.shape, [[], []])[0].append(o.wall_s)
    for i, d in by_op.items():
        op = d["op"]
        inner = [c for sid, c in per_span.items() if spans[sid].op == i]
        job = covered([iv for c in inner for iv in c.job_intervals], op.start, op.end)
        shapes_key = next(o.shape for j, o in ops if j == i)
        shapes[shapes_key][1].append((d["profile"], op.end - op.start - job))
    lines = [f"{'shape':16} {'ops':>4} {'p50 wall s':>10} {'ml.profile s':>13} "
             f"{'no-job s':>9}"]
    for shape, (walls, traced) in shapes.items():
        prof = f"{statistics.mean(t[0] for t in traced):13.3f}" if traced else f"{'-':>13}"
        nojob = (f"{statistics.mean(t[1] for t in traced):9.3f}" if traced and ev is not None
                 else f"{'-':>9}")
        lines.append(f"{shape:16} {len(walls):4d} {statistics.median(walls):10.3f} {prof} {nojob}")
    return lines


def layer_table(values: dict[str, float]) -> list[str]:
    lines = [f"{'metric':32} {'value':>12} {'unit':6} should move; note"]
    for name, unit, moves, note in PER_LAYER:
        lines.append(f"{name:32} {values[name]:12.4f} {unit:6} {moves}; {note}")
    return lines
