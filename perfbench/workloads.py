"""The two workloads.

Each workload generates its set-up inputs untimed, sets up (timed into
``setup_s``), then runs a fixed schedule of operations in a closed loop with
one client. ``op`` is the timed operation; ``check`` validates its output
untimed. Spans around each call into a program module feed the traced run.

The calls are made the way a new caller would make them. In particular no
operation is wrapped in ``materialize.constraint_propagation_off``: the CSV
loader's header-drop and empty-row filters under the melt's ``stack`` make
Catalyst's constraint propagation grow steeply with the column count, and
that planning time is part of what a caller pays. It lands in the
``ml.profile`` span, whose eager histogram checkpoint forces the plan.

Where a call only builds a lazy plan (``load_csv``, ``melt_ids``), the
work it describes is forced later: the CSV parse, the melt and the histogram
shuffle run in ``ml.profile``; the fused feature statement and the forest
run in ``ml.predict`` (or ``ml.fit`` at set-up).
"""

from __future__ import annotations

import json
import os
import urllib.request
from dataclasses import dataclass
from functools import reduce

import gen
import spark_env
import stats
from spans import Tracer

CLASSES = gen.LISTING_CLASSES + [gen.UNKNOWN]


@dataclass
class Ctx:
    seed: int
    work: str
    cpus: int
    tracer: Tracer
    spark: object = None


def _write(path: str, text: str) -> str:
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write(text)
    return path


def to_ssd(spec: gen.SsdSpec):
    """Program SSD object for a generated spec: one node per class."""
    from serene_spark.modeler.ssd import (
        CLASS_NODE, DATA_NODE, DATA_PROPERTY, SemanticModel, Ssd, SsdLink, SsdNode)

    classes = sorted({c for c, _p in spec.columns.values()}
                     | {a for a, _b, _p in spec.links} | {b for _a, b, _p in spec.links})
    ids = {c: i for i, c in enumerate(classes)}
    nodes = [SsdNode(i, c, CLASS_NODE, 1) for i, c in enumerate(classes)]
    links = [SsdLink(ids[a], ids[b], p) for a, b, p in spec.links]
    mappings = {}
    for col, (c, p) in sorted(spec.columns.items()):
        nid = len(nodes)
        nodes.append(SsdNode(nid, col, DATA_NODE, 1))
        links.append(SsdLink(ids[c], nid, p, DATA_PROPERTY))
        mappings[col] = nid
    return Ssd(name=spec.name, attributes=sorted(spec.columns),
               semantic_model=SemanticModel(nodes=nodes, links=links), mappings=mappings)


def ssd_triples(ssd) -> set[tuple[str, str, str]]:
    """(label, property, label) triples of a program SSD, comparable with
    ``stats.spec_triples`` of a generated spec."""
    sm = ssd.semantic_model
    labels = {n.id: n.label for n in sm.nodes}
    return {(labels[l.source], l.label, labels[l.target]) for l in sm.links}


def kept_columns(predictions: dict[str, dict[str, float]]) -> set[str]:
    """Columns a suggestion must map: those whose best ontology type scores
    above the ``unknown`` class."""
    return {col for col, scores in predictions.items()
            if max((s for c, s in scores.items() if c != gen.UNKNOWN), default=0.0)
            > scores.get(gen.UNKNOWN, 0.0)}


def check_suggestions(suggestions, kept: set[str]) -> list[str]:
    """Ranks run 1..n and every SSD maps every kept column to a data node."""
    from serene_spark.modeler.ssd import DATA_NODE

    problems = []
    ranks = [s.karma_rank for _ssd, s in suggestions]
    if ranks != list(range(1, len(ranks) + 1)):
        problems.append(f"ranks {ranks}")
    if kept and not suggestions:
        problems.append("no SSD suggested")
    for ssd, s in suggestions:
        kinds = {n.id: n.node_type for n in ssd.semantic_model.nodes}
        if set(ssd.mappings) != kept or any(kinds.get(v) != DATA_NODE
                                            for v in ssd.mappings.values()):
            problems.append(f"rank {s.karma_rank} maps {sorted(ssd.mappings)}")
    return problems


def check_scores(rows: list[dict], columns: list[str]) -> list[str]:
    """One row per column, scores in [0, 1], confidence = max score."""
    from serene_spark.ml.pipeline import score_column_name

    problems = []
    if sorted(r["column_name"] for r in rows) != sorted(columns):
        problems.append(f"{len(rows)} prediction rows for {len(columns)} columns")
    for r in rows:
        scores = [r[score_column_name(c)] for c in CLASSES]
        if any(s is None or not 0.0 <= s <= 1.0 for s in scores):
            problems.append(f"{r['column_name']}: score outside [0, 1]")
        elif r["confidence"] != max(scores):
            problems.append(f"{r['column_name']}: confidence {r['confidence']} "
                            f"!= max score {max(scores)}")
    return problems


class Workload:
    name = ""
    uses_spark = True
    timeout_s = 60.0
    # shapes per cycle, and the nominal seconds of one cycle: a run does
    # max(1, round(--seconds / cycle_s)) whole cycles, a count that depends
    # on neither the seed nor the host's speed
    cycle: tuple = ()
    cycle_s = 1.0

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.tr = ctx.tracer
        self.inputs = os.path.join(ctx.work, "inputs")
        os.makedirs(self.inputs, exist_ok=True)

    def op_count(self, seconds: float) -> int:
        return max(1, round(seconds / self.cycle_s)) * len(self.cycle)

    def prepare(self) -> None:
        """Generate set-up inputs (untimed)."""

    def setup(self) -> None:
        """One set-up (timed into setup_s)."""

    def make_input(self, i: int):
        """Input of operation ``i`` (untimed); ``i < 0`` are warm-ups."""
        raise NotImplementedError

    def shape(self, inp) -> str:
        raise NotImplementedError

    def cells(self, inp) -> int:
        raise NotImplementedError

    def op(self, inp):
        raise NotImplementedError

    def check(self, inp, out) -> list[str]:
        return []

    def quality(self, results: list) -> float:
        """Score over (input, output or None) of every scheduled operation."""
        raise NotImplementedError

    def teardown(self) -> None:
        pass


# ---------------------------------------------------------------------------


class OctopusPredict(Workload):
    """Upload a CSV through the service, type its columns and suggest an
    SSD. Set-up: session and service start, the training corpus profile
    and the 128-tree forest fit, the model save and reload, the alignment
    build."""

    name = "octopus_predict"
    cycle = gen.UPLOAD_CYCLE
    cycle_s = 30.0

    def prepare(self):
        self.corpus = gen.corpus(self.ctx.seed)
        self.corpus_paths = [_write(os.path.join(self.inputs, f"{t.name}.csv"), t.csv_text())
                             for t in self.corpus]

    def setup_model(self):
        from serene_spark.ml.pipeline import train_semantic_classifier

        labeled = self.profile_corpus()
        with self.tr.span("ml.fit"):
            model, _converter = train_semantic_classifier(self.ctx.spark, labeled)
        # the model is served from the service's model store, as a restarted
        # service would load it
        store = self.svc.models
        eid = store.add({"name": "listings"})
        with self.tr.span("storage.save_model"):
            store.save_model(eid, model, CLASSES)
        with self.tr.span("storage.load_model"):
            self.model, self.classes = store.load_model(eid)

    def profile_corpus(self):
        """(column_name, class, features...) of the corpus, profiled in one
        call over the union of its melted sources."""
        from pyspark.sql import functions as F

        from serene_spark.functions.melt import melt
        from serene_spark.ml.pipeline import profile_features_from_long
        from serene_spark.sources.csv_loader import load_csv

        spark, tr = self.ctx.spark, self.tr
        longs = []
        for t, path in zip(self.corpus, self.corpus_paths):
            with tr.span("sources.load_csv"):
                df = load_csv(spark, path)
            with tr.span("functions.melt"):
                longs.append(melt(df).withColumn(
                    "column_name", F.concat(F.lit(t.name + "."), F.col("column_name"))))
        with tr.span("ml.profile"):
            feats = profile_features_from_long(spark, reduce(lambda a, b: a.unionByName(b), longs))
        labels = spark.createDataFrame(
            [(f"{t.name}.{h}", lbl) for t in self.corpus for h, lbl in sorted(t.truth.items())],
            "column_name string, class string")
        return feats.join(labels, "column_name")

    def predict(self, long_df, name_case: str) -> list[dict]:
        from serene_spark.ml.pipeline import predict_with_scores, profile_features_from_long

        spark, tr = self.ctx.spark, self.tr
        with tr.span("ml.profile"):
            feats = profile_features_from_long(spark, long_df, name_case=name_case)
        with tr.span("ml.predict"):
            rows = predict_with_scores(self.model, feats, self.classes).collect()
        return [r.asDict() for r in rows]

    def shape(self, inp):
        table = inp[0]
        return f"{len(table.columns)}x{table.rows}"

    def cells(self, inp):
        return inp[0].cells

    def quality(self, results):
        """Share of the labelled columns (truth not ``unknown``) typed right."""
        return stats.typed_share(
            [None if out is None else {r["column_name"]: r["predicted_class"]
                                       for r in out["rows"]} for _inp, out in results],
            [{col: label for col, label in inp[0].truth.items() if label != gen.UNKNOWN}
             for inp, _out in results])

    def setup(self):
        from serene_spark.modeler.alignment import AlignmentGraph
        from serene_spark.modeler.owl import load_ontology_text
        from serene_spark.service import SereneService, start_server

        ctx, tr = self.ctx, self.tr
        with tr.span("session.start"):
            ctx.spark = spark_env.start(ctx.cpus)
        with tr.span("service.start"):
            self.svc = SereneService(ctx.spark, self.inputs, os.path.join(ctx.work, "storage"))
            self.server = start_server(self.svc)
        self.base = f"http://127.0.0.1:{self.server.server_address[1]}/v1.0"
        self.setup_model()
        with tr.span("modeler.align"):
            self.alignment = AlignmentGraph(load_ontology_text(gen.LISTINGS_TTL)) \
                .construct_initial_alignment(
                    [to_ssd(gen.listings_ssd(t)).semantic_model for t in self.corpus])

    def teardown(self):
        self.server.shutdown()
        self.server.server_close()

    def make_input(self, i):
        t = gen.upload(self.ctx.seed, i)
        return t, _write(os.path.join(self.inputs, f"{t.name}.csv"), t.csv_text())

    # the service listens on loopback: never route it through a proxy
    _opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))

    def _http(self, method: str, url: str, body: dict | None = None) -> dict:
        data = None if body is None else json.dumps(body).encode()
        req = urllib.request.Request(url, data=data, method=method,
                                     headers={"Content-Type": "application/json"})
        with self._opener.open(req, timeout=self.timeout_s) as resp:
            return json.loads(resp.read())

    def op(self, inp):
        from serene_spark.functions.melt import melt_ids
        from serene_spark.ml.pipeline import score_column_name
        from serene_spark.modeler.suggest import suggest_models
        from serene_spark.sources.csv_loader import load_csv

        _table, path = inp
        tr = self.tr
        with tr.span("service.post_dataset"):
            created = self._http("POST", f"{self.base}/dataset", {"path": path})
        with tr.span("service.get_dataset"):
            meta = self._http("GET", f"{self.base}/dataset/{created['id']}")
        with tr.span("sources.load_csv"):
            df = load_csv(self.ctx.spark, path)
        with tr.span("functions.melt"):
            long_df, name_case = melt_ids(df)
        rows = self.predict(long_df, name_case)
        preds = {r["column_name"]: {c: r[score_column_name(c)] for c in self.classes}
                 for r in rows}
        with tr.span("modeler.suggest"):
            suggestions = suggest_models(self.alignment, preds)
        return {"columns": meta["columns"], "sample": meta["sample"], "rows": rows,
                "preds": preds, "suggestions": suggestions}

    def check(self, inp, out):
        table = inp[0]
        problems = check_scores(out["rows"], table.header)
        if out["columns"] != table.header:
            problems.append(f"dataset columns {out['columns']}")
        if sorted(out["sample"]) != sorted(table.header):
            problems.append(f"dataset sample covers {sorted(out['sample'])}")
        return problems + check_suggestions(out["suggestions"], kept_columns(out["preds"]))


# ---------------------------------------------------------------------------


class ModelerSuggest(Workload):
    """Top-10 SSD suggestions for held-out sources against generated domain
    alignment graphs; driver only, no Spark."""

    name = "modeler_suggest"
    uses_spark = False
    timeout_s = 10.0
    cycle = gen.MODELER_CYCLE
    cycle_s = 4.0

    def prepare(self):
        self.domains = gen.modeler_domains()
        self.known = [[to_ssd(s).semantic_model for s in d.known] for d in self.domains]

    def setup(self):
        from serene_spark.modeler.alignment import AlignmentGraph
        from serene_spark.modeler.owl import load_ontology_text

        self.graphs = []
        for d, models in zip(self.domains, self.known):
            with self.tr.span("modeler.align"):
                self.graphs.append(AlignmentGraph(load_ontology_text(d.ttl))
                                   .construct_initial_alignment(models))

    def make_input(self, i):
        return gen.request(self.ctx.seed, self.domains, i)

    def shape(self, inp):
        d, held = inp
        classes = len({c for c, _p in held.gold.columns.values()})
        return f"d{d}:{len(held.predictions)}x{classes}"

    def cells(self, inp):
        return inp[1].cells

    def op(self, inp):
        from serene_spark.modeler.suggest import suggest_models

        d, held = inp
        with self.tr.span("modeler.suggest"):
            return suggest_models(self.graphs[d], held.predictions, top_k=10)

    def check(self, inp, out):
        return check_suggestions(out, kept_columns(inp[1].predictions))

    def quality(self, results):
        return stats.mean_precision(
            [ssd_triples(out[0][0]) if out else None for _inp, out in results],
            [stats.spec_triples(inp[1].gold.columns, inp[1].gold.links) for inp, _out in results])


WORKLOADS = {w.name: w for w in (OctopusPredict, ModelerSuggest)}
