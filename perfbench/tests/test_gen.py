"""The input generator: owned by the benchmark, deterministic per seed, and
seed-independent in its shapes."""

import ast
import csv
import io
import os

import gen


def test_same_seed_gives_byte_identical_inputs():
    assert gen.upload(7, 3).csv_text() == gen.upload(7, 3).csv_text()
    assert gen.upload(7, -1).csv_text() == gen.upload(7, -1).csv_text()
    assert [t.csv_text() for t in gen.corpus(7)] == [t.csv_text() for t in gen.corpus(7)]
    domains = gen.modeler_domains()
    assert gen.request(7, domains, 5) == gen.request(7, domains, 5)


def _upload_shape(t):
    return sorted((c.header, c.label, c.style, c.blank) for c in t.columns), t.rows


def test_seeds_change_values_and_order_but_not_shapes():
    for i in range(-1, 2 * len(gen.UPLOAD_CYCLE)):
        a, b = gen.upload(1, i), gen.upload(2, i)
        assert _upload_shape(a) == _upload_shape(b)
        assert a.csv_text() != b.csv_text()
    assert [_upload_shape(t) for t in gen.corpus(1)] == [_upload_shape(t) for t in gen.corpus(2)]
    domains = gen.modeler_domains()  # the graphs are part of the shape
    assert domains == gen.modeler_domains()
    for i in range(2 * len(gen.MODELER_CYCLE)):
        (da, ha), (db, hb) = gen.request(1, domains, i), gen.request(2, domains, i)
        assert da == db and ha.cells == hb.cells
        assert sorted(ha.gold.columns.values()) == sorted(hb.gold.columns.values())
        assert ha.gold.links == hb.gold.links
        assert ha.predictions != hb.predictions


def test_operation_counts_do_not_depend_on_the_seed(tmp_path):
    from spans import Tracer
    from workloads import WORKLOADS, Ctx

    for name, cls in WORKLOADS.items():
        counts = {cls(Ctx(seed, str(tmp_path / f"{name}{seed}"), 1, Tracer(False))).op_count(20)
                  for seed in (1, 2, 3)}
        assert len(counts) == 1 and counts.pop() % len(cls.cycle) == 0, name


def test_upload_shapes_truth_and_value_mix():
    for i, (cols, rows) in enumerate(gen.UPLOAD_CYCLE):
        t = gen.upload(3, i)
        parsed = list(csv.reader(io.StringIO(t.csv_text())))
        assert parsed[0] == t.header and len(t.header) == cols
        assert len(parsed) - 1 == rows == t.rows
        assert all(any(v for v in row) for row in parsed[1:])  # no all-empty rows
        assert gen.UNKNOWN in t.truth.values()
        assert set(t.truth.values()) - {gen.UNKNOWN} <= set(gen.LISTING_CLASSES)
    text = "".join(gen.upload(3, i).csv_text() for i in range(4))
    assert '"$' in text  # quoted currency with thousands commas
    assert ",," in text or ",\n" in text  # empty cells


def test_warm_up_uploads_have_the_narrowest_shape():
    narrow = gen.UPLOAD_CYCLE[0]
    assert narrow == min(gen.UPLOAD_CYCLE) and narrow[0] == 8
    for i in (-1, -2, -5):
        t = gen.upload(3, i)
        assert (len(t.columns), t.rows) == narrow
    assert gen.upload(3, -1).csv_text() != gen.upload(3, 0).csv_text()


def test_corpus_labels_every_type_twice():
    labels = [c.label for t in gen.corpus(1) for c in t.columns]
    assert len(labels) >= 20  # the program fits 128 trees from 20 rows
    assert all(labels.count(c) >= 2 for c in gen.LISTING_CLASSES)
    assert gen.UNKNOWN in labels


def test_domains_have_one_fixed_unconnected_domain():
    domains = gen.modeler_domains()
    assert [k for k, d in enumerate(domains) if d.unconnected] == [gen.UNCONNECTED_DOMAIN]
    for d in domains:
        touched = {c for a, b, _p in d.edges for c in (a, b)}
        assert not touched & set(d.unconnected)
        assert 30 <= len(d.classes) <= 60
    hits = [d for d, _c, _k in gen.MODELER_CYCLE if d == gen.UNCONNECTED_DOMAIN]
    assert len(hits) == 2 and len(gen.MODELER_CYCLE) == 16


def test_modeler_sources_have_museum_29_sizes():
    # museum-29: 29 sources, 418 columns; s01-cb maps 10 columns onto 6 classes
    for d in gen.modeler_domains():
        assert len(d.known) == 28
        assert sum(len(k.columns) for k in d.known) / len(d.known) == 14
    widths = [cols for _d, cols, _k in gen.MODELER_CYCLE]
    assert sum(widths) / len(widths) == 14
    assert gen.source_classes(10) == 6
    domains = gen.modeler_domains()
    for i, (d, cols, classes) in enumerate(gen.MODELER_CYCLE):
        held = gen.request(5, domains, i)[1]
        assert len(held.predictions) == cols
        assert len({c for c, _p in held.gold.columns.values()}) == classes


def test_ontology_text_loads_through_the_program_parser():
    from serene_spark.modeler.owl import load_ontology_text

    d = gen.modeler_domains()[0]
    ont = load_ontology_text(d.ttl)
    assert ont.classes == set(d.classes)
    assert len(ont.object_properties) == len(d.edges)
    listings = load_ontology_text(gen.LISTINGS_TTL)
    assert {c.split("---")[0] for c in gen.LISTING_CLASSES} <= listings.classes


def test_generator_imports_nothing_from_the_program():
    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "gen.py")
    tree = ast.parse(open(path, encoding="utf-8").read())
    names = [a.name for n in ast.walk(tree) if isinstance(n, ast.Import) for a in n.names]
    names += [n.module for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)]
    assert not [n for n in names if n and n.startswith("serene_spark")]


def test_held_out_candidates_follow_the_calibrated_matcher():
    top = total = 0
    for d in gen.modeler_domains():
        for i in range(20):
            h = gen.held_out(6, d, i, 8, 3)
            for col, scores in h.predictions.items():
                c, p = h.gold.columns[col]
                ranked = sorted(scores.values(), reverse=True)
                assert len(ranked) == gen.CANDIDATES
                assert gen.MATCHER_TOP_SCORE[0] <= ranked[0] <= gen.MATCHER_TOP_SCORE[1]
                assert gen.MATCHER_SECOND_SCORE[0] <= ranked[1] <= gen.MATCHER_SECOND_SCORE[1]
                top += max(scores, key=scores.get) == f"{c}---{p}"
                total += 1
    assert abs(top / total - gen.MATCHER_TOP1_SHARE) < 0.03
