"""The benchmark's own quality scorers and output checks, on hand-computed
cases."""

import types

import pytest

import gen
import stats
import workloads

SPEC = gen.SsdSpec(
    "s", {"c0": ("A", "a1"), "c1": ("B", "b1"), "c2": ("B", "b2")}, (("A", "B", "ab"),))
WRONG = gen.SsdSpec(
    "w", {"c0": ("A", "a1"), "c1": ("A", "a2"), "c2": ("B", "b2")}, (("A", "B", "ab"),))


def test_typed_share_pools_columns_and_fails_whole_tables():
    truth = [{"a": "Listing---price", "b": "unknown"},
             {"c": "Agent---name", "d": "Agent---phone", "e": "unknown", "f": "Address---city"}]
    pred = [{"a": "Listing---price", "b": "unknown"},
            {"c": "Agent---name", "d": "Agent---email", "e": "unknown", "f": "Address---street"}]
    assert stats.typed_share(pred, truth) == pytest.approx(4 / 6)
    assert stats.typed_share([pred[0], None], truth) == pytest.approx(2 / 6)
    assert stats.typed_share([{"a": "Listing---price"}], [truth[0]]) == 0.5  # missing column


def test_spec_triples_and_precision():
    gold = stats.spec_triples(SPEC.columns, SPEC.links)
    assert gold == {("A", "a1", "c0"), ("B", "b1", "c1"), ("B", "b2", "c2"), ("A", "ab", "B")}
    pred = stats.spec_triples(WRONG.columns, WRONG.links)
    assert stats.triple_precision(pred, gold) == 0.75  # 3 of its 4 triples are gold
    assert stats.triple_precision(set(), gold) == 0.0
    assert stats.mean_precision([pred, gold, None], [gold] * 3) == pytest.approx(1.75 / 3)


def test_program_ssd_triples_match_spec_triples():
    assert workloads.ssd_triples(workloads.to_ssd(SPEC)) == \
        stats.spec_triples(SPEC.columns, SPEC.links)


def test_modeler_quality_scores_rank_one(tmp_path):
    w = workloads.ModelerSuggest(workloads.Ctx(1, str(tmp_path), 1,
                                               workloads.Tracer(enabled=False)))
    held = gen.HeldOut({}, SPEC)
    rank = lambda spec, k: (workloads.to_ssd(spec), types.SimpleNamespace(karma_rank=k))  # noqa: E731
    results = [((0, held), [rank(WRONG, 1), rank(SPEC, 2)]), ((0, held), [rank(SPEC, 1)]),
               ((0, held), None)]
    assert w.quality(results) == pytest.approx((0.75 + 1.0 + 0.0) / 3)


def test_kept_columns():
    preds = {"a": {"X---p": 0.6, "unknown": 0.4}, "b": {"X---p": 0.3, "unknown": 0.3},
             "c": {"X---p": 0.0, "unknown": 0.0}, "d": {"X---p": 0.1}}
    assert workloads.kept_columns(preds) == {"a", "d"}


def test_suggestion_check():
    ssd = workloads.to_ssd(SPEC)
    good = [(ssd, types.SimpleNamespace(karma_rank=1)), (ssd, types.SimpleNamespace(karma_rank=2))]
    assert workloads.check_suggestions(good, {"c0", "c1", "c2"}) == []
    assert workloads.check_suggestions(good[::-1], {"c0", "c1", "c2"})  # ranks 2, 1
    assert workloads.check_suggestions(good, {"c0", "c1", "c2", "c3"})  # c3 unmapped
    assert workloads.check_suggestions([], {"c0"}) == ["no SSD suggested"]


def test_score_check():
    from serene_spark.ml.pipeline import score_column_name

    def row(col, scores):
        r = {"column_name": col, "confidence": max(scores.values(), default=0.0)}
        r.update({score_column_name(c): scores.get(c, 0.0) for c in workloads.CLASSES})
        return r

    good = [row("a", {"Listing---price": 0.7, "unknown": 0.3}), row("b", {"unknown": 1.0})]
    assert workloads.check_scores(good, ["a", "b"]) == []
    assert workloads.check_scores(good, ["a", "b", "c"])  # one row per column
    bad = dict(good[0], confidence=0.5)
    assert workloads.check_scores([bad, good[1]], ["a", "b"])
    over = row("a", {"Listing---price": 1.5})
    assert workloads.check_scores([over, good[1]], ["a", "b"])


def test_spark_quality_scores_the_labelled_columns_only(tmp_path):
    w = workloads.OctopusPredict(workloads.Ctx(1, str(tmp_path), 1,
                                               workloads.Tracer(enabled=False)))
    t = gen.upload(1, 0)
    labelled = [c for c, label in t.truth.items() if label != gen.UNKNOWN]
    assert 0 < len(labelled) < len(t.truth)

    def out(pred):
        return {"rows": [{"column_name": c, "predicted_class": p} for c, p in pred.items()]}

    unknown_wrong = {c: label if label != gen.UNKNOWN else gen.LISTING_CLASSES[0]
                     for c, label in t.truth.items()}
    assert w.quality([((t, ""), out(unknown_wrong))]) == 1.0
    one_wrong = dict(t.truth, **{labelled[0]: gen.UNKNOWN})
    assert w.quality([((t, ""), out(one_wrong)), ((t, ""), None)]) == \
        pytest.approx((len(labelled) - 1) / (2 * len(labelled)))
