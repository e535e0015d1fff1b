"""Measure the matcher figures that ``gen.held_out`` draws candidate scores
from (the ``MATCHER_*`` constants).

    python3 perfbench/calibrate.py --seeds 1 2 --uploads 8

Sets up octopus_predict as a benchmark run of the first seed does (corpus
profile, 128-tree forest fit, model save and reload), scores the first
``--uploads`` uploads of each seed, and prints, over their labelled (not
``unknown``) columns, the share whose true type ranks first and the
10th-90th percentile ranges of the rank-1, rank-2 and rank-3/4 scores.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2])
    ap.add_argument("--uploads", type=int, default=8)
    ap.add_argument("--cpus", type=int, default=min(4, os.cpu_count() or 1))
    args = ap.parse_args()
    sys.path.insert(1, ROOT)
    import gen
    import spark_env
    from spans import Tracer
    from workloads import Ctx, OctopusPredict

    os.environ["SERENE_FIXTURE_CACHE"] = ""
    top1 = total = 0
    ranks: list[list[float]] = [[], [], []]
    work = os.path.join(ROOT, ".bench_work", f"calibrate-{os.getpid()}")
    os.makedirs(work)
    try:
        spark_env.configure(work, args.cpus, "3g", event_log=False)
        w = OctopusPredict(Ctx(args.seeds[0], work, args.cpus, Tracer(enabled=False)))
        w.prepare()
        w.setup()
        for seed in args.seeds:
            for i in range(args.uploads):
                table = gen.upload(seed, i)
                path = os.path.join(w.inputs, f"calibrate-{seed}-{i}.csv")
                with open(path, "w", encoding="utf-8", newline="") as fh:
                    fh.write(table.csv_text())
                preds = w.op((table, path))["preds"]
                for col, label in table.truth.items():
                    if label == gen.UNKNOWN:
                        continue
                    ranked = sorted(preds[col].items(), key=lambda kv: -kv[1])
                    top1 += ranked[0][0] == label
                    total += 1
                    ranks[0].append(ranked[0][1])
                    ranks[1].append(ranked[1][1])
                    ranks[2] += [ranked[2][1], ranked[3][1]]
        w.teardown()
        spark_env.stop(w.ctx.spark)
    finally:
        spark_env.ensure_stopped()
        shutil.rmtree(work, ignore_errors=True)
    print(f"MATCHER_TOP1_SHARE = {top1 / total:.3f}  # {top1} of {total} labelled columns")
    for name, values in zip(("TOP", "SECOND", "OTHER"), ranks):
        deciles = statistics.quantiles(values, n=10)
        print(f"MATCHER_{name}_SCORE = ({deciles[0]:.3f}, {deciles[-1]:.3f})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
