"""Past-the-bound probe: every bounded operator keeps its distributed
path as the at-scale fallback, but at sf0.1 the fixtures fit the one
driver bound (``util.DRIVER_ROWS``), so the bench exercises the
driver-local finishes and broadcast-state regimes only. This probe runs
each listed ENTRY both ways at a given SF —

  - declared: exactly what the registry/bench runs (bounded paths engage),
  - distributed: the same entry with ``util.DRIVER_ROWS`` patched to 0,
    which forces every operator onto its distributed path (entries in
    SEED_BOUND patch it to the row count of a table instead: their
    seed-scan top-k raises when its seed passes the bound, and a bound
    that fits the seed but not the seed x query pairs still takes the
    Spark path),

asserts the canonicalized results are IDENTICAL (the check_contract
canonicalization: %.6f floats, order-insensitive hash), times both with
the noop sink, counts the persisted RDDs each mode's run leaves held
while its result frame is alive (``held``: new ids in
``getPersistentRDDs`` after a forced ``gc``), and dumps the distributed
plan to ``plans/<dir>/<name>_distributed.txt``.

Usage:
    python tools/guard_probe.py SF_DIR [--reps N] [--plans DIR] [names...]
"""

from __future__ import annotations

import gc
import os
import statistics
import sys
import time
from unittest import mock

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
# Python workers unpickle package UDFs by module reference; they inherit
# PYTHONPATH from the environment, not the driver's sys.path mutation.
os.environ["PYTHONPATH"] = (
    _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")).rstrip(os.pathsep)

from check_contract import canon_pdf  # noqa: E402  (tools/ sibling)

# entries whose operators choose between a bounded and a distributed path
GUARDED = [
    "graph_connected_components", "graph_ktruss", "graph_kcore",
    "graph_shortest_paths", "graph_closeness_landmarks",
    "graph_eccentricity", "graph_stress_landmarks", "graph_scc",
    "graph_bowtie", "temporal_reach", "temporal_reach_converged",
    "dedup_survivors", "graph_pagerank", "graph_pagerank_personalized",
    "graph_pagerank_weighted", "graph_label_propagation", "graph_modularity",
    "graph_hits", "graph_random_walks", "graph_negative_samples",
    "traverse_bfs", "geo_grid_dbscan", "graph_cc_incremental",
    # pipeline.dedup.containment_pairs
    "dedup_containment",
    # pipeline.similarity.cosine_topk_bruteforce / _cosine_topk_seed_scan
    "ann_bruteforce_topk", "ann_binary_hamming", "ann_lsh_recall",
    "ann_ivf_recall", "ann_ivfpq_recall", "ann_recall_curve",
    "ann_truncation_recall", "embedding_hard_negatives",
    "knn_label_propagation",
]
# entry -> the table whose row count is the distributed run's bound
SEED_BOUND = {"embedding_hard_negatives": "embeddings",
              "knn_label_propagation": "embeddings"}


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args.pop(0)
    reps = 1
    plans_dir = None
    names: list[str] = []
    while args:
        a = args.pop(0)
        if a == "--reps":
            reps = int(args.pop(0))
        elif a == "--plans":
            plans_dir = args.pop(0)
        else:
            names.append(a)
    names = names or GUARDED

    from opt_measure import formatted_plan

    from vivace_graph_v3_spark import entry_queries as eq, util
    from vivace_graph_v3_spark.session import get_spark

    spark = get_spark("guard-probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = eq.queries()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    jsc = spark.sparkContext._jsc

    def persisted() -> set:
        gc.collect()
        return set(jsc.getPersistentRDDs().keySet())

    rows = []
    failures = []
    for name in names:
        def run(mode: str):
            samples = []
            result_hash = None
            before = persisted()
            for rep in range(reps):
                spark.sparkContext.setJobDescription(
                    f"guard-probe {name} {mode} rep{rep}")
                t0 = time.time()
                df = qs[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                samples.append(round(time.time() - t0, 3))
                if rep == 0:
                    result_hash = canon_pdf(df.toPandas())
                    held = len(persisted() - before)
                    if mode == "distributed" and plans_dir:
                        os.makedirs(plans_dir, exist_ok=True)
                        with open(f"{plans_dir}/{name}_distributed.txt",
                                  "w") as fh:
                            fh.write(formatted_plan(df))
            spark.sparkContext.setJobDescription(None)
            return statistics.median(samples), result_hash, held

        t_local, h_local, held_local = run("declared")
        bound = (spark.read.parquet(f"{sf_dir}/{SEED_BOUND[name]}.parquet")
                 .count() if name in SEED_BOUND else 0)
        with mock.patch.object(util, "DRIVER_ROWS", bound):
            t_dist, h_dist, held_dist = run("distributed")
        same = h_local == h_dist
        status = "IDENTICAL" if same else "MISMATCH"
        if not same:
            failures.append(name)
        rows.append((name, t_local, t_dist, held_local, held_dist, status))
        print(f"{name}: declared={t_local}s distributed={t_dist}s "
              f"held={held_local}/{held_dist} "
              f"{status} (hash {h_local[0]} vs {h_dist[0]}, "
              f"rows {h_local[1]} vs {h_dist[1]})", flush=True)

    print("\n| entry | declared s | distributed s | held declared "
          "| held distributed | results |")
    print("|---|---|---|---|---|---|")
    for row in rows:
        print("| " + " | ".join(str(v) for v in row) + " |")
    print(f"\n{len(rows) - len(failures)}/{len(rows)} identical; "
          f"failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
