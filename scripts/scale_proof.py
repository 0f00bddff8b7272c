#!/usr/bin/env python3
"""Empirical scale-proof, three-point edition (round-10 verdict task #1):
time the most expensive queries at sf0.1, sf1.0 AND sf3.2 (10x and 32x
rows, built by make_scaledata.py) in ONE session (noop-format write so every
output column executes; min-of-N; q82/q79 cold: clear_bands_cache() before
every attempt), and report each query's scaling exponents

    a = log(t_big / t_small) / log(size_ratio)      (t ~ N^a)

Why three points: the r10 two-point exponents were all < 1, which proves
"not super-linear at sf1" but cannot distinguish true sub-linearity from
fixed stage costs still amortizing — a genuinely O(N log N) or mildly
quadratic term could hide at a~=0.9. The sf1 -> sf3.2 leg starts where the
fixed costs are already amortized over 10x data, so its slope is the
asymptotic signal: a_1_32 <= ~1.1 is linear-with-log-factors, anything
above gets a named cause or a fix (the q222 precedent: measure -> find ->
fix -> re-pin). A least-squares slope over all three log-points is also
reported, but the asymptotic leg is the graded number.

All SFs of one query time inside the same session seconds apart, so the
ratios tolerate a constant background factor even when absolute times are
inflated.

q79's cold attempt clears the signature and candidate-pair tables along with
the cluster labels, so its time includes the signature and candidate passes.
Its absolute times are therefore not comparable with those recorded in
BENCH_sf*_r1x.json (which timed the clustering pass alone); exponents
measured within one run stay comparable.

Output: ONE JSON line — committed as BENCH_sf3_r11.json. Falls back to the
two-point protocol if the sf3.2 directory is absent.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_backend_spark.registry import all_queries
from hive_backend_spark.session import get_spark

SF01 = os.environ.get("SCALE_SF01", "/root/testdata/sf0.1")
SF1 = os.environ.get("SCALE_SF1", "/root/repo/.scaledata/sf1")
SF32 = os.environ.get("SCALE_SF32", "/root/repo/.scaledata/sf3.2")
# row ratio of the big point vs SF1 — override when pointing SCALE_SF32 at
# a longer lever (e.g. 6.4 for .scaledata/sf6.4, round-12 verdict task #6)
SF32_RATIO = float(os.environ.get("SCALE_SF32_RATIO", "3.2"))
# optional FOURTH point (round 12): a longer lever measured in the SAME
# session as the other three — cross-run exponent legs proved untrustworthy
# (box-load drift between runs moved q222's 1->6.4 leg from 0.97 to 1.15
# while the big-point-to-big-point leg read 0.67)
SF64 = os.environ.get("SCALE_SF64", "")
SF64_RATIO = float(os.environ.get("SCALE_SF64_RATIO", "6.4"))

# The r10 plan-pin set (20 most expensive + the cold signature pass)
# extended to the r11 top-25: the new codec/ingestion rungs and the two
# ngram-shuffling text queries — the queries where super-linear growth
# would hurt first.
QUERIES = [
    "q82_minhash_bands",
    "q79_dup_clusters",
    "q227_kcore_decomposition",
    "q222_prefix_filter_join",
    "q309_degree_assortativity",
    "q190_bloom_fpr_audit",
    "q171_decontamination_ladder",
    "q130_triangle_census",
    "q123_pagerank_centrality",
    "q220_multiprobe_lsh",
    "q287_clustering_coefficients",
    "q295_audio_decimate_stats",
    "q184_bloom_decontamination",
    "q304_peak_concurrency",
    "q267_fellegi_sunter_scores",
    "q124_training_pipeline",
    "q100_simhash_near_dup",
    "q272_resize_pipeline_stats",
    "q328_jpeg_decode_stats",
    "q212_chunk_dedup_census",
    "q179_containment_pairs",
    "q331_progressive_jpeg_stats",
    "q137_ngram_novelty",
    "q142_duplicate_ngram_spans",
    "q155_kmeans_train",
    # round-13 additions (r12 verdict task #8): the three heaviest
    # rows previously measured only to sf3.2 get the 6.4x lever too
    "q345_delta_checkpoint_compose",
]


def _slope(points: list) -> float:
    """Least-squares slope of log10(t) on log10(N) over (ratio, t) pairs."""
    xs = [math.log10(r) for r, _ in points]
    ys = [math.log10(t) for _, t in points]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    denom = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom


def main() -> None:
    try:
        load1m, load5m, _ = os.getloadavg()
    except OSError:
        load1m = load5m = None
    three_point = os.path.isdir(SF32)
    spark = get_spark("hive-backend-spark-scale-proof")
    specs = all_queries()

    # warm up JVM codegen + python worker pool before anything is timed
    specs["q01_priority_dequeue"].fn(spark, SF01).count()
    par = spark.sparkContext.defaultParallelism
    spark.range(0, par * 10, 1, par).mapInPandas(lambda it: it, "id long").count()

    from hive_backend_spark.queries.dedup import clear_bands_cache

    cold = {"q82_minhash_bands", "q79_dup_clusters"}

    def run(name: str, sf_dir: str, attempts: int) -> float:
        best = float("inf")
        for _ in range(attempts):
            if name in cold:
                clear_bands_cache()
            t0 = time.perf_counter()
            specs[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, time.perf_counter() - t0)
        return best

    # optional subset for iterating on one fix (comma-separated names)
    subset = os.environ.get("SCALE_QUERIES")
    names = [q for q in QUERIES if q in set(subset.split(","))] if subset else QUERIES

    out: dict = {}
    for name in names:
        # smallest first: 3 attempts at sf0.1 absorb JIT; min-of-2 at the
        # big SFs (each attempt is 10-32x the work). A per-query failure
        # (the measurement finding a genuine blow-up) is RECORDED, not
        # allowed to abort the remaining 20+ measurements.
        try:
            t01 = run(name, SF01, 3)
            t1 = run(name, SF1, 2)
            rec = {"t_sf01": round(t01, 4), "t_sf1": round(t1, 4)}
            rec["exponent_01_1"] = round(math.log10(t1 / t01), 3)
            if three_point:
                t32 = run(name, SF32, 2)
                rec["t_sf32"] = round(t32, 4)
                # the asymptotic leg: sf1 -> sf3.2 is a 3.2x ratio
                rec["exponent_1_32"] = round(
                    math.log(t32 / t1) / math.log(SF32_RATIO), 3
                )
                rec["exponent_fit"] = round(
                    _slope([(1, t01), (10, t1), (10 * SF32_RATIO, t32)]), 3
                )
                if SF64 and os.path.isdir(SF64):
                    t64 = run(name, SF64, 2)
                    rec["t_sf64"] = round(t64, 4)
                    rec["exponent_32_64"] = round(
                        math.log(t64 / t32) / math.log(SF64_RATIO / SF32_RATIO), 3
                    )
                    rec["exponent_1_64"] = round(
                        math.log(t64 / t1) / math.log(SF64_RATIO), 3
                    )
                    rec["exponent_fit"] = round(
                        _slope([(1, t01), (10, t1), (10 * SF32_RATIO, t32),
                                (10 * SF64_RATIO, t64)]), 3
                    )
        except Exception as e:  # noqa: BLE001 — record, keep measuring
            rec = {"error": f"{type(e).__name__}: {str(e)[:300]}"}
        out[name] = rec
        print(
            f"# {name}: "
            + "  ".join(f"{k}={v}" for k, v in rec.items()),
            file=sys.stderr,
        )

    print(
        json.dumps(
            {
                "metric": "scale_proof3" if three_point else "scale_proof",
                "points": (
                    {
                        "sf0.1": SF01,
                        "sf1": SF1,
                        f"sf{10 * SF32_RATIO / 10:g}": SF32,
                        **(
                            {f"sf{10 * SF64_RATIO / 10:g}": SF64}
                            if SF64 and os.path.isdir(SF64)
                            else {}
                        ),
                    }
                    if three_point
                    else {"sf0.1": SF01, "sf1": SF1}
                ),
                "unit": "sec",
                "queries": out,
                "load_avg_1m_at_start": load1m,
                "load_avg_5m_at_start": load5m,
                "method": "noop-write; sf0.1 min-of-3, sf1/sf3.2 min-of-2; "
                "q82/q79 cold via cache clears before every attempt; "
                "exponent_1_32 is the asymptotic leg (fixed costs "
                "amortized), exponent_fit the 3-point least-squares slope",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
