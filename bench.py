"""Benchmark harness — driver contract.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: ``{"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": sf}``.

Noise-proofing (VERDICT r3 #1): each query runs ``N`` times
(``$SPARK_GRAFT_BENCH_RUNS``, default 3) and ``queries`` reports the
per-query MEDIAN; ``queries_min``/``queries_runs`` carry the min and raw
samples. ``baseline_ratio`` compares the medians against the checked-in
round-1 numbers (``_BASELINE``), per query and overall, so a contended
machine shows up as a uniform ratio shift instead of masquerading as a
code regression.

Failure visibility (ADVICE r3): a query that throws lands in ``failed``
and forces the headline ``value`` to null — a partial run can never be
read as a faster complete run.

Each query is forced end-to-end with a noop sink (full compute, no
driver-side collect overhead). Session startup and warm-up are excluded —
the driver compares engine throughput, not JVM boot.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl__project_spark.plans import QUERIES  # noqa: E402
from etl__project_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "vs_fact",
    "vs_fact_rollup",
    "vs_warehouse_load",
    "tpch_q1_pricing",
    "tpch_q3_shipping",
    "tpch_q5_region_volume",
    "tpch_topn_per_group",
    "ev_minute_rollup",
    "ev_sessionize",
    "doc_lsh_pairs",
    "doc_simhash",
    "doc_tfidf_top_terms",
    "ev_asof_signup",
    "emb_cosine_topk",
    # round-9 additions (VERDICT r8 #6): two IVM/maintenance-path
    # representatives, so maintenance regressions get round-over-round
    # steal-normalized tracking instead of one-off sweeps.
    "ev_quantile_cdc",
    "emb_ivf_cdc",
    # round-11 addition (VERDICT r10 #2): the Z-order write + zone-map
    # pruned READ, end to end through the real warehouse — the flagship
    # layout feature gets round-over-round tracking like the IVM reps.
    "ev_zorder_range_read",
]

# Operative baseline — per-query provenance (VERDICT r9 #7: the dict
# mixes measurement rounds and protocols; record them here so ratio
# archaeology never needs git):
#
# * 14 round-1 entries (vs_fact .. emb_cosine_topk, except
#   vs_warehouse_load): BENCH_r01.json single-shot numbers, sf0.1,
#   round-1 box. Pre-dates the median-of-3 protocol AND the
#   host_factor instrumentation — no steal reading exists for them;
#   VERDICT r3 designated them the operative baseline.
# * vs_warehouse_load: round-5 idle re-measure, median-of-3 at sf0.1
#   by THIS harness, 2026-08-14 (§9a protocol, idle box). ADVICE r4:
#   the prior 7.0 was a same-round hand projection the harness never
#   reproduced, while BENCH_r04's 9.245 s on the shared judge box read
#   as a standing 1.32x regression; the idle re-measure confirmed
#   contention, not code.
# * ev_quantile_cdc, emb_ivf_cdc: round-9 idle-box medians
#   (median-of-3 at sf0.1, 2026-08-16, §9a protocol — sequential
#   runs, nothing else on the box) — first-round baselines for the
#   IVM/maintenance representatives added to HEADLINE in round 9.
# * ev_zorder_range_read: round-11 idle-box median (median-of-3 at
#   sf0.1, 2026-08-16, §9a protocol) — first-round baseline for the
#   layout write+pruned-read representative added in round 11. Taken
#   from the bench's own warm context (a standalone 3-run session
#   measured 2.837 with first-touch costs; the in-bench median was
#   1.087 — the warm number is the honest baseline, a cold one would
#   flatter every later round by ~2.6x).
_BASELINE = {
    "vs_fact": 2.943,
    "vs_fact_rollup": 0.925,
    "vs_warehouse_load": 7.193,
    "tpch_q1_pricing": 1.164,
    "tpch_q3_shipping": 1.309,
    "tpch_q5_region_volume": 1.413,
    "tpch_topn_per_group": 0.591,
    "ev_minute_rollup": 0.748,
    "ev_sessionize": 0.806,
    "doc_lsh_pairs": 1.832,
    "doc_simhash": 1.01,
    "doc_tfidf_top_terms": 1.461,
    "ev_asof_signup": 1.053,
    "emb_cosine_topk": 0.539,
    "ev_quantile_cdc": 1.842,
    "emb_ivf_cdc": 4.696,
    "ev_zorder_range_read": 1.087,
}


class Normalized(tuple):
    """``(host_factor, normalized)`` — unpacks like the plain pair —
    plus ``anchored``: True when the median came from the caller's
    anchor set, False when it is the all-query median (no anchors
    given, or none of them had a ratio)."""

    anchored: bool

    def __new__(cls, host_factor, normalized, anchored: bool):
        self = super().__new__(cls, (host_factor, normalized))
        self.anchored = anchored
        return self


def normalize_ratios(
    ratios: dict[str, float],
    anchors: list[str] | None = None,
) -> Normalized:
    """Steal-proof normalization (VERDICT r7 #2, SCALE.md §9k): divide
    each query's baseline ratio by the within-run MEDIAN of ratios.

    Host-level CPU steal on this shared microVM multiplies every query's
    wall time by a near-uniform factor (measured 3.19× between two
    same-code runs 4 minutes apart, §9k), which reads as a fleet-wide
    "regression" in raw ratios. The uniform factor IS the median ratio,
    so dividing it out cancels steal exactly; only genuinely per-query
    regressions survive as ``normalized > 1``. Returns
    ``(host_factor, {query: normalized_ratio})`` — host_factor ≈ 1 on an
    idle box, > 1 under steal. Pure math, unit-tested in
    ``tests/test_bench_harness.py``.

    ``anchors`` (VERDICT r11 #8): a round that genuinely speeds up half
    the queries pulls the all-query median down, which reads the
    UNTOUCHED half as relatively regressed — the normalization cancels
    steal, not improvement. Analysis tooling that knows which queries a
    round touched can pass the untouched names as ``anchors``; the
    median (the steal estimate) is then computed over those only, so
    touched-query improvements cannot shift untouched queries'
    normalized ratios. ``bench.py`` itself has no touched-set knowledge
    and keeps the all-query median (``anchors=None``). When no anchor
    has a ratio the all-query median is used instead, and the result's
    ``anchored`` flag says so."""
    vals = sorted(v for v in ratios.values() if v is not None)
    anchor_vals = sorted(
        v for k, v in ratios.items() if v is not None and k in set(anchors or ())
    )
    if anchor_vals:
        vals = anchor_vals
    anchored = bool(anchor_vals)
    med = statistics.median(vals) if vals else 0
    if med <= 0:
        return Normalized(None, {}, anchored)
    return Normalized(
        round(med, 3),
        {k: round(v / med, 3) for k, v in ratios.items() if v is not None},
        anchored,
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    spark = get_spark("bench")
    print(
        "note: any 'WindowExec: No Partition Defined' warnings below come "
        "from census-pinned BOUNDED single-partition windows (tiny-dim "
        "dense-id paths, sketch finalizes — see "
        "tests/test_plans.py:SINGLE_PARTITION_CENSUS); they are expected "
        "and size-bounded by construction, not a scale defect.",
        file=sys.stderr,
    )

    # Warm up the JVM / filesystem once so per-query numbers measure the
    # engine, not first-touch costs: tiny sf0.001 runs covering each
    # query family compile the join/window/agg/explode/minhash codegen
    # paths and initialize the parquet readers (incl. the nanos-ts
    # events table) before anything is timed.
    # Failure isolation: one broken query must cost one null data point,
    # never the whole bench file (round-2 lesson: an uncaught warm-up
    # error produced rc=1 and zero numbers).
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    for warm in (
        "vs_fact",
        "doc_lsh_pairs",
        "ev_sessionize",
        "emb_cosine_topk",
        "ev_quantile_cdc",  # compiles the signed-fold/checkpoint path
    ):
        try:
            QUERIES[warm](spark, "/root/testdata/sf0.001").write.mode(
                "overwrite"
            ).format("noop").save()
        except Exception as exc:  # noqa: BLE001
            print(f"warmup {warm} failed: {exc}", file=sys.stderr)
        spark.catalog.clearCache()

    runs: dict[str, list[float]] = {name: [] for name in HEADLINE}
    failed: list[str] = []
    for name in HEADLINE:
        fn = QUERIES[name]
        for _ in range(n_runs):
            start = time.perf_counter()
            try:
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                runs[name].append(round(time.perf_counter() - start, 3))
            except Exception as exc:  # noqa: BLE001
                print(f"query {name} failed: {exc}", file=sys.stderr)
                if name not in failed:
                    failed.append(name)
                break
            finally:
                # Drop persisted frames a query may have left behind so
                # later runs aren't measured under another query's
                # cache/GC pressure.
                spark.catalog.clearCache()

    # ADVICE r4: a query that fails on run 2+ of N still has surviving
    # partial samples; reporting their median/ratio would read as a clean
    # measurement. Failed queries report null median/min/ratio — the raw
    # partial samples stay visible in queries_runs only.
    medians = {
        name: (round(statistics.median(ts), 3) if ts and name not in failed else None)
        for name, ts in runs.items()
    }
    mins = {
        name: (min(ts) if ts and name not in failed else None)
        for name, ts in runs.items()
    }
    ratios = {
        name: round(medians[name] / _BASELINE[name], 2)
        for name in HEADLINE
        if medians[name] is not None and _BASELINE.get(name) is not None
    }
    common = [n for n in ratios]
    overall_ratio = (
        round(
            sum(medians[n] for n in common) / sum(_BASELINE[n] for n in common), 3
        )
        if common
        else None
    )
    host_factor, normalized = normalize_ratios(ratios)
    # A partial run must never read as a faster complete run: any failure
    # nulls the headline value.
    total = (
        None
        if failed
        else round(sum(t for t in medians.values() if t is not None), 3)
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": medians,
                "queries_min": mins,
                "queries_runs": runs,
                "baseline_ratio": overall_ratio,
                "baseline_ratio_per_query": ratios,
                # §9k steal-proofing: host_factor is the within-run
                # median-of-ratios (uniform steal multiplier); the
                # normalized column divides it out, so a "means
                # regressed, mins flat" round reads as host_factor > 1
                # with normalized ratios ≈ flat — zero investigation.
                "host_factor": host_factor,
                "baseline_ratio_normalized_per_query": normalized,
                "failed": failed,
                "n_runs": n_runs,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                # Scaling observability (VERDICT r11 #2): the driver's
                # low-core probe flagged `suspect_cpus_ignored` and the
                # JSON could not prove otherwise. Echo the requested CPU
                # env, the session's EFFECTIVE master, its scheduler
                # parallelism, and the shuffle-partition count so a
                # local[8] run is verifiable from the artifact alone.
                "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
                "master": spark.sparkContext.master,
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "shuffle_partitions": int(
                    spark.conf.get("spark.sql.shuffle.partitions")
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
