"""``catalog_headline``: the 17 ``bench.HEADLINE`` queries, one op each.

Set-up generates the fixture tables at scale 0.1 (the size ``bench.py``
times by default) and at scale 0.001, then runs ``vs_fact`` once on the small
tables. That one query takes the session's first-job costs (parquet
reader, codegen and broadcast set-up), which otherwise land on whichever
query runs first and were the largest source of run-to-run spread. There
is no fuller warm-up: a value-hash pass of all 17 queries at small scale
cost about 30 s and took only a third off the next pass, and in an
interleaved comparison the cold pass spread less. So the op figures
include each query's own first-execution JIT cost, as a scheduled batch
run pays it; ``bench.py`` remains the warm measurement.

The timed part runs passes over the 17 queries in ``HEADLINE`` order
into a noop sink, as ``bench.py`` does, until ``--seconds`` have passed
(at least one pass). Each query's figure is its median over the passes.

After the timed part, the queries whose ``HEADLINE`` index is congruent
to the seed modulo ``CHECK_STRIDE`` are value-hash checked against their
DuckDB ``ORACLES`` on the small tables through
``tools/check_correctness.compare_query``; any ``CHECK_STRIDE``
consecutive seeds check all 17. Checking all 17 in every run would add
about 10 s to a run the benchmark's time budget cannot spare.
"""

from __future__ import annotations

import os
import time

from perfbench import gen, stats

CHECK_STRIDE = 3


def run(ctx) -> dict:
    from bench import HEADLINE
    from etl__project_spark.plans import ORACLES, QUERIES
    from tools.check_correctness import compare_query, oracle_views

    spark = ctx.spark
    full = gen.write_fixture(os.path.join(ctx.work, "sf0.1"), ctx.seed, 0.1)
    small = gen.write_fixture(os.path.join(ctx.work, "sf0.001"), ctx.seed, 0.001)
    QUERIES["vs_fact"](spark, small).write.mode("overwrite").format("noop").save()
    spark.catalog.clearCache()
    setup_end = time.perf_counter()

    runs: dict[str, list] = {n: [] for n in HEADLINE}
    t0 = time.perf_counter()
    passes = 0
    while passes == 0 or time.perf_counter() - t0 < ctx.seconds:
        for name in HEADLINE:
            _, op = ctx.timed(
                "query",
                name,
                lambda: QUERIES[name](spark, full).write.mode("overwrite").format("noop").save(),
            )
            spark.catalog.clearCache()
            runs[name].append(op)
        passes += 1

    checked = HEADLINE[ctx.seed % CHECK_STRIDE :: CHECK_STRIDE]
    con = oracle_views(small)
    try:
        for name in checked:
            try:
                problems = compare_query(
                    spark, con, small, name, QUERIES[name], ORACLES.get(name)
                )
            except Exception as exc:  # noqa: BLE001 - a failing query is a failed check
                problems = [f"error {type(exc).__name__}"]
            spark.catalog.clearCache()
            for p in problems:
                ctx.check(False, f"{name}: {str(p).splitlines()[0]}")
    finally:
        con.close()

    failed = sorted(n for n, ops in runs.items() if any(o.error for o in ops))
    med = {
        n: stats.median([o.wall for o in ops]) if n not in failed else None
        for n, ops in runs.items()
    }
    walls = [w for w in med.values() if w is not None]
    return {
        "setup_end": setup_end,
        "walls": walls,
        "failed": bool(failed),
        "report": {
            "passes": passes,
            "catalog_total_s": None if failed else sum(walls),
            "queries_s": med,
            "failed_queries": failed,
            "checked_queries": checked,
            "failures": [f"{o.kind}:{o.name}:{o.error}" for o in ctx.ops if o.error],
        },
        "runs": runs,
    }
