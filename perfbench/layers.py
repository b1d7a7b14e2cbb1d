"""The traced layers: which engine calls get spans, and the per-layer
metrics computed from those spans and the status-store job profile.

Every workload reports every per-layer metric; a layer a workload does
not reach reads 0 there (the catalog's ``vs_warehouse_load`` and
``ev_zorder_range_read`` do reach the warehouse write and read layers).
"""

from __future__ import annotations

import os

from perfbench import stats
from perfbench.star import READ_TYPES
from perfbench.trace import job_profile, self_time


def per_layer_specs() -> list[tuple[str, str, str]]:
    """``(name, unit, better)`` for every per-layer metric, in report order."""
    from bench import HEADLINE

    s = [
        ("streaming.start_s", "s", "lower"),
        ("streaming.tick_self_s", "s", "lower"),
        ("star_load.load_batch_s", "s", "lower"),
        ("star_load.publish_delta_s", "s", "lower"),
        ("star_load.publish_useful_frac", "frac", "higher"),
        ("star_load.fact_append_s", "s", "lower"),
        ("star_load.index_fact_batch_s", "s", "lower"),
        ("star_load.publish_merged_s", "s", "lower"),
        ("star_load.files_per_tick", "count", "lower"),
        ("star_load.wh_files", "count", "lower"),
        ("star_load.max_name_len", "chars", "lower"),
    ]
    s += [(f"read.{t}_p50_s", "s", "lower") for t in READ_TYPES]
    s += [
        ("read.p50_s", "s", "lower"),
        ("read.prune_s", "s", "lower"),
        ("read.live_dirs", "count", "lower"),
        ("read.files_skipped_frac", "frac", "higher"),
        ("read.useful_dir_frac", "frac", "higher"),
        ("ingest.tick_p50_s", "s", "lower"),
        ("ingest.rows_per_s", "rows/s", "higher"),
        ("ingest.stored_bytes_per_input_byte", "ratio", "lower"),
        ("sources.load_table_s", "s", "lower"),
        ("sources.load_table_calls", "count", "lower"),
    ]
    for q in HEADLINE:
        s += [
            (f"catalog.{q}_s", "s", "lower"),
            (f"catalog.{q}.driver_only_s", "s", "lower"),
            (f"catalog.{q}.jobs", "count", "lower"),
            (f"catalog.{q}.tasks", "count", "lower"),
        ]
    s += [
        ("spark.jobs", "count", "lower"),
        ("spark.driver_only_s", "s", "lower"),
        ("spark.task_cpu_s", "s", "lower"),
        ("spark.gc_s", "s", "lower"),
        ("spark.tasks", "count", "lower"),
        ("spark.shuffle_write_bytes", "bytes", "lower"),
        ("trace.overhead_s", "s", "lower"),
        ("process.peak_rss_mb", "MB", "lower"),
    ]
    return s


def _table(args, kwargs, result):
    return {"table": args[1] if len(args) > 1 else kwargs.get("table"), "result": result}


def _prune(args, kwargs, result):
    kept, skipped = result
    return {"kept": list(kept), "skipped": len(skipped)}


def trace_targets() -> list:
    """``(owner, attr, span name, describe)`` for ``Tracer.install``."""
    from etl__project_spark.operators import layout
    from etl__project_spark.plans import star_load as sl
    from etl__project_spark.sources import tables
    from etl__project_spark.streaming import pipeline

    wh = sl.ParquetWarehouse
    return [
        (pipeline, "stream_star_load", "streaming.start", None),
        (sl, "load_batch", "star_load.load_batch", None),
        (wh, "publish", "star_load.publish", _table),
        (wh, "publish_delta", "star_load.publish_delta", _table),
        (wh, "publish_merged", "star_load.publish_merged", _table),
        (wh, "fact_append", "star_load.fact_append", _table),
        (sl, "index_fact_batch", "star_load.index_fact_batch", None),
        (sl, "prune_dirs_for_key", "read.prune", _prune),
        (layout, "prune_files_for_range", "read.prune", _prune),
        (sl, "read_fact_point", "read.read_fact_point", None),
        (sl, "read_fact_range", "read.read_fact_range", None),
        (sl, "snapshot_diff", "read.snapshot_diff", None),
        (tables, "load_table", "sources.load_table", None),
    ]


def _sum(spans, name: str) -> float:
    return sum(s.dur for s in spans if s.name == name)


def _delta_rows(wh_root: str, table: str, version: int) -> int:
    """Rows a ``publish_delta`` wrote itself (not hardlinked from its base)."""
    import pyarrow.parquet as pq

    d = os.path.join(wh_root, table, f"v{version}")
    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith("base-")
    )


def compute(ctx, workload: str, result: dict) -> dict[str, float]:
    """Every per-layer metric for one traced run."""
    out = {name: 0.0 for name, _u, _b in per_layer_specs()}
    spans = ctx.tracer.spans
    ops = ctx.ops
    by_op: dict[str, list] = {}
    for s in spans:
        if s.op and not s.name.startswith("op."):
            by_op.setdefault(s.op, []).append(s)
    timed = [s for o in ops for s in by_op.get(o.key, [])]

    if workload == "star_ingest":
        ticks = [t for t, _r, _n in result["day_ops"] if t.error is None]
        units = max(1, len(ticks))
    else:
        units = max(1, result["report"]["passes"])

    for key, name in [
        ("streaming.start_s", "streaming.start"),
        ("star_load.load_batch_s", "star_load.load_batch"),
        ("star_load.publish_delta_s", "star_load.publish_delta"),
        ("star_load.fact_append_s", "star_load.fact_append"),
        ("star_load.index_fact_batch_s", "star_load.index_fact_batch"),
        ("star_load.publish_merged_s", "star_load.publish_merged"),
        ("sources.load_table_s", "sources.load_table"),
    ]:
        out[key] = _sum(timed, name) / units
    out["sources.load_table_calls"] = sum(
        1 for s in timed if s.name == "sources.load_table"
    ) / units

    prunes = [s for s in timed if s.name == "read.prune"]
    n_kept = sum(len(s.attrs.get("kept", [])) for s in prunes)
    n_skip = sum(s.attrs.get("skipped", 0) for s in prunes)
    out["read.files_skipped_frac"] = n_skip / (n_kept + n_skip) if prunes else 0.0

    wh = result.get("warehouse")
    if wh is not None:
        wh_root = wh.wh_root
        day_ops = result["day_ops"]
        tick_spans = [t.span for t in ticks if t.span is not None]
        out["streaming.tick_self_s"] = stats.median(
            [self_time(sp, spans) for sp in tick_spans]
        ) if tick_spans else 0.0
        deltas = [s for s in timed if s.name == "star_load.publish_delta" and s.error is None]
        useful = sum(1 for s in deltas if _delta_rows(wh_root, s.attrs["table"], s.attrs["result"]) > 0)
        out["star_load.publish_useful_frac"] = useful / len(deltas) if deltas else 0.0
        counts = [n for _t, _r, n in day_ops]
        out["star_load.files_per_tick"] = stats.median(
            [b - a for a, b in zip([0] + counts, counts)]
        ) if counts else 0.0
        rep = result["report"]
        out["star_load.wh_files"] = rep["wh_files"]
        out["star_load.max_name_len"] = rep["max_name_len"]
        for k in ("tick_p50_s", "rows_per_s", "stored_bytes_per_input_byte"):
            out[f"ingest.{k}"] = rep[f"ingest_{k}"] or 0.0
        reads = [r for _t, rs, _n in day_ops for r in rs if r.error is None]
        for t in READ_TYPES:
            walls = [r.wall for r in reads if r.kind == f"read.{t}"]
            out[f"read.{t}_p50_s"] = stats.median(walls) if walls else 0.0
        out["read.p50_s"] = stats.median([r.wall for r in reads]) if reads else 0.0
        out["read.prune_s"] = (
            sum(s.dur for r in reads for s in by_op.get(r.key, []) if s.name == "read.prune")
            / len(reads) if reads else 0.0
        )
        point = [r for r in reads if r.kind == "read.point"]
        point_prunes = [
            s for r in point for s in by_op.get(r.key, [])
            if s.name == "read.prune"
        ]
        if point_prunes:
            out["read.live_dirs"] = stats.median(
                [len(s.attrs["kept"]) + s.attrs["skipped"] for s in point_prunes]
            )
        out["read.useful_dir_frac"] = _useful_dir_frac(point, by_op)
    else:
        runs = result["runs"]
        for q, qops in runs.items():
            ok = [o for o in qops if o.error is None]
            if not ok:
                continue
            profs = [job_profile(o.jobs, o.start, o.end) for o in ok]
            out[f"catalog.{q}_s"] = stats.median([o.wall for o in ok])
            out[f"catalog.{q}.driver_only_s"] = stats.median([p["driver_only_s"] for p in profs])
            out[f"catalog.{q}.jobs"] = stats.median([p["jobs"] for p in profs])
            out[f"catalog.{q}.tasks"] = stats.median([p["tasks"] for p in profs])

    ok = [o for o in ops if o.error is None]
    profs = [job_profile(o.jobs, o.start, o.end) for o in ok]
    for k in ("jobs", "driver_only_s", "task_cpu_s", "gc_s", "tasks", "shuffle_write_bytes"):
        out[f"spark.{k}"] = sum(p[k] for p in profs) / len(profs) if profs else 0.0
    out["trace.overhead_s"] = sum(o.trace_self_s for o in ops) / max(1, len(ops))
    return out


def _useful_dir_frac(point_ops, by_op) -> float:
    """Point-read directories that held the key ÷ directories read."""
    import duckdb

    read = useful = 0
    with duckdb.connect() as con:
        for r in point_ops:
            title = r.params["title"].replace("'", "''")
            for s in by_op.get(r.key, []):
                if s.name != "read.prune":
                    continue
                for d in s.attrs["kept"]:
                    read += 1
                    n = con.execute(
                        f"SELECT count(*) FROM read_parquet('{d}/*.parquet', "
                        f"hive_partitioning = false) WHERE VideoTitle = '{title}'"
                    ).fetchone()[0]
                    useful += n > 0
    return useful / read if read else 0.0
