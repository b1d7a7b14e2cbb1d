"""``star_ingest``: the reference pipeline end to end, one day at a time.

One op is one *day*: land that day's raw CSV into the landing directory,
drain it with ``stream_star_load(available_now=True)`` into the one
warehouse that lives for the whole run (the Snowflake-task tick), then
run the six analyst reads against the warehouse as it now stands, in a
seeded order with seeded parameters. Days run closed loop, one client,
until ``--seconds`` have passed (at least ``MIN_DAYS``, at most 30).

Set-up generates the month of raw files and warms the JVM with
``WARM_DAYS`` ticks and one of each read on a throwaway warehouse.

Outputs are checked against DuckDB: each read type once per run, right
after its first measured call, over the same files; after the loop, the
whole warehouse against a model of the days whose ticks succeeded.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import gen, stats

WARM_DAYS = 2
MIN_DAYS = 3
READ_TYPES = ["star_agg", "rollup", "point", "range", "time_travel", "diff"]
DIMS = [
    ("dimdate", "datetime", "datetime_skey"),
    ("dimplatform", "platform", "platform_skey"),
    ("dimsite", "site", "site_skey"),
    ("dimtitle", "video", "title_skey"),
]
DIM_COLS = {table: (nk, skey) for table, nk, skey in DIMS}


def dim_schema(nk: str, skey: str) -> T.StructType:
    return T.StructType(
        [T.StructField(skey, T.LongType(), False), T.StructField(nk, T.StringType())]
    )


def _parquet_files(d: str) -> list[str]:
    return sorted(glob.glob(os.path.join(d, "*.parquet")))


def _rows(con, sql: str, files: list[str]) -> list[tuple]:
    """Run ``sql`` with ``{src}`` bound to a parquet scan of ``files``."""
    src = f"read_parquet({files!r}, hive_partitioning = false)"
    return con.execute(sql.format(src=src)).fetchall()


def _same(spark_rows, duck_rows) -> bool:
    key = lambda r: tuple("" if v is None else str(v) for v in r)  # noqa: E731
    return sorted(map(key, spark_rows)) == sorted(map(key, duck_rows))


class Warehouse:
    """One landing directory, checkpoint and warehouse, driven tick by tick."""

    def __init__(self, ctx, root: str):
        from etl__project_spark.plans.star_load import ParquetWarehouse

        self.ctx = ctx
        self.land = os.path.join(root, "land")
        self.wh_root = os.path.join(root, "wh")
        self.ckpt = os.path.join(root, "ckpt")
        os.makedirs(self.land)
        self.wh = ParquetWarehouse(ctx.spark, self.wh_root)
        self.landed: list[str] = []  # raw files whose tick succeeded
        self.titles: list[str] = []  # VideoTitle values landed so far

    # -- ops ---------------------------------------------------------------
    def tick(self, path: str, record: bool = True):
        from etl__project_spark.streaming import pipeline

        def run():
            shutil.copy(path, self.land)
            q = pipeline.stream_star_load(
                self.ctx.spark, self.land, self.wh_root, self.ckpt, available_now=True
            )
            q.awaitTermination()

        _, op = self.ctx.timed("tick", os.path.basename(path), run, record)
        if op.error is None:
            self.landed.append(path)
            with duckdb.connect() as con:
                new = con.execute(_raw_sql([path], "DISTINCT VideoTitle")).fetchall()
            self.titles = sorted(set(self.titles) | {r[0] for r in new})
        return op

    def reads(self, record: bool = True, checked: set | None = None) -> list:
        types = list(READ_TYPES)
        self.ctx.rng.shuffle(types)
        ops = []
        for t in types:
            params = self._params(t)
            rows, op = self.ctx.timed(
                f"read.{t}", repr(params), lambda: self._read(t, params), record
            )
            op.params = params
            ops.append(op)
            if checked is not None and t not in checked and op.error is None:
                checked.add(t)
                self.ctx.check(self._check_read(t, params, rows), f"read.{t} {params}")
        return ops

    def _params(self, t: str) -> dict:
        rng = self.ctx.rng
        if t == "rollup":
            day = os.path.basename(rng.choice(self.landed))[3:5]
            h = rng.randrange(0, 22)
            return {"lo": f"2024-01-{day}T{h:02d}:00", "hi": f"2024-01-{day}T{h + 2:02d}:00"}
        if t == "point":
            if rng.random() < 0.5:
                return {"title": rng.choice(self.titles), "hit": True}
            return {"title": f"news|no such title {rng.randrange(10**6)}", "hit": False}
        if t == "range":
            n = self._rows_of("dimdate", self.current_version("dimdate"))
            width = max(1, n // 10)
            lo = rng.randrange(0, max(1, n - width))
            return {"lo": lo, "hi": lo + width}
        if t == "time_travel":
            table = rng.choice(DIMS)[0]
            return {"table": table, "version": rng.choice(self.published(table))}
        if t == "diff":
            vs = self.published("dimdate")
            a, b = sorted(rng.sample(vs, 2)) if len(vs) > 1 else (vs[0], vs[0])
            return {"v_from": a, "v_to": b}
        return {}

    def _read(self, t: str, p: dict):
        from etl__project_spark.plans import star_load as sl
        from etl__project_spark.sources.readers import RAW_SCHEMA
        from etl__project_spark.streaming.pipeline import ROLLUP_SCHEMA

        wh = self.wh
        if t == "star_agg":
            fact = wh.read_fact("factvideostart", sl.FACT_SCHEMA)
            plat = wh.read("dimplatform", dim_schema("platform", "platform_skey"))
            date = wh.read("dimdate", dim_schema("datetime", "datetime_skey"))
            return (
                fact.join(plat, "platform_skey")
                .join(date, "datetime_skey")
                .groupBy("platform", F.substring("datetime", 1, 10).alias("day"))
                .count()
                .collect()
            )
        if t == "rollup":
            return (
                wh.read("rollup_minute", ROLLUP_SCHEMA)
                .filter(F.col("minute").between(p["lo"], p["hi"]))
                .collect()
            )
        if t == "point":
            return sl.read_fact_point(
                wh, "credit", RAW_SCHEMA, "VideoTitle", p["title"]
            ).collect()
        if t == "range":
            return sl.read_fact_range(
                wh, "factvideostart", sl.FACT_SCHEMA, "datetime_skey", p["lo"], p["hi"]
            ).collect()
        if t == "time_travel":
            nk, skey = DIM_COLS[p["table"]]
            return wh.read(p["table"], dim_schema(nk, skey), version=p["version"]).collect()
        return sl.snapshot_diff(
            wh, "dimdate", dim_schema("datetime", "datetime_skey"),
            p["v_from"], p["v_to"], ["datetime"],
        ).collect()

    # -- storage views -----------------------------------------------------
    def _vdir(self, table: str, v: int) -> str:
        return os.path.join(self.wh_root, table, f"v{v}")

    def _rows_of(self, table: str, v: int) -> int:
        return sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(self._vdir(table, v)))

    def fact_files(self, table: str) -> list[str]:
        out = []
        for d in sorted(glob.glob(os.path.join(self.wh_root, table, "batch=*"))):
            if os.path.exists(os.path.join(d, "_SUCCESS")):
                out += _parquet_files(d)
        return out

    def current_version(self, table: str) -> int:
        """The version ``CURRENT`` points at. A publish that failed after
        its claim leaves a newer, never-published version directory."""
        with open(os.path.join(self.wh_root, table, "CURRENT")) as fh:
            return int(fh.read().strip())

    def published(self, table: str) -> list[int]:
        cur = self.current_version(table)
        return [v for v in self.wh.versions(table) if v <= cur]

    def current(self, table: str) -> list[str]:
        return _parquet_files(self._vdir(table, self.current_version(table)))

    def file_names(self) -> list[str]:
        return [n for _d, _s, names in os.walk(self.wh_root) for n in names]

    # -- output checks -----------------------------------------------------
    def _check_read(self, t: str, p: dict, rows) -> bool:
        con = duckdb.connect()
        try:
            if t == "star_agg":
                con.execute(f"CREATE VIEW f AS SELECT * FROM read_parquet({self.fact_files('factvideostart')!r}, hive_partitioning = false)")
                con.execute(f"CREATE VIEW p AS SELECT * FROM read_parquet({self.current('dimplatform')!r})")
                con.execute(f"CREATE VIEW d AS SELECT * FROM read_parquet({self.current('dimdate')!r})")
                want = con.execute(
                    "SELECT platform, substr(datetime, 1, 10), count(*) FROM f "
                    "JOIN p USING (platform_skey) JOIN d USING (datetime_skey) GROUP BY ALL"
                ).fetchall()
            elif t == "rollup":
                want = _rows(con, f"SELECT minute, n FROM {{src}} WHERE minute BETWEEN '{p['lo']}' AND '{p['hi']}'", self.current("rollup_minute"))
            elif t == "point":
                title = p["title"].replace("'", "''")
                want = _rows(con, f"SELECT DateTime, VideoTitle, events FROM {{src}} WHERE VideoTitle = '{title}'", self.fact_files("credit"))
                if p["hit"] and not want:
                    return False
            elif t == "range":
                want = _rows(con, f"SELECT * FROM {{src}} WHERE datetime_skey BETWEEN {p['lo']} AND {p['hi']}", self.fact_files("factvideostart"))
            elif t == "time_travel":
                nk, skey = DIM_COLS[p["table"]]
                want = _rows(con, f"SELECT {skey}, {nk} FROM {{src}}", _parquet_files(self._vdir(p["table"], p["version"])))
                rows = [(r[skey], r[nk]) for r in rows]
            else:
                con.execute(f"CREATE VIEW o AS SELECT * FROM read_parquet({_parquet_files(self._vdir('dimdate', p['v_from']))!r})")
                con.execute(f"CREATE VIEW n AS SELECT * FROM read_parquet({_parquet_files(self._vdir('dimdate', p['v_to']))!r})")
                want = con.execute(
                    "SELECT CASE WHEN o.datetime IS NULL THEN 'insert' WHEN n.datetime IS NULL "
                    "THEN 'delete' ELSE 'update' END, coalesce(n.datetime, o.datetime), "
                    "o.datetime_skey, n.datetime_skey FROM o FULL OUTER JOIN n "
                    "ON o.datetime IS NOT DISTINCT FROM n.datetime "
                    "WHERE o.datetime_skey IS DISTINCT FROM n.datetime_skey "
                    "OR o.datetime IS NULL OR n.datetime IS NULL"
                ).fetchall()
                rows = [(r["change"], r["datetime"], r["old_datetime_skey"], r["new_datetime_skey"]) for r in rows]
            return _same(rows, want)
        finally:
            con.close()

    def check_model(self) -> tuple[list[str], int]:
        """The warehouse against a DuckDB model of the landed days; returns
        the problems found and the fact rows committed."""
        from etl__project_spark.plans.catalog._shared import PARSED_CTE
        from etl__project_spark.refdata import VIDEO_DATA_CTE

        bad: list[str] = []
        if not self.landed:
            return bad, 0
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE TABLE video_data AS SELECT row_number() OVER () AS event_id, * "
                f"FROM ({_raw_sql(self.landed, 'DISTINCT *')})"
            )
            parse = PARSED_CTE[len(VIDEO_DATA_CTE) + 1:]
            con.execute(f"CREATE TABLE parsed AS WITH {parse} SELECT * FROM parsed")
            con.execute(f"CREATE VIEW fact AS SELECT * FROM read_parquet({self.fact_files('factvideostart')!r}, hive_partitioning = false)")
            for table, nk, skey in DIMS:
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet({self.current(table)!r})")
                n, keys, skeys, lo, hi = con.execute(
                    f"SELECT count(*), count(DISTINCT {nk}), count(DISTINCT {skey}), "
                    f"min({skey}), max({skey}) FROM {table}"
                ).fetchone()
                if not n == keys == skeys:
                    bad.append(f"{table}: keys not unique ({n} rows, {keys} keys, {skeys} skeys)")
                if (lo, hi) != (0, n - 1):
                    bad.append(f"{table}: skeys not continuous ({lo}..{hi} over {n} rows)")
                want = con.execute(f"SELECT count(DISTINCT {nk}) FROM parsed").fetchone()[0]
                if keys != want:
                    bad.append(f"{table}: {keys} keys, model has {want}")
            n_fact, n_model = con.execute(
                "SELECT (SELECT count(*) FROM fact), (SELECT count(*) FROM parsed)"
            ).fetchone()
            if n_fact != n_model:
                bad.append(f"fact rows {n_fact} != model {n_model}")
            diff = con.execute(
                "WITH got AS (SELECT d.datetime, p.platform, s.site, t.video FROM fact "
                "LEFT JOIN dimdate d USING (datetime_skey) "
                "LEFT JOIN dimplatform p USING (platform_skey) "
                "LEFT JOIN dimsite s USING (site_skey) "
                "LEFT JOIN dimtitle t USING (title_skey)), "
                "want AS (SELECT datetime, platform, site, video FROM parsed) "
                "SELECT count(*) FROM ((SELECT * FROM got EXCEPT ALL SELECT * FROM want) "
                "UNION ALL (SELECT * FROM want EXCEPT ALL SELECT * FROM got))"
            ).fetchone()[0]
            if diff:
                bad.append(f"fact joined to dims differs from the model in {diff} rows")
            con.execute(f"CREATE VIEW rollup AS SELECT * FROM read_parquet({self.current('rollup_minute')!r})")
            diff, got_sum, want_sum = con.execute(
                "WITH want AS (SELECT substr(DateTime, 1, 16) AS minute, count(*) AS n "
                "FROM video_data GROUP BY 1) "
                "SELECT (SELECT count(*) FROM ((SELECT minute, n FROM rollup EXCEPT SELECT * FROM want) "
                "UNION ALL (SELECT * FROM want EXCEPT SELECT minute, n FROM rollup))), "
                "(SELECT sum(n) FROM rollup), (SELECT sum(n) FROM want)"
            ).fetchone()
            if diff or got_sum != want_sum:
                bad.append(f"rollup_minute differs from the model ({diff} minutes; sum {got_sum} != {want_sum})")
        finally:
            con.close()
        return bad, n_fact


def _raw_sql(paths: list[str], select: str) -> str:
    return (
        f"SELECT {select} FROM read_csv({paths!r}, header = true, quote = '\"', "
        "escape = '\\', columns = {'DateTime': 'VARCHAR', 'VideoTitle': 'VARCHAR', "
        "'events': 'VARCHAR'})"
    )


def run(ctx) -> dict:
    """Set up, warm up, run the day loop; returns the workload's numbers."""
    inp = os.path.join(ctx.work, "in")
    os.makedirs(inp)
    events_path = os.path.join(inp, "events.parquet")
    pq.write_table(gen.events_table(ctx.seed, 0.1), events_path)
    days = gen.write_daily_raw(events_path, os.path.join(inp, "raw"), ctx.seed)

    warm = Warehouse(ctx, os.path.join(ctx.work, "warm"))
    for path in days[:WARM_DAYS]:
        warm.tick(path, record=False)
    warm.reads(record=False)
    shutil.rmtree(os.path.join(ctx.work, "warm"))
    setup_end = time.perf_counter()

    wh = Warehouse(ctx, os.path.join(ctx.work, "run"))
    checked: set = set()
    day_ops = []  # (tick op, read ops, files after the tick)
    t0 = time.perf_counter()
    for i, path in enumerate(days):
        if i >= MIN_DAYS and time.perf_counter() - t0 >= ctx.seconds:
            break
        tick = wh.tick(path)
        n_files = len(wh.file_names()) if ctx.tracer.enabled else 0
        reads = wh.reads(checked=checked) if tick.error is None else []
        day_ops.append((tick, reads, n_files))

    problems, fact_rows = wh.check_model()
    for what in problems:
        ctx.check(False, what)
    for t in READ_TYPES:
        ctx.check(t in checked, f"read.{t} never checked")

    ok_ticks = [t for t, _r, _n in day_ops if t.error is None]
    tick_wall = sum(t.wall for t in ok_ticks)
    input_bytes = sum(os.path.getsize(p) for p in wh.landed)
    stored, _files = stats.distinct_inode_bytes(wh.wh_root)
    names = wh.file_names()
    reads = [r for _t, rs, _n in day_ops for r in rs]
    return {
        "setup_end": setup_end,
        "walls": [t.wall + sum(r.wall for r in rs) for t, rs, _n in day_ops],
        "failed": any(t.error for t, _r, _n in day_ops) or any(r.error for r in reads),
        "report": {
            "days": len(day_ops),
            "ingest_tick_p50_s": stats.median([t.wall for t in ok_ticks]) if ok_ticks else None,
            "ingest_rows_per_s": fact_rows / tick_wall if tick_wall else None,
            "ingest_failed_frac": sum(1 for t, _r, _n in day_ops if t.error) / len(day_ops),
            "ingest_stored_bytes_per_input_byte": stored / input_bytes if input_bytes else None,
            "read_p50_s": stats.median([r.wall for r in reads]) if reads else None,
            "read_tail": stats.tail([r.wall for r in reads]),
            "read_n": len(reads),
            "wh_files": len(names),
            "max_name_len": max((len(n) for n in names), default=0),
            "failures": [f"{o.kind}:{o.name}:{o.error}" for o in ctx.ops if o.error],
        },
        "day_ops": day_ops,
        "warehouse": wh,
    }
