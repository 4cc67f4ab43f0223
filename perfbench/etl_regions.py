"""``etl_regions``: the reference job itself.

One closed-loop operation is a tick: ``runner.run_region_pipeline`` for
each of the six regions of ``configs/extract.yaml``, in a seeded order.
Each region run reads that tick's generated pages through the
``rumah123_listings`` Python DataSource, cleans them and merges them
into a throwaway Postgres through the wire-protocol sink. Set-up stages
tick 0 of every region straight into ``property_rumah`` (the state a
daily job finds), so every timed tick carries new, changed and
unchanged listings. Warm-up replays tick 0 of the first region through
the pipeline, paying the first DataSource and Python-worker start-up.
"""

from __future__ import annotations

import os
import random
import time

import oracle
from context import Context, median
from listings import ListingSite
from pg import COLUMN_NAMES, COLUMNS, ThrowawayPostgres
from spans import SparkStats, python_udf_seconds, timed_plan

MAIN, STG = "property_rumah", "stg_property_rumah"
PREFIX_REGIONS = 3
#: cards per generated page: with the config's 20 pages a region run
#: reads 4,000 cards, the region size the workload is specified at
CARDS_PER_PAGE = 200


class EtlRegions:
    name = "etl_regions"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.pg = ThrowawayPostgres()
        self.region_s: list[float] = []
        self.tick_s: list[float] = []
        self.rows_merged = 0
        self.changed_rows = 0
        self.last_tick: dict[str, str] = {}  # region id -> fixture dir
        self.next_tick = 1
        self.own_xacts = 0
        self.settings: dict[str, str] = {}

    # -- set-up ----------------------------------------------------------

    def setup(self, spark) -> None:
        from etl_property_rumah123_spark.config import (
            extract_config,
            load_config,
            read_config,
        )

        self.spark = spark
        root = self.ctx.root
        self.cfg = extract_config(read_config(os.path.join(root, "configs", "extract.yaml")))
        self.lc = load_config(read_config(os.path.join(root, "configs", "load.yaml")))
        pages, per_page = (2, 10) if self.ctx.tiny else (self.cfg.num_pages, CARDS_PER_PAGE)
        self.cfg.num_pages = pages
        self.site = ListingSite(
            self.ctx.seed, os.path.join(self.ctx.work, "listings"), pages, per_page
        )
        self.sock = self.pg.start(os.path.join(self.ctx.work, "pg"))
        for table in (MAIN, STG):
            self.pg.run(f"CREATE TABLE {table} ({COLUMNS})")
        self.settings = self.pg.settings()
        staged = {}
        for region in self.cfg.regions:
            tick0 = self.site.tick(region, 0)
            self.last_tick[region.id] = tick0.fixture_dir
            self.site.apply(tick0.rows)
            staged.update(tick0.rows)
        self._insert_state(staged)
        self._instrument()

    def _insert_state(self, rows: dict[str, tuple]) -> None:
        from etl_property_rumah123_spark.sinks.pgwire import insert_rows

        conn = self.pg.connect()
        try:
            insert_rows(
                conn, MAIN, COLUMN_NAMES,
                (dict(zip(COLUMN_NAMES, r)) for r in rows.values()), batch_size=500,
            )
            conn.commit()
        finally:
            conn.close()

    def _instrument(self) -> None:
        from etl_property_rumah123_spark import runner
        from etl_property_rumah123_spark.operators import cleaning
        from etl_property_rumah123_spark.sinks import jdbc_merge, pgwire

        t = self.ctx.tracer
        t.wrap(runner, "extract_region", "sources.listing_source.extract")
        t.wrap(cleaning, "transform_data", "operators.cleaning.transform")
        t.wrap(pgwire, "load_to_postgres_wire", "sinks.pgwire.load")
        t.wrap(pgwire, "write_staging_wire", "sinks.pgwire.stage")
        t.wrap(jdbc_merge, "merge_staging_to_main", "sinks.jdbc_merge.merge")

    # -- operations ------------------------------------------------------

    def _run_region(self, region, fixture_dir: str) -> int:
        from etl_property_rumah123_spark.runner import run_region_pipeline

        with self.ctx.tracer.span("runner.region", region=region.name):
            return run_region_pipeline(
                self.spark, self.cfg, self.lc, region,
                pg_dsn=self.sock,
                source_options={
                    "fixture_dir": fixture_dir, "base_sleep": "0", "min_sleep": "0",
                },
            )

    def warmup(self) -> None:
        region = self.cfg.regions[0]
        try:
            fresh = self._run_region(region, self.last_tick[region.id])
            self.ctx.record(fresh == 0, f"warm-up {region.name}: {fresh} fresh rows, want 0")
        except Exception as ex:  # noqa: BLE001 - a failed op is counted, not fatal
            self.ctx.record(False, f"warm-up {region.name}: {type(ex).__name__}: {ex}")

    def run_pass(self) -> float:
        """One tick over all regions; returns its wall time (s)."""
        k = self.next_tick
        self.next_tick += 1
        plan = [(r, self.site.tick(r, k)) for r in self.cfg.regions]
        random.Random(f"{self.ctx.seed}|order|{k}").shuffle(plan)
        results = []
        t_tick = time.perf_counter()
        for region, rt in plan:
            t0 = time.perf_counter()
            try:
                results.append((region, rt, self._run_region(region, rt.fixture_dir), None))
            except Exception as ex:  # noqa: BLE001
                results.append((region, rt, None, f"{type(ex).__name__}: {ex}"))
            self.region_s.append(time.perf_counter() - t0)
        self.tick_s.append(time.perf_counter() - t_tick)
        for region, rt, fresh, err in results:
            self.last_tick[region.id] = rt.fixture_dir
            want, changed, _same = self.site.apply(rt.rows)
            self.rows_merged += len(rt.rows)
            self.changed_rows += changed
            ok = err is None and fresh == want
            self.ctx.record(ok, f"tick {k} {region.name}: {err or f'{fresh} fresh, want {want}'}")
        return self.tick_s[-1]

    def check(self) -> None:
        """Postgres must hold exactly the generator's expected state."""
        expected = dict(self.site.expected)
        if self.ctx.corrupt_expected:
            link = min(expected)
            row = list(expected[link])
            row[-1] = (row[-1] or 0) + 1
            expected[link] = tuple(row)
        got = self.pg.run(f"SELECT {', '.join(COLUMN_NAMES)} FROM {MAIN}")
        ok = len(got) == len(expected) and oracle.value_hash(
            COLUMN_NAMES, got
        ) == oracle.value_hash(COLUMN_NAMES, list(expected.values()))
        self.ctx.record(ok, f"{MAIN}: {len(got)} rows, want {len(expected)} (value hash)")

    def e2e(self) -> dict[str, float]:
        return {
            "pass_s": median(self.tick_s),
            "rows_per_s": self.rows_merged / sum(self.tick_s),
            "batch_ms_p50": median(self.region_s) * 1e3,
        }

    # -- traced run ------------------------------------------------------

    def _pg_stats(self) -> dict[str, float]:
        """Cumulative pg_stat counters; polled until stable because
        backends flush their counters as they exit. ``own_xacts`` counts
        the polling queries, which are transactions too."""
        prev = None
        for _ in range(20):
            self.own_xacts += 2
            rows = self.pg.run(
                "SELECT relname, n_tup_ins, n_tup_upd, n_dead_tup "
                "FROM pg_stat_user_tables"
            )
            (xacts,) = self.pg.run(
                "SELECT xact_commit FROM pg_stat_database WHERE datname = 'postgres'"
            )[0]
            cur = {"xacts": float(xacts)}
            for rel, ins, upd, dead in rows:
                cur.update({f"{rel}.ins": ins, f"{rel}.upd": upd, f"{rel}.dead": dead})
            if prev is not None and all(
                cur[k] == prev[k] for k in cur if k != "xacts"
            ):
                return cur
            prev = cur
            time.sleep(0.3)
        return prev

    def begin_traced(self) -> None:
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        self.pg_before = self._pg_stats()
        self.own_before = self.own_xacts
        self.changed_before = self.changed_rows
        self.udf_before = python_udf_seconds(self.spark)

    def end_traced(self) -> None:
        self.udf_s = python_udf_seconds(self.spark) - self.udf_before
        pg_after = self._pg_stats()
        self.pg_delta = {k: pg_after[k] - self.pg_before.get(k, 0) for k in pg_after}
        self.pg_delta["xacts"] -= self.own_xacts - self.own_before
        self.changed_traced = self.changed_rows - self.changed_before

    def layer_metrics(self, stats: SparkStats, windows) -> dict[str, float]:
        from etl_property_rumah123_spark.operators.cleaning import transform_data
        from etl_property_rumah123_spark.runner import extract_region

        t = self.ctx.tracer
        d = self.pg_delta
        runs = len(t.timed("runner.region"))
        region_windows = t.windows_in("runner.region")
        region_stages = stats.stages_in(region_windows)
        # incremental prefixes on the last tick's pages of the first
        # PREFIX_REGIONS regions: extract alone, then extract +
        # transform, each forced with a noop write
        ex_s, tr_s, plan_s, raw_n, clean_n = [], [], [], 0, 0
        opts = {"base_sleep": "0", "min_sleep": "0"}
        prefix_regions = self.cfg.regions[:PREFIX_REGIONS]
        for region in prefix_regions:
            src = dict(opts, fixture_dir=self.last_tick[region.id])
            t0 = time.perf_counter()
            raw = extract_region(self.spark, self.cfg, region, src)
            raw.write.format("noop").mode("overwrite").save()
            ex_s.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            clean = transform_data(extract_region(self.spark, self.cfg, region, src))
            plan_s.append(timed_plan(clean))
            clean.write.format("noop").mode("overwrite").save()
            tr_s.append(time.perf_counter() - t0 - ex_s[-1])
            raw_n += raw.count()
            clean_n += clean.count()
        n = len(prefix_regions)
        upd = d.get(f"{MAIN}.upd", 0)
        out = stats.summary(windows, per=len(windows))
        out.update(
            {
                "spark.plan_s": sum(plan_s) / n,
                "runner.region_s": t.total_in("runner.region") / runs,
                "runner.jobs_per_region": len(stats.jobs_in(region_windows)) / runs,
                "sources.listing_source.extract_s": sum(ex_s) / n,
                "sources.listing_source.scans_per_region": sum(
                    1 for s in region_stages if s["shuffle_read_mb"] == 0
                ) / runs,
                "operators.cleaning.transform_s": sum(tr_s) / n,
                "operators.cleaning.rows_kept_ratio": clean_n / raw_n if raw_n else 0.0,
                "sinks.pgwire.stage_s": t.total_in("sinks.pgwire.stage") / runs,
                "sinks.pgwire.rows_staged": d.get(f"{STG}.ins", 0) / runs,
                "sinks.pgwire.pg_xacts": d["xacts"] / runs,
                "sinks.jdbc_merge.merge_s": t.total_in("sinks.jdbc_merge.merge") / runs,
                "sinks.jdbc_merge.rows_inserted": d.get(f"{MAIN}.ins", 0) / runs,
                "sinks.jdbc_merge.rows_updated": upd / runs,
                "sinks.jdbc_merge.dead_tuples": d.get(f"{MAIN}.dead", 0) / runs,
                "sinks.jdbc_merge.update_useful_ratio": (
                    self.changed_traced / upd if upd else 0.0
                ),
                "python_udf_s": self.udf_s / len(windows),
            }
        )
        return out

    def stamp(self) -> dict:
        return {
            "postgres": self.settings,
            "samples": {"pass_s": len(self.tick_s), "batch_ms_p50": len(self.region_s)},
        }

    def close(self) -> None:
        self.pg.stop()
