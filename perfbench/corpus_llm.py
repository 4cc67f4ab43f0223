"""``corpus_llm``: the LLM-data operators layered on the engine.

One closed-loop operation is a pass over three steps, the first two in
a seeded order:

- ``dedup_components`` (registry): MinHash-LSH edges, then min-label
  connected components, whose rounds launch jobs at build time;
- ``ann_index``: an IVF index written on the standing corpus, appended
  with the new batch, then probed (the persisted lifecycle that
  ``ann_suite`` checks);
- ``stream_events``: the ``events`` table replayed as a bounded file
  stream (availableNow, RocksDB state) through the TWS dedup admission
  gate and native session windows; the admitted events are then
  committed to a snapshot-log table and read back. A query's first
  micro-batch carries its start-up, so the streaming metrics
  (``rows_per_s``, ``batch_ms_p50``) cover the batches after it, and
  the start-up counts in ``pass_s`` only.

The registry query is forced with a noop write. The warm-up pass runs
its three steps side by side, collects every batch result instead and
compares its value hash with the DuckDB oracle; streaming outputs and
snapshot contents are checked after every pass, outside the timed
window.
"""

from __future__ import annotations

import json
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

import oracle
from context import Context, median
from spans import SparkStats, python_udf_seconds, timed_plan

STEPS = ("dedup_components", "ann_index", "stream_events")
#: the replay is STREAM_FILES files, read FILES_PER_BATCH at a time by
#: each query. A query's first micro-batch carries its start-up (state
#: stores, Python workers; counted in pass_s), so each query runs at
#: least one steady-state batch after it, and the gate three
STREAM_FILES = 4
FILES_PER_BATCH = {"gate": 1, "sessions": 2}
ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _walk(path: str, since: float) -> tuple[int, int]:
    """(files, bytes) under ``path`` modified at or after ``since``."""
    files = size = 0
    for d, _dirs, names in os.walk(path):
        for n in names:
            try:
                st = os.stat(os.path.join(d, n))
            except OSError:
                continue
            if st.st_mtime >= since:
                files += 1
                size += st.st_size
    return files, size


def _stage_events(src: str, out_dir: str) -> None:
    """Split the ``events`` table into STREAM_FILES parquet files in
    event-time order, dated so that the file source lists them in that
    order. A naive ``ts`` is UTC wall-clock time, as the catalog reads
    it in the engine's UTC session."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(src)
    i = t.schema.get_field_index("ts")
    ts = t.column(i)
    if ts.type.tz is None:
        t = t.set_column(i, "ts", ts.cast(pa.timestamp(ts.type.unit, tz="UTC")))
    t = t.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    os.makedirs(out_dir)
    step = -(-t.num_rows // STREAM_FILES)
    now = time.time()
    for k in range(STREAM_FILES):
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(t.slice(k * step, step), path, coerce_timestamps="us")
        os.utime(path, (now - 100 + k, now - 100 + k))


class CorpusLlm:
    name = "corpus_llm"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        # the fixed scale-factor tables of the repository's oracle tests
        from tests.conftest import SF_CORRECTNESS, SF_SMOKE

        self.sf = SF_SMOKE if ctx.tiny else SF_CORRECTNESS
        self.pass_s: list[float] = []
        self.stream_rows = 0  # steady-state micro-batches of both queries
        self.stream_s = 0.0
        self.stream_batches = 0
        self.batch_ms: list[float] = []
        self.progress: list[dict] = []  # traced passes' streaming progress
        self.lake = os.path.join(os.environ["SPARK_GRAFT_SCRATCH"], "lake")
        self.committed_rows = 0
        self.files: list[tuple[int, int]] = []
        self.plan_s: list[float] = []
        self.step_s: dict[str, list[float]] = {}  # per step, every pass

    # -- set-up ----------------------------------------------------------

    def setup(self, spark) -> None:
        from etl_property_rumah123_spark.plans import load_all

        if not os.path.isdir(self.sf):
            raise RuntimeError(f"scale-factor tables not found: {self.sf}")
        self.spark = spark
        self.registry = load_all()
        self.oracles = oracle.OracleCache(
            os.path.join(self.ctx.root, ".perfbench_cache", "oracle.json")
        )
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
        spark.conf.set("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
        # the event stream: time-ordered files whose modification times
        # follow event time, so every micro-batch arrives in order
        self.events_dir = os.path.join(self.ctx.work, "events")
        _stage_events(os.path.join(self.sf, "events.parquet"), self.events_dir)
        self.events_schema = spark.read.parquet(self.events_dir).schema
        self.snapshot = os.path.join(self.lake, "admitted_events")
        self.ann_path = os.path.join(self.lake, "ann_ivf")
        self._instrument()

    def _instrument(self) -> None:
        from etl_property_rumah123_spark.operators import dedup, similarity
        from etl_property_rumah123_spark.sinks import table_log
        from etl_property_rumah123_spark.sources import catalog
        from etl_property_rumah123_spark.streaming import pipelines, tws

        t = self.ctx.tracer
        t.wrap(catalog, "table", "sources.catalog.table")
        t.wrap(dedup, "connected_components", "operators.dedup.cc")
        t.wrap(similarity, "write_ann_index", "operators.similarity.index_write")
        t.wrap(similarity, "append_ann_index", "operators.similarity.index_write")
        t.wrap(table_log, "commit_snapshot", "sinks.table_log.commit")
        t.wrap(table_log, "read_snapshot", "sinks.table_log.read")
        t.wrap(tws, "streaming_dedup_admission_tws", "streaming.tws.build")
        t.wrap(pipelines, "session_windows", "streaming.pipelines.build")

    # -- steps -----------------------------------------------------------

    def _registry(self, name: str, check: bool) -> None:
        spec = self.registry[name]
        with self.ctx.tracer.span("plans.build", query=name):
            df = spec.fn(self.spark, self.sf)
        if check:
            got = oracle.spark_hash(df)
            want = self.oracles.hash(self.sf, spec.oracle)
            self.ctx.record(got == want, f"{name}: value hash differs from its oracle")
            return
        if self.ctx.tracer.enabled:
            self.plan_s.append(timed_plan(df))
        df.write.format("noop").mode("overwrite").save()

    def _ann(self, check: bool) -> None:
        from etl_property_rumah123_spark.operators import similarity
        from etl_property_rumah123_spark.sources.catalog import table

        e = table(self.spark, self.sf, "embeddings")
        similarity.write_ann_index(
            e.filter(F.col("vec_id") % 4 != 0), self.ann_path,
            n_lists=16, salt="ivfx|",
        )
        similarity.append_ann_index(e.filter(F.col("vec_id") % 4 == 0), self.ann_path)
        with self.ctx.tracer.span("operators.similarity.probe"):
            probe = similarity.probe_ann_index(
                e.filter(F.col("vec_id") < 10), self.ann_path, k=5, n_probe=2
            ).select("query_id", "neighbor_id", "rank")
            if not check:
                probe.write.format("noop").mode("overwrite").save()
        if check:
            sql = (
                "SELECT query_id, neighbor_id, rank FROM ("
                + self.registry["ann_suite"].oracle
                + ") t WHERE method = 'ivf_index'"
            )
            got = oracle.spark_hash(probe)
            want = self.oracles.hash(self.sf, sql)
            self.ctx.record(got == want, "ann_index probe differs from its oracle")

    def _stream(self, tag: str) -> tuple[str, str]:
        from etl_property_rumah123_spark.sinks import table_log
        from etl_property_rumah123_spark.streaming import pipelines, tws

        def source(kind: str):
            return (
                self.spark.readStream.schema(self.events_schema)
                .option("maxFilesPerTrigger", str(FILES_PER_BATCH[kind]))
                .parquet(self.events_dir)
            )

        gate, sessions = f"pb_gate_{tag}", f"pb_sessions_{tag}"
        for build, kind, name in (
            (lambda s: tws.streaming_dedup_admission_tws(s, n_recent=100000), "gate", gate),
            (pipelines.session_windows, "sessions", sessions),
        ):
            q = pipelines.run_to_memory_sink(build(source(kind)), name)
            q.awaitTermination()
            first = True
            for p in q.recentProgress:
                rec = json.loads(p.json)
                rec["query"] = name
                if rec.get("numInputRows", 0) > 0:
                    if not first:  # steady state: start-up is in pass_s
                        self.stream_rows += rec["numInputRows"]
                        self.stream_s += rec["batchDuration"] / 1e3
                        self.stream_batches += 1
                        if name == gate:  # one mode: the gate's batches
                            self.batch_ms.append(rec["batchDuration"])
                    first = False
                if self.ctx.tracer.enabled:
                    self.progress.append(rec)
        table_log.commit_snapshot(self.spark.table(gate), self.snapshot)
        self.snapshot_rows = table_log.read_snapshot(self.spark, self.snapshot).count()
        return gate, sessions

    def _check_stream(self, gate: str, sessions: str) -> None:
        """Streaming outputs against their batch twins on the same files."""
        if not hasattr(self, "_twins"):
            batch = self.spark.read.parquet(self.events_dir)
            pairs = batch.select(
                "user_id", F.md5(F.coalesce(F.col("props"), F.lit(""))).alias("digest")
            ).distinct()
            sess = (
                batch.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
                .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("v"))
                .select("user_id", F.col("w.start").alias("s"), F.col("w.end").alias("e"), "n", "v")
            )
            self._twins = (
                {tuple(r) for r in pairs.collect()},
                {tuple(r) for r in sess.collect()},
            )
        want_pairs, want_sessions = self._twins
        got = self.spark.table(gate).select("user_id", "digest").collect()
        pairs = {tuple(r) for r in got}
        self.ctx.record(
            len(got) == len(pairs) and pairs == want_pairs,
            f"{gate}: {len(got)} admitted, want {len(want_pairs)} distinct (user, digest)",
        )
        emitted = {
            (r[0], r[1], r[2], r[3], round(r[4], 6))
            for r in self.spark.table(sessions).collect()
        }
        self.ctx.record(
            bool(emitted) and emitted <= want_sessions,
            f"{sessions}: {len(emitted - want_sessions)} sessions not in the batch twin",
        )
        self.committed_rows += len(got)
        want_rows = self.committed_rows + (1 if self.ctx.corrupt_expected else 0)
        self.ctx.record(
            self.snapshot_rows == want_rows,
            f"snapshot: {self.snapshot_rows} rows, want {want_rows}",
        )

    # -- operations ------------------------------------------------------

    def _step(self, tag: str, step: str, check: bool) -> tuple[str, str] | None:
        """Run one step of the pass tagged ``tag``; the stream step
        returns its two queries' names."""
        t_step = time.perf_counter()
        try:
            if step == "ann_index":
                self._ann(check)
            elif step == "stream_events":
                return self._stream(tag)
            else:
                self._registry(step, check)
        except Exception as ex:  # noqa: BLE001 - a failed op is counted, not fatal
            self.ctx.record(False, f"pass {tag} {step}: {type(ex).__name__}: {ex}")
        finally:
            self.step_s.setdefault(step, []).append(time.perf_counter() - t_step)
        return None

    def _pass(self, k: int, check: bool) -> float:
        # the stream closes every pass: started right after the previous
        # replay, its batches ran ~20% slower than after the other steps,
        # which made the seeded order a source of spread
        order = [s for s in STEPS if s != "stream_events"]
        random.Random(f"{self.ctx.seed}|order|{k}").shuffle(order)
        order.append("stream_events")
        t_start = time.time()
        t0 = time.perf_counter()
        streamed = None
        for step in order:
            streamed = self._step(str(k), step, check) or streamed
        dt = time.perf_counter() - t0
        if self.ctx.tracer.enabled:
            # the snapshot-log table only: the ANN index lives beside it
            # in the lake but is the similarity layer's output
            self.files.append(_walk(self.snapshot, t_start))
        if streamed:
            self._check_stream(*streamed)
        return dt

    def warmup(self) -> None:
        """The checked pass, untimed, with its three steps side by side:
        their first-use costs (class loading, Python workers, state
        stores, JIT) overlap instead of adding up. A second replay, on
        its own, follows: in the first timed replay after the checked
        pass alone, the gate's steady batches still got faster batch by
        batch."""
        with ThreadPoolExecutor(len(STEPS)) as pool:
            streamed = [r for r in pool.map(lambda s: self._step("0", s, True), STEPS) if r]
        if streamed:
            self._check_stream(*streamed[0])
        streamed = self._step("0s", "stream_events", False)
        if streamed:
            self._check_stream(*streamed)
        self.stream_rows, self.stream_s, self.stream_batches = 0, 0.0, 0
        self.batch_ms = []

    def run_pass(self) -> float:
        k = len(self.pass_s) + 1
        self.pass_s.append(self._pass(k, check=False))
        return self.pass_s[-1]

    def check(self) -> None:
        pass  # every pass is checked as it completes

    def e2e(self) -> dict[str, float]:
        return {
            "pass_s": median(self.pass_s),
            "rows_per_s": self.stream_rows / self.stream_s,
            "batch_ms_p50": median(self.batch_ms),
        }

    # -- traced run ------------------------------------------------------

    def begin_traced(self) -> None:
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        self.udf_before = python_udf_seconds(self.spark)
        self.progress, self.files, self.plan_s = [], [], []

    def end_traced(self) -> None:
        self.udf_s = python_udf_seconds(self.spark) - self.udf_before

    def layer_metrics(self, stats: SparkStats, windows) -> dict[str, float]:
        t = self.ctx.tracer
        n = len(windows)

        def per_pass(name: str) -> float:
            return t.total_in(name) / n

        def jobs(name: str) -> float:
            return len(stats.jobs_in(t.windows_in(name))) / n

        def prog(query_prefix: str, key: str) -> list[float]:
            return [
                p["durationMs"].get(key, 0) for p in self.progress
                if p["query"].startswith(query_prefix) and p.get("numInputRows", 0) > 0
            ]

        def state(query_prefix: str, key: str) -> float:
            last = [p for p in self.progress if p["query"].startswith(query_prefix)]
            ops = (last[-1].get("stateOperators") or []) if last else []
            return float(sum(o.get(key, 0) for o in ops))

        def commit_ms(query_prefix: str) -> list[float]:
            return [
                sum(o.get("commitTimeMs", 0) for o in p.get("stateOperators") or [])
                for p in self.progress
                if p["query"].startswith(query_prefix) and p.get("numInputRows", 0) > 0
            ]

        rows_in = sum(
            p["numInputRows"] for p in self.progress if p["query"].startswith("pb_gate")
        )
        rows_out = sum(
            p.get("sink", {}).get("numOutputRows", 0)
            for p in self.progress if p["query"].startswith("pb_gate")
        )
        out = stats.summary(windows, per=n)
        out.update(
            {
                "spark.plan_s": sum(self.plan_s) / n,
                "plans.build_s": per_pass("plans.build"),
                "plans.build_jobs": jobs("plans.build"),
                "sources.catalog.table_s": per_pass("sources.catalog.table"),
                "operators.dedup.cc_s": per_pass("operators.dedup.cc"),
                "operators.dedup.cc_jobs": jobs("operators.dedup.cc"),
                "operators.similarity.index_write_s": per_pass("operators.similarity.index_write"),
                "operators.similarity.probe_s": per_pass("operators.similarity.probe"),
                "sinks.table_log.commit_s": per_pass("sinks.table_log.commit"),
                "sinks.table_log.commits": len(t.timed("sinks.table_log.commit")) / n,
                "sinks.table_log.read_s": per_pass("sinks.table_log.read"),
                "sinks.table_log.files_written": sum(f for f, _ in self.files) / n,
                "sinks.table_log.mb_written": sum(b for _, b in self.files) / 1e6 / n,
                "streaming.tws.add_batch_ms": median(prog("pb_gate", "addBatch") or [0]),
                "streaming.tws.state_rows": state("pb_gate", "numRowsTotal"),
                "streaming.tws.state_mb": state("pb_gate", "memoryUsedBytes") / 1e6,
                "streaming.tws.state_commit_ms": median(commit_ms("pb_gate") or [0]),
                "streaming.pipelines.add_batch_ms": median(prog("pb_sessions", "addBatch") or [0]),
                "streaming.pipelines.state_mb": state("pb_sessions", "memoryUsedBytes") / 1e6,
                "streaming.wal_commit_ms": median(prog("pb_", "walCommit") or [0]),
                "streaming.rows_out_ratio": rows_out / rows_in if rows_in else 0.0,
                "python_udf_s": self.udf_s / n,
            }
        )
        return out

    def stamp(self) -> dict:
        return {
            "sf_dir": self.sf,
            "samples": {
                "pass_s": len(self.pass_s), "batch_ms_p50": len(self.batch_ms),
                "rows_per_s": self.stream_batches,
            },
            "gate_batch_ms": self.batch_ms,
            "step_s": {k: [round(x, 3) for x in v] for k, v in self.step_s.items()},
        }

    def close(self) -> None:
        if hasattr(self, "oracles"):
            self.oracles.close()
