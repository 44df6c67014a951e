"""The benchmark's workloads.  Each one drives the program only through
its public entry points, on inputs that ``gen`` writes from the seed.

A workload object has:

- ``params``: input sizes and shares (BENCHMARK.json repeats them in
  each workload's ``why``);
- ``warm_up(spark)``: untimed operations that finish lazy set-up
  (JIT, codegen caches, Python workers);
- ``op(spark, i)``: one timed operation; returns its seconds;
- ``tracing(spark, spans)``: a context that traces one operation;
- ``failed_ops(spark, ok)``: independent output checks of the timed
  operations ``ok`` that returned; how many of them wrote a wrong
  result;
- ``layers(spark, spans, op_p50_s)``: workload-specific per-layer
  metrics of a traced run.
"""

from __future__ import annotations

import os
import time
from contextlib import ExitStack, contextmanager

import gen
import measure


# run_v2_batch's lazy stages, in lineage order: (attribute of
# pipelines.batch, span name)
BATCH_STAGES = (
    ("read_gdelt_zip", "sources.gdelt.read_gdelt_zip"),
    ("process_gdelt_events", "sources.gdelt.process_gdelt_events"),
    ("enrich_articles_fetch", "operators.enrich.enrich_articles_fetch"),
    ("geo_project", "operators.geo.geo_project"),
)


def _noop_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


class Backfill:
    """``run_v2_batch`` with the demo article fetcher over zipped drops:
    the reference's own job (drops -> cleaned events, articles,
    geometry and lastrun tables).  A real drop holds about 2,000 rows
    and a day 96 drops; the run budget allows half an hour of drops."""

    params = {"drops": 2, "rows_per_drop": 2000, "dup_share": gen.FIXTURE_DUP_SHARE}

    def __init__(self, seed: int, work: str):
        p = self.params
        drops = gen.backfill_drops(seed, p["drops"], p["rows_per_drop"], p["dup_share"])
        self.glob = gen.write_backfill(drops, os.path.join(work, "drops"))
        self.expected = gen.expected_backfill([r for d in drops for r in d])
        self.work = work

    def _call(self, spark, out: str) -> float:
        from gdelt_extractor_spark.operators.enrich import demo_fetcher
        from gdelt_extractor_spark.pipelines.batch import run_v2_batch

        t0 = time.perf_counter()
        run_v2_batch(spark, self.glob, out, fetcher=demo_fetcher)
        return time.perf_counter() - t0

    def warm_up(self, spark) -> None:
        self._call(spark, os.path.join(self.work, "warm"))

    def _out(self, i: int) -> str:
        return os.path.join(self.work, f"out{i}")

    def op(self, spark, i: int) -> float:
        return self._call(spark, self._out(i))

    @contextmanager
    def tracing(self, spark, spans: measure.Spans):
        from gdelt_extractor_spark.pipelines import batch

        with ExitStack() as stack:
            for attr, name in BATCH_STAGES:  # kept for ``layers``
                stack.enter_context(spans.around(batch, attr, name, keep_result=True))
            stack.enter_context(spans.around(
                batch, "write_parquet",
                lambda df, path, *a, **k: f"sinks.files.write_parquet.{os.path.basename(path)}_s",
            ))
            yield

    def failed_ops(self, spark, ok: list[int]) -> int:
        """Each op's four tables against the expected ones; one read per
        table name covers every op."""
        from pyspark.sql import functions as F

        def per_op(table: str, *cols: str):
            op = F.regexp_extract(F.input_file_name(), r"/out(\d+)/v2_\w+/", 1).cast("int")
            return spark.read.parquet(*(f"{self._out(i)}/{table}" for i in ok)).select(
                op.alias("op"), *cols
            )

        cols = [c for c, _ in gen.EXPORT_HASH_COLS]
        exports: dict[int, list] = {i: [] for i in ok}
        for r in per_op("v2_exports", *cols).collect():
            exports[r[0]].append(r[1:])
        counts = {
            t: dict(per_op(t).groupBy("op").count().collect())
            for t in ("v2_geom", "v2_articles", "v2_lastrun")
        }
        bad = 0
        for i in ok:
            got = {
                "v2_exports_rows": len(exports[i]),
                "v2_exports_hash": gen.table_hash(exports[i]),
                "v2_geom_rows": counts["v2_geom"].get(i, 0),
                "v2_articles_rows": counts["v2_articles"].get(i, 0),
            }
            bad += got != self.expected or counts["v2_lastrun"].get(i) != 1
        return bad

    def layers(self, spark, spans: measure.Spans, op_p50_s: float) -> dict:
        """Self time of each lazy stage: the median noop materialization
        of its output minus that of its input (two rounds, taken in
        turn so drift hits every frame alike)."""
        frames = [name for _, name in BATCH_STAGES]
        secs = {f: [] for f in frames}
        for _ in range(2):
            for f in frames:
                secs[f].append(_noop_s(spans.returned[f]))
        raw, clean, articles, geom = (measure.median(secs[f]) for f in frames)
        out = {
            "sources.gdelt.read_gdelt_zip_s": raw,
            "sources.gdelt.process_gdelt_events_s": clean - raw,
            "operators.enrich.enrich_articles_fetch_s": articles - clean,
            "operators.geo.geo_project_s": geom - clean,
        }
        for name in spans.calls:
            if name.startswith("sinks.files.write_parquet."):
                out[name] = measure.median(spans.seconds(name))
        # last: it stops this session
        out["session.local1_speedup"] = self._local1_s(spark) / op_p50_s
        return out

    def _local1_s(self, spark) -> float:
        """A warm call on a ``local[1]`` session started in the same
        JVM: one untimed call starts that session's Python worker, the
        second is timed."""
        from gdelt_extractor_spark.session import get_spark

        cpus = os.environ["SPARK_GRAFT_CPUS"]
        spark.stop()
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        try:
            one = get_spark("perfbench-local1")
            self._call(one, os.path.join(self.work, "local1-warm"))
            return self._call(one, os.path.join(self.work, "local1"))
        finally:
            os.environ["SPARK_GRAFT_CPUS"] = cpus


class Live:
    """``run_live_rollup`` re-run on each new 15-minute TSV drop: the
    reference's cron loop as a stream.  A tick is timed from when its
    drop is in the landing directory to when the call returns."""

    # the first tick after the cold one still runs about half again as
    # long as later ones, so two ticks warm up
    params = {"rows_per_drop": 2000, "dup_share": gen.FIXTURE_DUP_SHARE, "warm_up_ticks": 2}

    def __init__(self, seed: int, work: str):
        p = self.params
        self.stream = gen.LiveStream(seed, p["rows_per_drop"], p["dup_share"])
        self.landing = os.path.join(work, "landing")
        self.serving = os.path.join(work, "serving")
        self.checkpoint = os.path.join(work, "checkpoint")
        self.ticks: list[dict] = []

    def _tick(self, spark) -> float:
        from gdelt_extractor_spark.pipelines.live import run_live_rollup

        self.stream.write_next(self.landing)
        t0 = time.perf_counter()
        run_live_rollup(spark, self.landing, self.serving, self.checkpoint)
        return time.perf_counter() - t0

    def warm_up(self, spark) -> None:
        for _ in range(self.params["warm_up_ticks"]):
            self._tick(spark)

    def op(self, spark, i: int) -> float:
        return self._tick(spark)

    @contextmanager
    def tracing(self, spark, spans: measure.Spans):
        """Spans around the call and around each ``foreachBatch`` sink
        call, and a progress listener; the tick's layers are computed
        when the block ends."""
        from gdelt_extractor_spark.pipelines import live

        listener, events = measure.progress_listener(spark)
        spark.streams.addListener(listener)
        try:
            with spans.around(live, "run_live_rollup", "pipelines.live.call"), spans.around(
                live, "run_foreach_batch", "streaming.updates.run_foreach_batch",
                callback=(1, "pipelines.live.sink"),
            ):
                yield
        finally:
            measure.drain(spark)
            spark.streams.removeListener(listener)
        t0, t1 = spans.calls["pipelines.live.call"][-1]
        trig = sum(p.durationMs.get("triggerExecution", 0) for p in events) / 1e3
        ops = [s for p in events for s in p.stateOperators]
        last = ops[-1] if ops else None
        self.ticks.append({
            "streaming.updates.trigger_s": trig,
            "streaming.updates.start_stop_s": (t1 - t0) - trig,
            "streaming.updates.state_rows": last.numRowsTotal if last else 0,
            "streaming.updates.state_mb": last.memoryUsedBytes / 2**20 if last else 0.0,
            "streaming.updates.watermark_dropped_rows": sum(
                s.numRowsDroppedByWatermark for s in ops
            ),
            "pipelines.live.sink_s": sum(spans.seconds("pipelines.live.sink", since=t0)),
        })

    def failed_ops(self, spark, ok: list[int]) -> int:
        """The serving table after the last tick must hold the running
        totals of every kept row; a wrong table fails every tick, since
        each tick merged into it."""
        got = {
            (str(r.day), r.root_code): (r.n_events, r.n_articles)
            for r in spark.read.parquet(self.serving).collect()
        }
        return 0 if got == self.stream.expected_totals() else len(ok)

    def layers(self, spark, spans: measure.Spans, op_p50_s: float) -> dict:
        keys = self.ticks[0] if self.ticks else {}  # empty if every traced tick failed
        out = {k: measure.median(t[k] for t in self.ticks) for k in keys}
        out["sinks.files.table_files"] = sum(
            f.endswith(".parquet") for _, _, fs in os.walk(self.serving) for f in fs
        )
        return out


WORKLOADS = {"v2_backfill": Backfill, "live_rollup": Live}
