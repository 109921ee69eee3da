"""The workloads: inputs, one job, the job's output check, and the
wrappers a traced run installs.

A job is what one user waits for, start to finish; the benchmark is a
closed loop with one client, so the next job starts only after the last
one finished and was checked. Each job returns its timing samples:

``job``     wall time of the job's calls into the engine (checks run after
            the clock stops);
``load``    the job's ingest phase, which starts from empty state;
``resync``  the job's apply phase, against what the ingest built;
``epoch``   one GTFS cycle or one stream micro-batch;

each a list of seconds. Failures are counted per operation in a
``Ledger``; an operation fails on an exception or a failed output check,
and nothing is retried.
"""

from __future__ import annotations

import io
import os
import re
import shutil
import time
import uuid
from contextlib import nullcontext, redirect_stdout

import duckdb

import gen

PROBE = "perfbench probe"


class Ledger:
    """Operations attempted and failed; the failures' messages."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, n_ops: int, problem: str | None) -> None:
        """Count ``n_ops`` operations; all of them failed if ``problem``."""
        self.attempted += n_ops
        if problem is not None:
            self.failed += n_ops
            self.errors.append(problem)

    def run(self, n_ops: int, check, *args) -> None:
        """Count ``n_ops`` operations, failed if ``check(*args)`` raises or
        returns a problem string (it returns None when the output is right)."""
        try:
            problem = check(*args)
        except Exception as e:  # noqa: BLE001 - a failed operation is data here
            problem = f"{type(e).__name__}: {str(e)[:300]}"
        self.record(n_ops, problem)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def _duck(sf_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')")
    return con


def _noop(tracer, df) -> float:
    """Run ``df`` to completion without output, in a probe span whose SQL
    executions are marked ``PROBE``; seconds taken."""
    sc = df.sparkSession.sparkContext
    sc.setJobDescription(PROBE)
    try:
        with tracer.span("probe") as sp:
            df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setJobDescription(None)
    return sp["end"] - sp["start"]


class Workload:
    name = ""

    def __init__(self, work: str):
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.stated: dict = {}

    def generate(self, seed: int) -> None:
        raise NotImplementedError

    def job(self, spark, ledger: Ledger, tracer) -> dict:
        raise NotImplementedError

    def warmup(self, spark, ledger: Ledger) -> None:
        """One untimed job before timing: JIT, Python workers and caches
        warm up. Its operations are checked and counted like any other."""
        self.job(spark, ledger, None)

    def install(self, tracer) -> None:
        """Wrap the engine functions this workload's per-layer metrics need."""

    def layer_samples(self) -> dict[str, list[float]]:
        """Per-layer samples the last traced job collected beyond its spans:
        one value per job, or one per epoch for epoch metrics."""
        return {}


# --- gtfs_stops_sync -----------------------------------------------------------

_STOPS_LINE = re.compile(r"stops_map: synced=(\d+) quarantined=(\d+) deleted=(\d+)")


class GtfsStopsSync(Workload):
    """Rounds of the ``stops_map`` CLI: cycle 0 loads the seeded feeds into
    empty state, every later cycle re-syncs a churned snapshot."""

    name = "gtfs_stops_sync"
    FEEDS, STOPS, CYCLES = 12, 300, 2

    def generate(self, seed: int) -> None:
        g = gen.gen_gtfs(seed, self.inputs, self.FEEDS, self.STOPS, self.CYCLES)
        self.cycles = g["cycles"]
        self.stated = g["stated"]
        self._rows = [0, 0]  # stop rows the source emitted, rows in archives
        self._exec: dict[str, float] = {}

    def job(self, spark, ledger, tracer) -> dict:
        return self._round(spark, ledger, tracer, self.cycles)

    def _round(self, spark, ledger, tracer, cycles) -> dict:
        from ntd_gtfs_to_socrata_spark import __main__ as cli
        from spans import last_execution_id, sql_node_rows

        base = os.path.join(self.work, "round-" + uuid.uuid4().hex[:8])
        state, out = os.path.join(base, "state"), os.path.join(base, "out")
        times = []
        for c, truth in enumerate(cycles):
            e0 = last_execution_id(spark) if tracer else None
            buf = io.StringIO()
            t0 = time.perf_counter()
            try:
                with redirect_stdout(buf):
                    cli.run_stops_map(spark, truth["glob"], state, out)
            except Exception as e:  # noqa: BLE001 - later cycles need this state
                ledger.record(len(cycles) - c,
                              f"cycle {c}: {type(e).__name__}: {str(e)[:300]}")
                break
            times.append(time.perf_counter() - t0)
            if tracer:
                self._rows[0] += sql_node_rows(spark, e0, "MapInPandas parse(", PROBE)
                self._rows[1] += truth["archive_rows"]
            ledger.run(1, self._check, spark, c, buf.getvalue(), state, truth)
        shutil.rmtree(base, ignore_errors=True)
        if not times:
            return {}
        return {"job": [sum(times)], "load": times[:1], "resync": times[1:],
                "epoch": times}

    @staticmethod
    def _check(spark, c, printed, state, truth):
        m = _STOPS_LINE.search(printed)
        if not m:
            return f"cycle {c}: no stops_map summary line"
        got = dict(zip(("synced", "quarantined", "deleted"), map(int, m.groups())))
        want = {k: truth[k] for k in got}
        if got != want:
            return f"cycle {c}: counts {got} != {want}"
        keys = spark.read.parquet(os.path.join(state, "stops_state")) \
            .select("feed_id_stop_id").toPandas()["feed_id_stop_id"]
        if gen.key_hash(keys) != truth["key_hash"]:
            return f"cycle {c}: synced key set differs from the generated one"
        return None

    def install(self, tracer) -> None:
        from ntd_gtfs_to_socrata_spark import __main__ as cli
        from ntd_gtfs_to_socrata_spark import sinks
        from ntd_gtfs_to_socrata_spark.plans import run_log, stops_sync
        from ntd_gtfs_to_socrata_spark.sources import zip_ingest

        last = {}

        def add(metric, seconds):
            self._exec[metric] = self._exec.get(metric, 0.0) + seconds

        def probe_source(out):
            last["source"] = _noop(tracer, out)
            add("sources.zip_ingest.exec_s", last["source"])

        def probe_sync(res):
            # each probe runs everything upstream of its frame again, so the
            # layer's own share is the difference to the upstream probe
            t_clean = _noop(tracer, res.clean)
            t_synced = _noop(tracer, res.synced)
            add("operators.validation.exec_s", t_clean - last.get("source", 0.0))
            add("operators.merge.exec_s", t_synced - t_clean)

        tracer.wrap(cli, "run_stops_map", "cli.run_stops_map")
        tracer.wrap(zip_ingest, "read_stops_from_zips",
                    "sources.zip_ingest.read_stops_from_zips", after=probe_source)
        tracer.wrap(stops_sync, "sync_stops", "plans.stops_sync.sync_stops",
                    after=probe_sync)
        tracer.wrap(sinks.LocalParquetSink, "write", "sinks.LocalParquetSink.write")
        tracer.wrap(run_log, "run_summary", "plans.run_log.run_summary")

    def layer_samples(self) -> dict[str, list[float]]:
        out = {k: [v] for k, v in self._exec.items()}
        if self._rows[1]:
            out["sources.zip_ingest.scan_amplification"] = [self._rows[0] / self._rows[1]]
        self._rows, self._exec = [0, 0], {}
        return out


# --- stream drain (part of llm_operator_mix) ------------------------------------

_SESSION_COLS = ["user_id", "session_start_epoch", "n_events", "duration_sec"]


class StreamStateful(Workload):
    """Seeded events staged as time slices, drained with availableNow
    through ``running_ewma`` (update) and ``sessionize_with_timeout``
    (append, watermark) into memory sinks. Not a workload of its own: the
    mix runs one drain per pass."""

    EVENTS, USERS, SLICES = 6000, 200, 2

    def generate(self, seed: int) -> None:
        from ntd_gtfs_to_socrata_spark.queries.time_windows import (
            EWMA_ORACLE,
            LAG_GAP_ORACLE,
        )

        self.stated = gen.gen_events(seed, self.inputs, self.EVENTS, self.USERS)["stated"]
        self.stated["slices"] = self.SLICES
        with _duck(self.inputs, ["events"]) as con:
            self.ewma = con.sql(EWMA_ORACLE).df()
            sessions = con.sql(LAG_GAP_ORACLE).df()
        self.sessions = set(sessions[_SESSION_COLS].itertuples(index=False, name=None))
        self._progress: list = []

    def job(self, spark, ledger, tracer) -> dict:
        from pyspark.sql import functions as F

        from ntd_gtfs_to_socrata_spark.io import load_table
        from ntd_gtfs_to_socrata_spark.streaming import event_windows as EW
        from ntd_gtfs_to_socrata_spark.streaming import stateful as STF

        events = load_table(spark, self.inputs, "events")
        run = uuid.uuid4().hex[:8]
        names = {"ewma": f"pb_ewma_{run}", "sessions": f"pb_sess_{run}"}
        t0 = time.perf_counter()
        try:
            staging = STF.stage_time_sliced(spark, events, n_slices=self.SLICES)
        except Exception as e:  # noqa: BLE001
            ledger.record(1, f"stage: {type(e).__name__}: {str(e)[:300]}")
            return {}
        t1 = time.perf_counter()
        src = (spark.readStream.schema(events.schema)
               .option("maxFilesPerTrigger", 1).parquet(staging))
        streams = {
            "ewma": (STF.running_ewma(src.filter(F.col("event_type") == "purchase")),
                     "update"),
            "sessions": (STF.sessionize_with_timeout(
                src.select("user_id", "event_id", "ts").withWatermark("ts", "1 hour"),
                gap_sec=1800), "append"),
        }
        epochs, first, drain_s = [], 0.0, 0.0
        for key, (frame, mode) in streams.items():
            t = time.perf_counter()
            try:
                q = EW.run_available_now_to_memory(frame, names[key], mode)
            except Exception as e:  # noqa: BLE001
                ledger.record(1, f"{key}: {type(e).__name__}: {str(e)[:300]}")
                continue
            drain_s += time.perf_counter() - t
            progress = q.recentProgress
            if tracer:
                self._progress.extend(progress)
            epoch_s = [p.durationMs["triggerExecution"] / 1000 for p in progress]
            first += epoch_s[0] if epoch_s else 0.0
            epochs += epoch_s
            check = self._check_ewma if key == "ewma" else self._check_sessions
            ledger.run(max(1, len(progress)), check, spark, names[key])
            spark.catalog.dropTempView(names[key])
        # the ingest phase is the staging plus each stream's first epoch,
        # which starts from an empty state store; later epochs resync
        job, load = (t1 - t0) + drain_s, (t1 - t0) + first
        return {"job": [job], "load": [load], "resync": [job - load], "epoch": epochs}

    def _check_ewma(self, spark, name):
        from tools.check_oracle import compare

        verdict = compare("stream_ewma", spark.table(name).toPandas(), self.ewma)
        return None if verdict == "OK" else f"ewma vs batch oracle: {verdict}"

    def _check_sessions(self, spark, name):
        got = spark.table(name).toPandas()[_SESSION_COLS]
        rows = list(got.itertuples(index=False, name=None))
        if not rows:
            return "no session emitted"
        if len(set(rows)) != len(rows):
            return "a session was emitted twice"
        extra = set(rows) - self.sessions
        if extra:
            return f"{len(extra)} emitted sessions are not batch lag-gap sessions"
        return None

    def install(self, tracer) -> None:
        from ntd_gtfs_to_socrata_spark.streaming import event_windows as EW
        from ntd_gtfs_to_socrata_spark.streaming import stateful as STF

        tracer.wrap(STF, "stage_time_sliced", "streaming.stateful.stage_time_sliced")
        tracer.wrap(EW, "run_available_now_to_memory",
                    "streaming.event_windows.run_available_now_to_memory")

    def layer_samples(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}

        def add(k, v):
            out.setdefault(k, []).append(float(v))

        for p in self._progress:
            add("streaming.epoch.add_batch_ms", p.durationMs.get("addBatch", 0))
            add("streaming.epoch.query_planning_ms", p.durationMs.get("queryPlanning", 0))
            add("streaming.epoch.wal_commit_ms", p.durationMs.get("walCommit", 0))
            for so in p.stateOperators:
                add("streaming.stateful.state_update_ms", so.allUpdatesTimeMs)
                add("streaming.stateful.state_commit_ms", so.commitTimeMs)
                add("streaming.stateful.state_rows", so.numRowsTotal)
                add("streaming.stateful.state_mem_bytes", so.memoryUsedBytes)
                add("streaming.stateful.state_partitions", so.numShufflePartitions)
        self._progress = []
        return out


# --- llm_operator_mix ----------------------------------------------------------

MIX = (
    "graph_closeness_centrality",
    "release_pipeline_counts",
)


class LlmOperatorMix(Workload):
    """Registry queries back to back over a seeded sf dir, each checked
    against its DuckDB oracle with ``tools/check_oracle.compare``, then one
    ``StreamStateful`` drain over seeded events: the mix's streaming
    member, and the benchmark's only state store."""

    name = "llm_operator_mix"
    DOCS, VECS = 600, 600

    def __init__(self, work: str):
        super().__init__(work)
        self.stream = StreamStateful(os.path.join(work, "stream"))

    def generate(self, seed: int) -> None:
        from ntd_gtfs_to_socrata_spark.queries import (
            LOCAL_ORACLES,
            ORACLES,
            load_all_query_modules,
        )

        from ntd_gtfs_to_socrata_spark.queries.release_q import RELEASE_ORACLE

        load_all_query_modules()
        self.stated = gen.gen_llm_sf(seed, self.inputs, self.DOCS, self.VECS)["stated"]
        self.stated["queries"] = len(MIX)
        oracles = {**ORACLES, **LOCAL_ORACLES}
        # the release oracle's first CTE is the cleaning rules; no document
        # passing them would hit the write_release defect in NOTES.md
        ruled = RELEASE_ORACLE[:RELEASE_ORACLE.index("canon AS")].rstrip().rstrip(",")
        with _duck(self.inputs, ["documents", "embeddings"]) as con:
            self.oracle = {q: con.sql(oracles[q]).df() for q in MIX}
            n_ruled = con.sql(ruled + " SELECT count(*) FROM ruled").fetchone()[0]
        self.stated["rule_pass_share"] = round(n_ruled / self.DOCS, 4)
        self.stream.generate(seed)
        self.stated["stream"] = self.stream.stated

    def job(self, spark, ledger, tracer) -> dict:
        """The queries, then the stream drain. ``load`` is the query builds
        plus the drain's ingest phase, ``resync`` the query actions plus the
        drain's later epochs, ``epoch`` the drain's micro-batches."""
        from ntd_gtfs_to_socrata_spark.operators.stagecache import release_all
        from ntd_gtfs_to_socrata_spark.queries import REGISTRY

        span = tracer.span if tracer else (lambda name: nullcontext())
        builds, execs = [], []
        for q in MIX:
            release_all()
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            try:
                with span(f"queries.{q}.build"):
                    df = REGISTRY[q](spark, self.inputs)
                t1 = time.perf_counter()
                with span(f"queries.{q}.exec"):
                    got = df.toPandas()
            except Exception as e:  # noqa: BLE001
                ledger.record(1, f"{q}: {type(e).__name__}: {str(e)[:300]}")
                continue
            t2 = time.perf_counter()
            builds.append(t1 - t0)
            execs.append(t2 - t1)
            ledger.run(1, self._check, q, got)
        release_all()
        spark.catalog.clearCache()
        drain = self.stream.job(spark, ledger, tracer)
        if len(builds) < len(MIX) or not drain:
            return {}  # a failed operation: the job has no complete time
        return {"job": [sum(builds) + sum(execs) + drain["job"][0]],
                "load": [sum(builds) + drain["load"][0]],
                "resync": [sum(execs) + drain["resync"][0]],
                "epoch": drain["epoch"]}

    def _check(self, q, got):
        from tools.check_oracle import compare

        verdict = compare(q, got, self.oracle[q])
        return None if verdict == "OK" else f"{q} vs oracle: {verdict}"

    def install(self, tracer) -> None:
        from ntd_gtfs_to_socrata_spark.operators import graph
        from ntd_gtfs_to_socrata_spark.plans import corpus_release as CR

        tracer.wrap(CR, "build_release", "plans.corpus_release.build_release")
        tracer.wrap(graph, "connected_components", "operators.graph.connected_components")
        self.stream.install(tracer)

    def layer_samples(self) -> dict[str, list[float]]:
        return self.stream.layer_samples()


WORKLOADS = {w.name: w for w in (GtfsStopsSync, LlmOperatorMix)}
