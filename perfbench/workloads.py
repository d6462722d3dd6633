"""The two workloads, `query` and `pipeline`. Each one makes its inputs
from the seed, warms the engine up, runs a closed loop with one client
for the measured time, and checks every result against a reference the
benchmark computes on its own (DuckDB SQL, its own dedup of the feed, a
replayed change log, or the planted pairs).

`pipeline` runs three parts in turn, each a class below: `Ingest`,
`TableRW` and `NearDup`.

A workload's `layers` method turns a traced run into the per-layer
metrics of the modules it exercises; `run.py` fills in zeros for the
layers a workload leaves idle.
"""

from __future__ import annotations

import calendar
import datetime as dt
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import time
import traceback
from urllib.parse import unquote, urlparse

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql.streaming import StreamingQueryListener

import inputs
from harness import WORK_ROOT, OpLog, fresh_dir
from tracing import Span, children, subtree_jobs


def to_us(value: dt.datetime) -> int:
    """Epoch microseconds of a collected (UTC, naive) timestamp."""
    return calendar.timegm(value.utctimetuple()) * 1_000_000 + value.microsecond


def iso(us: int) -> str:
    return dt.datetime.fromtimestamp(us / 1e6, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")


def same_rows(got: list[tuple], want: list[tuple], ordered: bool = False) -> bool:
    """Row lists equal, floats compared to 1e-9; order-insensitive unless `ordered`."""
    if len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got), sorted(want)
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for x, y in zip(g, w):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


PROBE = "perfbench.probe"  # trace-only inspection; its jobs are not the engine's


def log_failure(what: str) -> None:
    print(f"perfbench: FAILED {what}", flush=True)


def dir_files(path: str) -> dict[str, int]:
    """Parquet data files under `path` and their sizes."""
    out = {}
    for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        if "/." not in p[len(path):]:
            out[p] = os.path.getsize(p)
    return out


class Workload:
    name = ""  # BENCHMARK.json records why each workload is there
    # Seconds of untimed rehearsal of the measured loop, run on the first
    # set-up's state: without it the measured operations pay class
    # loading, code generation and JIT compilation.
    rehearsal_s = 0.0

    def __init__(self, seed: int, work: str, tracer) -> None:
        self.seed = seed
        self.tracer = tracer
        self.inputs = os.path.join(work, "inputs")
        self.notes: dict[str, float] = {}  # extra lines for the human table

    def make_inputs(self) -> None:
        raise NotImplementedError

    def warm_up(self, spark) -> None:
        raise NotImplementedError

    def measure(self, spark, seconds: float, ops: OpLog) -> None:
        raise NotImplementedError

    def final_check(self, spark, ops: OpLog) -> None:
        pass

    def install_wraps(self, spark) -> None:
        pass

    def layers(self, spans: list[Span]) -> dict[str, float]:
        return {}


# ------------------------------------------------------------------ query

QUERY_WARMUP = 4  # one request of each type per set-up; measuring starts with an empty cache


class Query(Workload):
    name = "query"
    rehearsal_s = 12.0

    def make_inputs(self) -> None:
        self.sf_dir = os.path.join(fresh_dir(self.inputs), "sf")
        inputs.write_query_inputs(self.seed, self.sf_dir)
        self.requests = inputs.query_requests(self.seed)
        self._clear_cache()
        self.responses: list[tuple[dict, list]] = []

    def _clear_cache(self) -> None:
        from data_ingestion_pipeline_spark.operators.upsert import scratch_path

        shutil.rmtree(scratch_path("result_cache"), ignore_errors=True)

    def _call(self, api, req: dict):
        kind = req["kind"]
        if kind == "latest":
            return api.latest()
        args = (req["station"], iso(req["start_us"]), iso(req["end_us"]))
        if kind == "raw":
            return api.raw(*args, limit=req["limit"], offset=req["offset"])
        if kind == "aggregate":
            return api.aggregate(*args)
        return api.timeseries(*args, interval=req["interval"])

    def warm_up(self, spark) -> None:
        from data_ingestion_pipeline_spark.api import QueryAPI

        api = QueryAPI(spark, self.sf_dir, cache=True)
        for req in self.requests[:QUERY_WARMUP]:
            self._call(api, req).collect()
        self._clear_cache()

    def measure(self, spark, seconds: float, ops: OpLog) -> None:
        from data_ingestion_pipeline_spark.api import QueryAPI

        api = QueryAPI(spark, self.sf_dir, cache=True)
        tr = self.tracer
        seen: set[str] = set()
        repeats = 0
        for i, req in enumerate(self.requests):
            if ops.busy_s >= seconds:
                break
            key = json.dumps(req, sort_keys=True)
            repeats += key in seen  # a repeat within the run is a cache hit: runs are far shorter than the TTL
            seen.add(key)
            t0 = time.perf_counter()
            try:
                with tr.span("api." + req["kind"], req=i):
                    df = self._call(api, req)
                with tr.span("api.exec", req=i):
                    rows = df.collect()
            except Exception:  # noqa: BLE001 - a failed request is counted, the loop goes on
                ops.record(time.perf_counter() - t0, ok=False)
                log_failure(f"request {i} {req}\n{traceback.format_exc()}")
                continue
            ops.record(time.perf_counter() - t0, ok=True)
            self.responses.append((req, rows))
        if ops.attempted:
            self.notes["cache_hit_share"] = repeats / ops.attempted

    def final_check(self, spark, ops: OpLog) -> None:
        path = os.path.join(self.sf_dir, "events.parquet")
        con = duckdb.connect()
        con.execute(f"CREATE VIEW ev AS SELECT event_id, epoch_us(ts) AS t, user_id, "
                    f"event_type, value FROM read_parquet('{path}')")
        exact_avg = "CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(value)"
        for req, rows in self.responses:
            kind = req["kind"]
            if kind == "latest":
                want = con.execute(
                    "SELECT user_id, event_id, t, event_type, value FROM ("
                    " SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY t DESC, event_id DESC) rn"
                    " FROM ev) WHERE rn = 1").fetchall()
                got = [(r.user_id, r.event_id, to_us(r.ts), r.event_type, r.value) for r in rows]
                ok = same_rows(got, want)
            else:
                where = (f"user_id = {req['station']} AND t BETWEEN {req['start_us']} "
                         f"AND {req['end_us']}")
                if kind == "raw":
                    want = con.execute(
                        f"SELECT event_id, t, user_id, event_type, value FROM ev WHERE {where} "
                        f"ORDER BY t DESC, event_id DESC LIMIT {req['limit']} OFFSET {req['offset']}"
                    ).fetchall()
                    got = [(r.event_id, to_us(r.ts), r.user_id, r.event_type, r.value) for r in rows]
                    ok = same_rows(got, want, ordered=True)
                elif kind == "aggregate":
                    want = con.execute(
                        f"SELECT user_id, {exact_avg}, min(value), max(value), count(*) FROM ev "
                        f"WHERE {where} GROUP BY user_id").fetchall()
                    got = [tuple(r) for r in rows]
                    ok = same_rows(got, want)
                else:
                    w = _interval_us(req["interval"])
                    want = con.execute(
                        f"SELECT (t // {w}) * {w} AS b, {exact_avg}, count(*) FROM ev "
                        f"WHERE {where} GROUP BY b ORDER BY b").fetchall()
                    got = [(to_us(r.bucket), r.avg_value, r.reading_count) for r in rows]
                    ok = same_rows(got, want, ordered=True)
            if not ok:
                ops.failed += 1
                log_failure(f"response mismatch for {req}")
        con.close()

    def install_wraps(self, spark) -> None:
        from data_ingestion_pipeline_spark import api
        from data_ingestion_pipeline_spark.functions import result_cache
        from data_ingestion_pipeline_spark.operators import queries
        from data_ingestion_pipeline_spark.operators.upsert import scratch_path

        tr = self.tracer
        root = scratch_path("result_cache")
        tr.wrap(api, "load_table", "tables.load_table")
        tr.wrap(queries, "load_table", "tables.load_table")

        def key_after(span, _token, _args, _kwargs, key):
            # the entry exists (and is younger than the 300 s TTL, which a
            # run never reaches) exactly when `cached` will serve a hit
            span.attrs["hit"] = os.path.exists(os.path.join(root, key, "_SUCCESS"))
            span.attrs["key"] = key

        tr.wrap(result_cache, "plan_key", "result_cache.plan_key", after=key_after)

        def cached_after(span, _token, _args, _kwargs, _result):
            key_spans = [s for s in tr.spans if s.parent == span.sid and s.name == "result_cache.plan_key"]
            if key_spans:
                span.attrs["hit"] = key_spans[0].attrs["hit"]
                if not span.attrs["hit"]:
                    span.attrs["bytes"] = sum(dir_files(os.path.join(root, key_spans[0].attrs["key"])).values())

        tr.wrap(result_cache, "cached", "result_cache.cached", after=cached_after)

    def layers(self, spans: list[Span]) -> dict[str, float]:
        kids = children(spans)
        reqs = [s for s in spans if s.parent is None and s.name.startswith("api.") and s.name != "api.exec"]
        execs = [s for s in spans if s.name == "api.exec"]
        by_req: dict[int, list[Span]] = {}
        for s in spans:
            by_req.setdefault(s.req, []).append(s)
        load_per_req = [sum(x.ms for x in by_req[r.req] if x.name == "tables.load_table") for r in reqs]
        key_per_req = [sum(x.ms for x in by_req[r.req] if x.name == "result_cache.plan_key") for r in reqs]
        cached = [s for s in spans if s.name == "result_cache.cached"]
        hits = [s for s in cached if s.attrs.get("hit")]
        misses = [s for s in cached if not s.attrs.get("hit")]
        req_jobs = [len(subtree_jobs(r, kids)) + len(subtree_jobs(e, kids))
                    for r, e in zip(reqs, execs)]
        req_tasks = [sum(j.tasks for j in subtree_jobs(r, kids) + subtree_jobs(e, kids))
                     for r, e in zip(reqs, execs)]
        return {
            "tables.load_ms": statistics.median(load_per_req or [0.0]),
            "api.build_ms": statistics.median([s.ms for s in reqs] or [0.0]),
            "api.exec_ms": statistics.median([s.ms for s in execs] or [0.0]),
            "api.jobs": statistics.fmean(req_jobs or [0.0]),
            "api.tasks": statistics.fmean(req_tasks or [0.0]),
            "result_cache.hit_ratio": len(hits) / len(cached) if cached else 0.0,
            "result_cache.key_ms": statistics.median(key_per_req or [0.0]),
            "result_cache.hit_ms": statistics.median([s.ms for s in hits] or [0.0]),
            "result_cache.miss_ms": statistics.median([s.ms for s in misses] or [0.0]),
            "result_cache.bytes_written": float(sum(s.attrs.get("bytes", 0) for s in misses)),
        }


def _interval_us(interval: str) -> int:
    n, unit = interval.split()
    return int(n) * {"minutes": 60, "hour": 3600, "day": 86400}[unit] * 1_000_000


# ----------------------------------------------------------------- ingest

INGEST_CHUNK = 2  # files (= micro-batches) per drain call


class Ingest(Workload):
    """The consumer's backlog drained by `run_dedup_ingest`, a few files
    per call, into one day-partitioned table and checkpoint."""

    def make_inputs(self) -> None:
        fresh_dir(self.inputs)
        self.dirs = {k: os.path.join(self.inputs, k) for k in ("feed", "table", "ckpt")}
        self.feed = inputs.IngestFeed(self.seed, self.dirs["feed"])

    def _drain(self, spark) -> dict:
        from data_ingestion_pipeline_spark.streaming.pipeline import run_dedup_ingest

        d = self.dirs
        with self.tracer.span("streaming.run_dedup_ingest"):
            return run_dedup_ingest(spark, d["feed"], d["table"], d["ckpt"], max_files_per_trigger=1)

    def _batch_latencies(self, first_batch: int) -> tuple[list[float], int]:
        """Seconds per data micro-batch since `first_batch`, from the
        checkpoint: trigger start (offset log batchTimestampMs) to commit
        file write. Batches that read no new file are left out."""
        ckpt = self.dirs["ckpt"]
        done = sorted(int(x) for x in os.listdir(os.path.join(ckpt, "commits")) if x.isdigit())
        out, last = [], first_batch
        # an availableNow drain ends with a batch that reads no new file
        # (it only advances the watermark); it is not a data micro-batch
        for b in done:
            if b < first_batch:
                continue
            with open(os.path.join(ckpt, "offsets", str(b))) as fh:
                lines = fh.read().splitlines()
            started = json.loads(lines[1])["batchTimestampMs"] / 1000.0
            offset = json.loads(lines[2])["logOffset"]
            prev = self._last_offset
            self._last_offset = max(prev, offset)
            last = b + 1
            if offset > prev:
                out.append(os.stat(os.path.join(ckpt, "commits", str(b))).st_mtime - started)
        return out, last

    def begin(self) -> None:
        self._last_offset = -1
        self._next_batch = 0
        self.busy_s = 0.0
        self.chunks: list[tuple[list[str], dict | None, int]] = []  # files, counters, op count

    def chunk(self, spark, ops: OpLog) -> bool:
        """Feed INGEST_CHUNK new files and drain them: one operation per
        data micro-batch. False if the drain raised."""
        paths = [self.feed.write_next() for _ in range(INGEST_CHUNK)]
        t0 = time.perf_counter()
        try:
            res = self._drain(spark)
        except Exception:  # noqa: BLE001
            ops.record(time.perf_counter() - t0, ok=False, samples=[0.0] * INGEST_CHUNK)
            log_failure(f"drain\n{traceback.format_exc()}")
            self.chunks.append((paths, None, 0))  # its files still count in the final table
            return False
        took = time.perf_counter() - t0
        self.busy_s += took
        lat, self._next_batch = self._batch_latencies(self._next_batch)
        ok = len(lat) == INGEST_CHUNK
        if not ok:
            log_failure(f"ingest chunk: {len(lat)} data batches committed, {INGEST_CHUNK} fed")
        ops.record(took, ok=ok, samples=lat or [took])
        self.chunks.append((paths, res, len(lat) or 1) if ok else (paths, None, 0))
        return True

    def rows_persisted(self) -> int:
        return sum(r["rows_persisted"] for _, r, _ in self.chunks if r)

    def final_check(self, spark, ops: OpLog) -> None:
        """Replay the fed files through the bench's own first-wins dedup:
        each drain call's counters must equal its counts (messages = rows
        fed, rows persisted = new keys), and the final table must hold
        exactly the deduplicated rows."""
        expected: dict[tuple, tuple] = {}
        for paths, res, n_ops in self.chunks:
            rows = new_keys = 0
            for path in paths:
                t = pq.read_table(path)
                cols = [t.column(c).to_pylist() for c in ("event_id", "ts", "user_id", "event_type", "value")]
                for eid, ts, uid, et, val in zip(*cols):
                    key = (uid, to_us(ts))
                    rows += 1
                    if key not in expected:
                        expected[key] = (eid, key[1], uid, et, val)
                        new_keys += 1
            if res is not None and (res["messages_processed"], res["rows_persisted"]) != (rows, new_keys):
                ops.failed += n_ops
                log_failure(f"ingest chunk: counters {res}, fed {rows} rows / {new_keys} keys")
        got = duckdb.sql(
            "SELECT event_id, epoch_us(ts), user_id, event_type, value FROM "
            f"read_parquet('{self.dirs['table']}/**/*.parquet', hive_partitioning = true)"
        ).fetchall()
        if not same_rows(got, list(expected.values())):
            ops.failed += 1
            ops.attempted += 1
            log_failure("ingest: final table differs from the bench's dedup of the feed")

    def install_wraps(self, spark) -> None:
        from data_ingestion_pipeline_spark.streaming import pipeline

        table = self.dirs["table"]

        def before(*_args, **_kwargs):
            return dir_files(table)

        def after(span, files_before, args, _kwargs, _result):
            now = dir_files(table)
            new = {p: n for p, n in now.items() if p not in files_before}
            span.attrs.update(
                files=len(new), bytes=sum(new.values()),
                partitions=len({os.path.basename(os.path.dirname(p)) for p in new}))

        self.tracer.wrap(pipeline, "upsert_into_table", "upsert.upsert_into_table",
                         before=before, after=after)
        self._listener = _ProgressListener()
        spark.streams.addListener(self._listener)

    def layers(self, spans: list[Span]) -> dict[str, float]:
        kids = children(spans)
        ups = [s for s in spans if s.name == "upsert.upsert_into_table"]
        prog = [p for p in self._listener.progress if p["rows"] > 0]
        out_records = sum(j.output_records for s in ups for j in subtree_jobs(s, kids))
        persisted = self.rows_persisted()
        msgs = sum(r["messages_processed"] for _, r, _ in self.chunks if r)
        return {
            "streaming.batches": float(len(prog)),
            "streaming.trigger_ms": statistics.median([p["trigger_ms"] for p in prog] or [0.0]),
            "streaming.sink_ms": statistics.median([p["sink_ms"] for p in prog] or [0.0]),
            "streaming.engine_ms": statistics.median([p["trigger_ms"] - p["sink_ms"] for p in prog] or [0.0]),
            "streaming.state_rows": float(prog[-1]["state_rows"]) if prog else 0.0,
            "streaming.state_commit_ms": statistics.median([p["state_commit_ms"] for p in prog] or [0.0]),
            "streaming.dup_drop_ratio": (msgs - persisted) / msgs if msgs else 0.0,
            "upsert.ms": statistics.median([s.ms for s in ups] or [0.0]),
            "upsert.jobs": statistics.fmean([len(subtree_jobs(s, kids)) for s in ups] or [0.0]),
            "upsert.write_tasks": statistics.fmean([max(subtree_jobs(s, kids), key=lambda j: j.jid).last_stage_tasks
                                       for s in ups if subtree_jobs(s, kids)] or [0.0]),
            "upsert.files_written": float(sum(s.attrs.get("files", 0) for s in ups)),
            "upsert.bytes_written": float(sum(s.attrs.get("bytes", 0) for s in ups)),
            "upsert.partitions_touched": statistics.fmean([s.attrs.get("partitions", 0) for s in ups] or [0.0]),
            "upsert.rewrite_ratio": (out_records - persisted) / persisted if persisted else 0.0,
        }


class _ProgressListener(StreamingQueryListener):
    """Keeps the engine-reported timings of every micro-batch."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        d = p.durationMs
        st = p.stateOperators[0] if p.stateOperators else None
        self.progress.append({
            "rows": p.numInputRows,
            "trigger_ms": float(d.get("triggerExecution", 0)),
            "sink_ms": float(d.get("addBatch", 0)),
            "state_rows": st.numRowsTotal if st else 0,
            "state_commit_ms": float(st.commitTimeMs) if st else 0.0,
        })

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


# --------------------------------------------------------------- table_rw

# Per cycle: two commits, four snapshot reads, a stats and a bloom
# lookup, then a maintenance step (materialize_deletes, then
# compact_files).
TABLE_CYCLE = ("commit", "read_version", "stats_lookup", "read_version",
               "commit", "read_version", "bloom_lookup", "read_version", "maintain")
INIT_FILES = 4


class TableRW(Workload):
    """A versioned table under CDC commits, reads and maintenance, checked
    against the change log the bench replays itself."""

    def make_inputs(self) -> None:
        fresh_dir(self.inputs)
        self.table = os.path.join(self.inputs, "table")
        self.init_path = os.path.join(self.inputs, "init.parquet")
        init = inputs.table_rw_initial(self.seed)
        pq.write_table(init, self.init_path)
        self.model: dict[int, tuple] = {}
        self._apply_to_model(init, "insert")
        self.rng = np.random.default_rng([self.seed, 6])
        self.next_id = inputs.TABLE_ROWS
        self.commits = 0
        self.step = 0
        self._snapshot_files = 0

    def _apply_to_model(self, t, kind: str | None) -> None:
        cols = [t.column(c).to_pylist() for c in ("event_id", "ts", "user_id", "event_type", "value")]
        kinds = t.column("_change_type").to_pylist() if kind is None else [kind] * t.num_rows
        for (eid, ts, uid, et, val), k in zip(zip(*cols), kinds):
            if k == "delete":
                self.model.pop(eid, None)
            else:
                self.model[eid] = (eid, to_us(ts), uid, et, val)

    def create(self, spark) -> None:
        from data_ingestion_pipeline_spark.operators import versioned as V

        # the first commit builds the stats and bloom indexes, so no measured
        # lookup pays a from-scratch build; later commits leave them stale
        # and each lookup refreshes them incrementally
        V.commit_version(spark, self.table, spark.read.parquet(self.init_path).repartition(INIT_FILES),
                         stats_cols=["ts"], bloom_cols=["event_id"])

    def next_op(self, spark) -> tuple[float, bool, str]:
        """Run the next scheduled operation; returns (seconds, correct, kind)."""
        from data_ingestion_pipeline_spark.operators import versioned as V
        from pyspark.sql import functions as F

        kind = TABLE_CYCLE[self.step % len(TABLE_CYCLE)]
        self.step += 1
        tr = self.tracer
        rng = self.rng
        if kind == "commit":
            batch = inputs.cdc_batch(rng, np.fromiter(self.model.keys(), np.int64), self.next_id)
            self.next_id += inputs.CDC_INSERTS
            path = os.path.join(self.inputs, "cdc", f"batch-{self.commits:04d}.parquet")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(batch, path)
            before = dir_files(os.path.join(self.table, "data")) if tr.enabled else {}
            t0 = time.perf_counter()
            with tr.span("versioned.apply_changes_mor") as span:
                V.apply_changes_mor(spark, self.table, spark.read.parquet(path), ["event_id"])
            took = time.perf_counter() - t0
            if tr.enabled:
                self._probe_commit(spark, span, before)
            self._apply_to_model(batch, None)
            self.commits += 1
            return took, True, kind
        if kind == "maintain":
            t0 = time.perf_counter()
            with tr.span("versioned.maintain"):
                V.materialize_deletes(spark, self.table)
                V.compact_files(spark, self.table)
            return time.perf_counter() - t0, True, kind
        if kind == "read_version":
            uid = int(rng.integers(0, inputs.TABLE_STATIONS))
            lo = inputs.T0_US + int(rng.integers(0, inputs.TABLE_DAYS - 2)) * inputs.DAY_US
            hi = lo + 2 * inputs.DAY_US
            t0 = time.perf_counter()
            with tr.span("versioned.read_version") as span:
                df = V.read_version(spark, self.table).filter(
                    (F.col("user_id") == uid) & F.col("ts").between(_ts(lo), _ts(hi)))
            rows = self._exec(df)
            want = [r for r in self.model.values() if r[2] == uid and lo <= r[1] <= hi]
        elif kind == "stats_lookup":
            lo = inputs.T0_US + int(rng.integers(0, inputs.TABLE_DAYS - 1)) * inputs.DAY_US
            hi = lo + inputs.DAY_US
            t0 = time.perf_counter()
            with tr.span("versioned.stats_lookup") as span:
                df = V.stats_lookup(spark, self.table, "ts", _ts(lo), _ts(hi))
            rows = self._exec(df)
            want = [r for r in self.model.values() if lo <= r[1] <= hi]
        else:
            live = np.fromiter(self.model.keys(), np.int64)
            keys = [int(k) for k in rng.choice(live, 3, replace=False)] + [self.next_id + 10**6]
            t0 = time.perf_counter()
            with tr.span("versioned.bloom_lookup") as span:
                df = V.bloom_lookup(spark, self.table, "event_id", keys)
            rows = self._exec(df)
            want = [self.model[k] for k in keys if k in self.model]
        took = time.perf_counter() - t0
        if tr.enabled and self._snapshot_files:
            with tr.span(PROBE):
                read = len(_data_files(df.inputFiles()))
            span.attrs["skip_ratio"] = 1.0 - read / self._snapshot_files
        got = [(r.event_id, to_us(r.ts), r.user_id, r.event_type, r.value) for r in rows]
        return took, same_rows(got, want), kind

    def _exec(self, df):
        with self.tracer.span("versioned.read_exec"):
            return df.collect()

    def final_check(self, spark, ops: OpLog) -> None:
        from data_ingestion_pipeline_spark.operators import versioned as V

        rows = V.read_version(spark, self.table).collect()
        got = [(r.event_id, to_us(r.ts), r.user_id, r.event_type, r.value) for r in rows]
        if not same_rows(got, list(self.model.values())):
            ops.failed += 1
            ops.attempted += 1
            log_failure("table_rw final snapshot differs from the change-log replay")

    def install_wraps(self, spark) -> None:
        from data_ingestion_pipeline_spark.operators import versioned as V

        self.tracer.wrap(V, "build_column_stats", "versioned.build_column_stats")
        self.tracer.wrap(V, "build_bloom_index", "versioned.build_bloom_index")

    def _probe_commit(self, spark, span: Span, files_before: dict) -> None:
        """Traced runs only: what the commit wrote and what the snapshot holds."""
        from data_ingestion_pipeline_spark.operators import versioned as V

        with self.tracer.span(PROBE):
            live = _data_files(V.read_version(spark, self.table).inputFiles())
        on_disk = dir_files(os.path.join(self.table, "data"))
        self._snapshot_files = len(live)
        span.attrs.update(
            files_written=len(set(on_disk) - set(files_before)),
            snapshot_files=len(live),
            live_bytes=sum(on_disk.get(p, 0) for p in live),
            disk_bytes=sum(on_disk.values()))

    def layers(self, spans: list[Span]) -> dict[str, float]:
        kids = children(spans)
        commits = [s for s in spans if s.name == "versioned.apply_changes_mor"]
        reads = [s for s in spans if s.name in ("versioned.read_version", "versioned.stats_lookup",
                                                "versioned.bloom_lookup")]
        execs = [s for s in spans if s.name == "versioned.read_exec"]
        maint = [s for s in spans if s.name == "versioned.maintain"]
        return {
            "versioned.commit_ms": statistics.median([s.ms for s in commits] or [0.0]),
            "versioned.commit_jobs": statistics.fmean([len(subtree_jobs(s, kids)) for s in commits] or [0.0]),
            "versioned.files_written": statistics.fmean([s.attrs.get("files_written", 0) for s in commits] or [0.0]),
            "versioned.snapshot_files": statistics.fmean([s.attrs.get("snapshot_files", 0) for s in commits] or [0.0]),
            "versioned.read_plan_ms": statistics.median([s.ms for s in reads] or [0.0]),
            "versioned.read_plan_jobs": statistics.fmean([len(subtree_jobs(s, kids)) for s in reads] or [0.0]),
            "versioned.read_exec_ms": statistics.median([s.ms for s in execs] or [0.0]),
            "versioned.skip_ratio": statistics.fmean([s.attrs["skip_ratio"] for s in reads if "skip_ratio" in s.attrs] or [0.0]),
            "versioned.compact_ms": statistics.median([s.ms for s in maint] or [0.0]),
            "versioned.space_amp": statistics.fmean([
                s.attrs["disk_bytes"] / s.attrs["live_bytes"] for s in commits if s.attrs.get("live_bytes")
            ] or [0.0]),
        }


def _ts(us: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(us / 1e6, dt.timezone.utc).replace(tzinfo=None)


def _data_files(uris: list[str]) -> list[str]:
    """Local paths of the table data files among a plan's input URIs."""
    paths = [unquote(urlparse(u).path) for u in uris]
    return [p for p in paths if p.endswith(".parquet") and "/data/" in p]


NEAR_DUP_HASHES = os.path.join(WORK_ROOT, "near_dup_hashes.json")


class NearDup(Workload):
    """One pass of document and embedding near-duplicate removal over
    inputs with planted pairs. Every pass must find the planted pairs
    (the engine's own audit floors) and produce the same output as every
    earlier pass over the same input files, in this run or an earlier one."""

    def make_inputs(self) -> None:
        self.sf_dir = os.path.join(fresh_dir(self.inputs), "sf")
        self.planted = inputs.write_near_dup_inputs(self.seed, self.sf_dir)
        self.recalls: list[tuple[float, float]] = []
        h = hashlib.sha256()
        for name in ("documents.parquet", "embeddings.parquet"):
            with open(os.path.join(self.sf_dir, name), "rb") as fh:
                h.update(fh.read())
        self.input_key = h.hexdigest()

    def _known_hash(self, digest: str) -> str:
        """The output hash first recorded for these inputs (recording `digest` if none)."""
        known = {}
        if os.path.exists(NEAR_DUP_HASHES):
            with open(NEAR_DUP_HASHES) as fh:
                known = json.load(fh)
        if self.input_key not in known:
            known[self.input_key] = digest
            with open(NEAR_DUP_HASHES, "w") as fh:
                json.dump(known, fh)
        return known[self.input_key]

    def run_pass(self, spark) -> bool:
        from data_ingestion_pipeline_spark.operators import dedup, similarity

        tr = self.tracer
        with tr.span("dedup.dedup_canonical_corpus"):
            kept = dedup.dedup_canonical_corpus(spark, self.sf_dir).collect()
        with tr.span("similarity.semantic_dedup"):
            sem = similarity.semantic_dedup(spark, self.sf_dir).collect()
        kept_ids = {r.doc_id for r in kept}
        copies = [c for _, c in self.planted["doc_pairs"]]
        doc_recall = sum(c not in kept_ids for c in copies) / len(copies)
        dropped = {r.vec_id for r in sem if r.dup_of is not None}
        vcopies = [c for _, c in self.planted["emb_pairs"]]
        emb_recall = sum(c in dropped for c in vcopies) / len(vcopies)
        self.recalls.append((doc_recall, emb_recall))
        h = hashlib.sha256()
        for r in sorted(tuple(r) for r in kept):
            h.update(repr(r).encode())
        for r in sorted((r.vec_id, r.dup_of) for r in sem):
            h.update(repr(r).encode())
        digest = h.hexdigest()
        known = self._known_hash(digest)
        ok = (doc_recall >= dedup.MINHASH_AUDIT_RECALL_FLOOR
              and emb_recall >= similarity.SEMANTIC_AUDIT_RECALL_FLOOR
              and digest == known)
        if not ok:
            log_failure(f"near_dup pass: doc recall {doc_recall:.3f}, embedding recall "
                        f"{emb_recall:.3f}, output hash {digest[:12]} vs {known[:12]}")
        return ok

    def install_wraps(self, spark) -> None:
        from data_ingestion_pipeline_spark.operators import dedup

        def after(span, _token, _args, _kwargs, labels):
            with self.tracer.span(PROBE):
                rows = labels.collect()
            span.attrs["clusters"] = {r.doc_id: r.cluster_id for r in rows}

        self.tracer.wrap(dedup, "dup_clusters", "dedup.dup_clusters", after=after)

    def layers(self, spans: list[Span]) -> dict[str, float]:
        """Candidates are the document pairs the cluster step put in one
        cluster; a candidate is true when both documents descend from the
        same planted original."""
        family = {}
        for src, copy in self.planted["doc_pairs"]:
            family[src] = src
            family[copy] = src
        cand = true = 0
        runs = [s for s in spans if s.name == "dedup.dup_clusters" and "clusters" in s.attrs]
        if runs:
            members: dict[int, list[int]] = {}
            for doc, cid in runs[-1].attrs["clusters"].items():
                members.setdefault(cid, []).append(doc)
            for docs in members.values():
                for i, a in enumerate(docs):
                    for b in docs[i + 1:]:
                        cand += 1
                        true += a in family and family.get(b) == family[a]
        doc_r = [r[0] for r in self.recalls]
        emb_r = [r[1] for r in self.recalls]
        return {
            "dedup.ms": statistics.median([s.ms for s in spans if s.name == "dedup.dedup_canonical_corpus"] or [0.0]),
            "dedup.candidate_pairs": float(cand),
            "dedup.candidate_precision": true / cand if cand else 0.0,
            "dedup.recall": statistics.fmean(doc_r or [0.0]),
            "similarity.ms": statistics.median([s.ms for s in spans if s.name == "similarity.semantic_dedup"] or [0.0]),
            "similarity.recall": statistics.fmean(emb_r or [0.0]),
        }


# --------------------------------------------------------------- pipeline

PIPELINE_CYCLE = ("ingest",) + TABLE_CYCLE + ("near_dup",)


class Pipeline(Workload):
    """The write side: an ingest drain, a table_rw cycle on a versioned
    table, then a near_dup pass, repeated in whole cycles."""

    name = "pipeline"
    rehearsal_s = 1.0  # any positive time: the rehearsal runs one whole cycle

    def __init__(self, seed: int, work: str, tracer) -> None:
        super().__init__(seed, work, tracer)
        self.parts = (Ingest(seed, os.path.join(work, "ingest"), tracer),
                      TableRW(seed, os.path.join(work, "table_rw"), tracer),
                      NearDup(seed, os.path.join(work, "near_dup"), tracer))
        self.ingest, self.table, self.near = self.parts

    def make_inputs(self) -> None:
        for part in self.parts:
            part.make_inputs()

    def warm_up(self, spark) -> None:
        self.table.create(spark)

    def measure(self, spark, seconds: float, ops: OpLog) -> None:
        """Whole cycles until the client has waited `seconds`, so every
        run holds the same mix of operations."""
        self.ingest.begin()
        near_s = 0.0
        while ops.busy_s < seconds:
            for kind in PIPELINE_CYCLE:
                if kind == "ingest":
                    if not self.ingest.chunk(spark, ops):
                        return
                    continue
                t0 = time.perf_counter()
                try:
                    if kind == "near_dup":
                        ok = self.near.run_pass(spark)
                        took = time.perf_counter() - t0
                        near_s += took
                    else:  # its own timing leaves out making the CDC batch and trace probes
                        took, ok, _ = self.table.next_op(spark)
                except Exception:  # noqa: BLE001
                    ops.record(time.perf_counter() - t0, ok=False)
                    log_failure(f"pipeline {kind}\n{traceback.format_exc()}")
                    return
                if not ok:
                    log_failure(f"pipeline {kind}: result differs from the bench's reference")
                ops.record(took, ok=ok)
        if self.ingest.busy_s and near_s:
            self.notes["ingest_rows_per_s"] = self.ingest.rows_persisted() / self.ingest.busy_s
            self.notes["near_dup_docs_per_s"] = inputs.DOCS * len(self.near.recalls) / near_s

    def final_check(self, spark, ops: OpLog) -> None:
        self.ingest.final_check(spark, ops)
        self.table.final_check(spark, ops)

    def install_wraps(self, spark) -> None:
        for part in self.parts:
            part.install_wraps(spark)

    def layers(self, spans: list[Span]) -> dict[str, float]:
        return {k: v for part in self.parts for k, v in part.layers(spans).items()}


WORKLOADS = {w.name: w for w in (Query, Pipeline)}
