"""One workload in one fresh process and JVM (launched by run.py).

The process sets up once, cold: from its own start through session
start, replay staging and a warm-up run (on WARM_DIR, which run.py sizes
per workload), up to the first input offered. Then one client runs the
workload's query closed-loop until the measuring window is spent. Each
run's result is hashed for the oracle check after the run's timed span:
collected from the memory sink (stream workloads) or read back from the
parquet files the run wrote (batch workload). With --trace it also runs
traced query runs, alternating with untraced ones, and reads the
per-layer numbers from
outside the engine: bench-side spans, `StreamingQueryProgress` through a
`StreamingQueryListener`, and SQL, stage and executor metrics from the
status stores. Everything goes to one JSON file; stdout and stderr are
the log.

Usage: python3 engine_run.py WORKLOAD INPUT_DIR WARM_DIR SECONDS TRACE OUT
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time

import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

import gen
import measure
from kafka_streams_learning_spark import get_spark
from kafka_streams_learning_spark.catalog import all_queries
from kafka_streams_learning_spark.catalog_streaming import (
    ALERT_AFTER,
    ALERT_VALUE_THRESHOLD,
    REPLAY_CHUNKS,
    STATE_SHARDS,
)
from kafka_streams_learning_spark.sources import replay
from kafka_streams_learning_spark.sources.batch import load_table
from kafka_streams_learning_spark.streaming import runner, stateful
from tools.oracle_check import table_hash

# micro-batches per stream_keyed_alerts run (one staged chunk per trigger):
# 22 puts the tail percentile of one run above its median (p54, ten
# batches beyond it)
KEYED_CHUNKS = 22
WARM_CHUNKS = 2
# s04's replay stagings, as the catalog row requests them (bench.py
# pre-stages the same pair) so that staging lands in set-up
S04_STAGINGS = (
    ("orders", "o_orderdate", ("o_orderkey", "o_custkey", "o_orderdate")),
    ("lineitem", "l_shipdate", ("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate")),
)
CONF_KEYS = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions")

SPECS = {q.name: q for q in all_queries()}


class ProgressLog(StreamingQueryListener):
    """Keeps every progress record (as parsed JSON) per query run. Spark
    delivers progress events asynchronously, possibly after the query's
    termination event, so a caller waits for a run's records by count."""

    def __init__(self):
        self.started: list[str] = []
        self.records: dict[str, list[dict]] = {}
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        with self._cv:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event):
        rec = json.loads(event.progress.json)
        with self._cv:
            self.records.setdefault(rec["runId"], []).append(rec)
            self._cv.notify_all()

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def mark(self) -> int:
        with self._cv:
            return len(self.started)

    def since(self, mark: int, batches: int, timeout: float = 30.0) -> list[dict]:
        """Progress of the one query started after `mark`, once all
        `batches` of its batches have reported."""
        def ready():
            return len(self.started) > mark and len(
                self.records.get(self.started[mark], [])
            ) >= batches

        with self._cv:
            if not self._cv.wait_for(ready, timeout):
                raise RuntimeError("streaming progress was not delivered")
            return sorted(self.records[self.started[mark]], key=lambda p: p["batchId"])


class StatusStores:
    """Reads the SQL and application status stores through py4j. Both
    are populated with spark.ui.enabled=false."""

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._jsc.statusStore()
        self._noq = sc._gateway.new_array(sc._gateway.jvm.double, 0)

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def mark(self) -> tuple[int, int]:
        self.drain()
        execs = self._sql.executionsList()
        stages = self._app.stageList(None, False, False, self._noq, None)
        last_exec = max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)
        last_stage = max((stages.apply(i).stageId() for i in range(stages.size())), default=-1)
        return last_exec, last_stage

    def since(self, mark: tuple[int, int]) -> dict:
        """SQL node metrics and stage totals of everything that ran after
        `mark`: {"sql": [(node, metric, type, text)], "executions":
        [(start_s, end_s)], "stages": {...}}."""
        self.drain()
        out = {"sql": [], "executions": [], "stages": {
            "stages": 0, "tasks": 0, "run_ms": 0, "gc_ms": 0,
            "shuffle_write_bytes": 0, "shuffle_write_records": 0,
        }}
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid <= mark[0]:
                continue
            done = ex.completionTime()
            if done.isDefined():
                out["executions"].append(
                    (ex.submissionTime() / 1000, done.get().getTime() / 1000)
                )
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out["sql"].append((node.name(), m.name(), m.metricType(), v.get()))
        stages = self._app.stageList(None, False, False, self._noq, None)
        st = out["stages"]
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= mark[1]:
                continue
            st["stages"] += 1
            st["tasks"] += s.numTasks()
            st["run_ms"] += s.executorRunTime()
            st["gc_ms"] += s.jvmGcTime()
            st["shuffle_write_bytes"] += s.shuffleWriteBytes()
            st["shuffle_write_records"] += s.shuffleWriteRecords()
        return out


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _checkpoints(root: str) -> set[str]:
    return {os.path.join(root, d) for d in os.listdir(root) if d.startswith("ckpt-")}


def _hash(cols: list[str], rows: list[tuple]) -> list:
    """[rows, table_hash, sorted columns], as run.py hashes the oracle."""
    return [len(rows), table_hash(cols, rows), sorted(cols)]


class Run:
    """One query run: wall time, micro-batch cycle times, result hashes.
    `ctx` carries what `Workload.verify` needs after the timed span."""

    def __init__(self):
        self.wall = 0.0
        self.cycles: list[float] = []
        self.hashes: dict[str, list] = {}
        self.row_walls: dict[str, float] = {}
        self.progress: list[dict] = []
        self.span: int | None = None
        self.queries = 1
        self.ctx: dict = {}


class Workload:
    """Set-up and query of one workload; subclasses fill in the steps."""

    def __init__(self, inputs: str, warm: str, spans: measure.Spans):
        self.inputs, self.warm, self.spans = inputs, warm, spans
        self.staged_bytes = 0
        self.stage_s = 0.0

    def stage(self, spark: SparkSession) -> None:
        pass

    def warm_up(self, spark: SparkSession) -> None:
        """Run the workload's code path once, on the small input."""
        raise NotImplementedError

    def execute(self, spark: SparkSession, progress: ProgressLog) -> Run:
        """One query run inside the timed span "execute"."""
        raise NotImplementedError

    def verify(self, spark: SparkSession, run: Run, progress: ProgressLog) -> None:
        """After the timed span: the run's progress, cycles and hashes."""
        raise NotImplementedError


def _keyed_query(spark: SparkSession, staged: str, schema, name: str, ckpt: str) -> None:
    stream = replay.replay_stream(spark, staged, schema).select(
        F.col("user_id").cast("string").alias("key"),
        F.col("event_id").alias("record_id"),
        F.col("value").alias("amount"),
        "ts",
    )
    alerts = stateful.fraud_alert_stream(
        stream, "key", ALERT_VALUE_THRESHOLD, ALERT_AFTER, impl="sharded"
    )
    runner.run_to_memory(
        alerts, name, "append", checkpoint=ckpt, state_partitions=STATE_SHARDS
    )


class KeyedAlerts(Workload):
    """s03's query over many small chunks: one chunk per trigger."""

    rows = gen.ROWS["stream_keyed_alerts"]

    def _stage(self, spark, src: str, chunks: int) -> tuple[str, object]:
        df = load_table(spark, src, "events")
        staged = replay.run_staging_dir("bench-events")
        replay.stage_replay_chunks(df, staged, chunks, "ts")
        return staged, df.schema

    def stage(self, spark):
        t0 = time.time()
        with self.spans.span("sources.replay.stage"):
            self.staged, self.schema = self._stage(spark, self.inputs, KEYED_CHUNKS)
        self.stage_s = time.time() - t0
        self.staged_bytes = _dir_bytes(self.staged)

    def warm_up(self, spark):
        staged, schema = self._stage(spark, self.warm, WARM_CHUNKS)
        name = f"warm_{time.time_ns()}"
        _keyed_query(spark, staged, schema, name, replay.run_staging_dir("ckpt"))
        spark.catalog.dropTempView(name)

    def execute(self, spark, progress):
        r = Run()
        r.ctx = {"name": f"s03_{time.time_ns()}", "ckpt": replay.run_staging_dir("ckpt"),
                 "mark": progress.mark()}
        t0 = time.time()
        with self.spans.span("execute") as sp:
            _keyed_query(spark, self.staged, self.schema, r.ctx["name"], r.ctx["ckpt"])
        r.wall = time.time() - t0
        r.span = sp.id
        return r

    def verify(self, spark, r, progress):
        ckpt, name = r.ctx["ckpt"], r.ctx["name"]
        r.cycles = measure.checkpoint_cycles(ckpt)
        r.progress = progress.since(r.ctx["mark"], measure.committed_batches(ckpt))
        with self.spans.span("oracle_check.collect"):
            out = spark.table(name).select("key", "record_id", "amount", "running_cnt")
            r.hashes[self.rows[0]] = _hash(out.columns, [tuple(x) for x in out.collect()])
        spark.catalog.dropTempView(name)


class IntervalJoin(Workload):
    """Catalog row s04 on the generated orders/lineitem directory."""

    rows = gen.ROWS["stream_interval_join"]

    def _staged(self) -> set[str]:
        return {d for d in os.listdir(self.root) if d.startswith("replay-")}

    def stage(self, spark):
        self.root = os.path.dirname(replay.run_staging_dir("probe"))
        before = self._staged()
        t0 = time.time()
        with self.spans.span("sources.replay.stage"):
            for table, order_by, cols in S04_STAGINGS:
                replay.shared_replay_table(
                    spark, self.inputs, table, REPLAY_CHUNKS, order_by=order_by,
                    columns=cols,
                )
        self.stage_s = time.time() - t0
        self.staged_bytes = sum(
            _dir_bytes(os.path.join(self.root, d)) for d in self._staged() - before
        )

    def warm_up(self, spark):
        SPECS[self.rows[0]].spark(spark, self.warm).count()

    def execute(self, spark, progress):
        r = Run()
        r.ctx = {"ckpts": _checkpoints(self.root), "staged": self._staged(),
                 "mark": progress.mark()}
        t0 = time.time()
        with self.spans.span("execute") as sp:
            r.ctx["df"] = SPECS[self.rows[0]].spark(spark, self.inputs)
        r.wall = time.time() - t0
        r.span = sp.id
        return r

    def verify(self, spark, r, progress):
        (ckpt,) = _checkpoints(self.root) - r.ctx["ckpts"]
        r.cycles = measure.checkpoint_cycles(ckpt)
        r.progress = progress.since(r.ctx["mark"], measure.committed_batches(ckpt))
        if self._staged() - r.ctx["staged"]:
            raise RuntimeError("s04 staged its inputs inside the timed run")
        df = r.ctx["df"]
        with self.spans.span("oracle_check.collect"):
            r.hashes[self.rows[0]] = _hash(df.columns, [tuple(x) for x in df.collect()])
        for t in spark.catalog.listTables():
            if t.isTemporary and t.name.startswith("s04_out"):
                spark.catalog.dropTempView(t.name)


class TextDedup(Workload):
    """Catalog rows x07, x08, x21 and x49, each written to parquet in the
    run's work directory; the files are read back and hashed after the
    timed span."""

    rows = gen.ROWS["batch_text_dedup"]

    def _write(self, spark, src: str, row: str) -> str:
        out = os.path.join(os.getcwd(), "results", f"{row}-{time.time_ns()}")
        SPECS[row].spark(spark, src).write.parquet(out)
        return out

    def warm_up(self, spark):
        for row in self.rows:
            shutil.rmtree(self._write(spark, self.warm, row))

    def execute(self, spark, progress):
        r = Run()
        r.queries = len(self.rows)
        t0 = time.time()
        with self.spans.span("execute") as sp:
            for row in self.rows:
                t1 = time.time()
                with self.spans.span(f"catalog_ext.{row.split('_')[0]}"):
                    r.ctx[row] = self._write(spark, self.inputs, row)
                r.row_walls[row] = time.time() - t1
        r.wall = time.time() - t0
        r.span = sp.id
        return r

    def verify(self, spark, r, progress):
        with self.spans.span("oracle_check.read"):
            for row in self.rows:
                t = pq.read_table(r.ctx[row])
                rows = list(zip(*(c.to_pylist() for c in t.columns)))
                r.hashes[row] = _hash(t.column_names, rows)
                shutil.rmtree(r.ctx[row])


WORKLOADS = {
    "stream_keyed_alerts": KeyedAlerts,
    "stream_interval_join": IntervalJoin,
    "batch_text_dedup": TextDedup,
}


def _conf(spark: SparkSession) -> dict:
    return {k: spark.conf.get(k, None) for k in CONF_KEYS}


def main(argv: list[str]) -> int:
    workload, inputs, warm, seconds, trace, out_path = argv
    seconds, trace = float(seconds), trace == "1"
    t_proc = float(os.environ["PERFBENCH_T0"])
    spans = measure.Spans(run_id=os.environ.get("PERFBENCH_RUN", "run"))
    rss = measure.RssSampler()
    rss.start()
    wl = WORKLOADS[workload](inputs, warm, spans)

    # one cold set-up: JVM launch, session, staging and warm-up
    with spans.span("setup") as setup:
        t1 = time.time()
        with spans.span("session.start"):
            spark = get_spark("perfbench")
            progress = ProgressLog()
            spark.streams.addListener(progress)
        session_s = time.time() - t1
        conf_before = _conf(spark)
        wl.stage(spark)
        with spans.span("warm_up"):
            wl.warm_up(spark)
        stores = StatusStores(spark)
    # the set-up counts from process start (interpreter and imports too)
    spans.spans[setup.id]["start"] = t_proc

    # timed window: closed loop, one client; in trace mode untraced and
    # traced runs alternate (U T U T ...), so the traced run's overhead is
    # measured against untraced runs of the same window
    rss.reset()
    runs: list[Run] = []
    traced: list[tuple[Run, dict]] = []
    errors: list[str] = []
    t_first = time.time()
    setup_s = t_first - t_proc
    while True:
        want_trace = trace and (len(runs) + len(traced)) % 2 == 1
        try:
            mark = stores.mark() if want_trace else None
            r = wl.execute(spark, progress)
            # read the stores before the oracle collect, so the traced SQL
            # and stage totals are the query's own
            seen = stores.since(mark) if want_trace else None
            wl.verify(spark, r, progress)
        except Exception as e:  # a failed query run is a benchmark result
            errors.append(f"{type(e).__name__}: {e}"[:2000])
            break
        if want_trace:
            traced.append((r, seen))
        else:
            runs.append(r)
        if time.time() - t_first >= seconds and (
            not trace or (len(runs) + len(traced)) % 2 == 0
        ):
            break
    peaks = rss.peaks()
    rss.stop()
    conf_after = _conf(spark)

    record = {
        "workload": workload,
        "setup_s": setup_s,
        "session_start_s": session_s,
        "stage_s": wl.stage_s,
        "staged_mb": wl.staged_bytes / 2**20,
        "cores": spark.sparkContext.defaultParallelism,
        "conf_before": conf_before,
        "conf_after": conf_after,
        "errors": errors,
        "peaks_mb": peaks,
        "runs": [_run_record(r) for r in runs],
        "traced": [dict(_run_record(r), stores=s) for r, s in traced],
        "spans": spans.spans,
    }
    with open(out_path, "w") as fh:
        json.dump(record, fh)
    # no spark.stop(): the launcher ends the JVM with the process session
    return 0


def _run_record(r: Run) -> dict:
    return {
        "wall_s": r.wall,
        "cycles": r.cycles,
        "row_walls": r.row_walls,
        "span": r.span,
        "progress": r.progress,
        "queries": r.queries,
        "hashes": r.hashes,
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
