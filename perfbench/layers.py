"""Per-layer metrics from one traced workload record (Spark-free).

Sources, all read from outside the engine:
- bench-side spans (set-up, staging, each query, each catalog row);
- `StreamingQueryProgress` records (durationMs phases, stateOperators
  with the RocksDB customMetrics);
- SQL node metrics and stage totals from the status stores;
- the /proc RSS sampler.

Every name in `PER_LAYER` is reported for every workload; a layer the
workload never enters reads 0.
"""

from __future__ import annotations

import datetime as dt
import re
import statistics

import measure

PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "sources.replay.stage_s": "s",
    "sources.replay.staged_mb": "MiB",
    "sources.batch.scan_mb": "MiB",
    "streaming.runner.batches": "count",
    "streaming.runner.input_rows": "count",
    "streaming.runner.trigger_s": "s",
    "streaming.runner.latest_offset_s": "s",
    "streaming.runner.planning_s": "s",
    "streaming.runner.add_batch_s": "s",
    "streaming.runner.wal_commit_s": "s",
    "streaming.runner.commit_offsets_s": "s",
    "streaming.runner.overhead_s": "s",
    "streaming.state.rows_updated": "count",
    "streaming.state.rows_removed": "count",
    "streaming.state.update_s": "s",
    "streaming.state.removal_s": "s",
    "streaming.state.commit_s": "s",
    "streaming.state.mem_peak_mb": "MiB",
    "streaming.state.stores": "count",
    "streaming.state.watermark_dropped": "count",
    "streaming.state.rocksdb_sync_s": "s",
    "streaming.state.rocksdb_flush_s": "s",
    "streaming.state.rocksdb_write_batch_s": "s",
    "streaming.stateful.py_sent_mb": "MiB",
    "streaming.stateful.py_received_mb": "MiB",
    "streaming.stateful.py_rows_out": "count",
    "streaming.stateful.py_init_s": "s",
    "streaming.stateful.py_run_s": "s",
    "operators.exchange_mb": "MiB",
    "operators.exchange_records": "count",
    "operators.agg_build_s": "s",
    "operators.sort_s": "s",
    "operators.spill_mb": "MiB",
    "operators.peak_mem_mb": "MiB",
    "operators.codegen_s": "s",
    "operators.tasks": "count",
    "operators.stages": "count",
    "catalog_ext.x07_s": "s",
    "catalog_ext.x08_s": "s",
    "catalog_ext.x21_s": "s",
    "catalog_ext.x49_s": "s",
    "exec.task_s": "s",
    "exec.core_busy_frac": "ratio",
    "exec.gc_s": "s",
    "mem.peak_rss_mb": "MiB",
    "mem.jvm_peak_mb": "MiB",
    "mem.pyworkers_peak_mb": "MiB",
    "trace.unattributed_s": "s",
    "trace.overhead_frac": "ratio",
}

# durationMs phases in the order a micro-batch runs them
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

_SCALE = {
    None: 1.0, "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
    "TiB": 2.0**40, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")


def sql_value(text: str) -> float:
    """A status-store SQL metric string in base units (bytes, seconds or
    a count). Multi-task metrics read "total (min, med, max ...)\\n<total>
    (<min>, ...)"; the total is the first value on the last line."""
    head = text.strip().splitlines()[-1].split(" (")[0].strip()
    m = _VALUE.fullmatch(head)
    if m is None or m.group(2) not in _SCALE:
        raise ValueError(f"unparsable SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _SCALE[m.group(2)]


def _ts(iso: str) -> float:
    return dt.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def batch_spans(spans: measure.Spans, progress: list[dict], parent: int | None) -> None:
    """One span per micro-batch (its triggerExecution), with its
    durationMs phases laid end to end as children."""
    for p in progress:
        d = p.get("durationMs", {})
        start = _ts(p["timestamp"])
        bid = spans.add(
            f"batch.{p['batchId']}", start, start + d.get("triggerExecution", 0) / 1000, parent
        )
        t = start
        for ph in PHASES:
            if ph in d:
                spans.add(f"batch.{ph}", t, t + d[ph] / 1000, bid)
                t += d[ph] / 1000


def _progress_layers(progress: list[dict]) -> dict[str, float]:
    out = {k: 0.0 for k in PER_LAYER if k.startswith(("streaming.runner", "streaming.state"))}
    mem_peak = stores = 0.0
    for p in progress:
        d = p.get("durationMs", {})
        out["streaming.runner.batches"] += 1
        out["streaming.runner.input_rows"] += p.get("numInputRows", 0)
        out["streaming.runner.trigger_s"] += d.get("triggerExecution", 0) / 1000
        out["streaming.runner.latest_offset_s"] += d.get("latestOffset", 0) / 1000
        out["streaming.runner.planning_s"] += d.get("queryPlanning", 0) / 1000
        out["streaming.runner.add_batch_s"] += d.get("addBatch", 0) / 1000
        out["streaming.runner.wal_commit_s"] += d.get("walCommit", 0) / 1000
        out["streaming.runner.commit_offsets_s"] += d.get("commitOffsets", 0) / 1000
        mem = inst = 0
        for so in p.get("stateOperators", []):
            cm = so.get("customMetrics", {})
            out["streaming.state.rows_updated"] += so.get("numRowsUpdated", 0)
            out["streaming.state.rows_removed"] += so.get("numRowsRemoved", 0)
            out["streaming.state.update_s"] += so.get("allUpdatesTimeMs", 0) / 1000
            out["streaming.state.removal_s"] += so.get("allRemovalsTimeMs", 0) / 1000
            out["streaming.state.commit_s"] += so.get("commitTimeMs", 0) / 1000
            out["streaming.state.watermark_dropped"] += so.get("numRowsDroppedByWatermark", 0)
            out["streaming.state.rocksdb_sync_s"] += cm.get("rocksdbCommitFileSyncLatencyMs", 0) / 1000
            out["streaming.state.rocksdb_flush_s"] += cm.get("rocksdbCommitFlushLatency", 0) / 1000
            out["streaming.state.rocksdb_write_batch_s"] += cm.get("rocksdbCommitWriteBatchLatency", 0) / 1000
            mem += so.get("memoryUsedBytes", 0)
            inst += so.get("numStateStoreInstances", 0)
        mem_peak, stores = max(mem_peak, mem), max(stores, inst)
    out["streaming.runner.overhead_s"] = (
        out["streaming.runner.trigger_s"] - out["streaming.runner.add_batch_s"]
    )
    out["streaming.state.mem_peak_mb"] = mem_peak / 2**20
    out["streaming.state.stores"] = stores
    return out


def _store_layers(stores: dict, wall: float, cores: int) -> dict[str, float]:
    sql: dict[tuple[str, str], float] = {}
    peak_mem = 0.0
    for node, metric, _type, text in stores["sql"]:
        if metric == "peak memory":
            peak_mem = max(peak_mem, sql_value(text))
        elif _type in ("sum", "size", "timing", "nsTiming"):
            sql[(node, metric)] = sql.get((node, metric), 0.0) + sql_value(text)

    def total(metric: str, node_prefix: str = "") -> float:
        return sum(v for (n, m), v in sql.items() if m == metric and n.startswith(node_prefix))

    st = stores["stages"]
    task_s = st["run_ms"] / 1000
    return {
        "sources.batch.scan_mb": total("size of files read", "Scan parquet") / 2**20,
        "streaming.stateful.py_sent_mb": total("data sent to Python workers", "FlatMapGroupsInPandasWithState") / 2**20,
        "streaming.stateful.py_received_mb": total("data returned from Python workers", "FlatMapGroupsInPandasWithState") / 2**20,
        "streaming.stateful.py_rows_out": total("number of output rows", "FlatMapGroupsInPandasWithState"),
        "streaming.stateful.py_init_s": total("time to initialize Python workers", "FlatMapGroupsInPandasWithState"),
        "streaming.stateful.py_run_s": total("time to run Python workers", "FlatMapGroupsInPandasWithState"),
        "operators.exchange_mb": st["shuffle_write_bytes"] / 2**20,
        "operators.exchange_records": st["shuffle_write_records"],
        "operators.agg_build_s": total("time in aggregation build"),
        "operators.sort_s": total("sort time"),
        "operators.spill_mb": total("spill size") / 2**20,
        "operators.peak_mem_mb": peak_mem / 2**20,
        "operators.codegen_s": total("duration", "WholeStageCodegen"),
        "operators.tasks": st["tasks"],
        "operators.stages": st["stages"],
        "exec.task_s": task_s,
        "exec.core_busy_frac": task_s / (wall * cores) if wall > 0 else 0.0,
        "exec.gc_s": st["gc_ms"] / 1000,
    }


def _unattributed(spans: measure.Spans, root: int, engine: set[int]) -> float:
    """Wall time inside `root` that no engine-side span covers: the sum
    of the self times of the bench-side spans in root's subtree."""
    selfs = measure.self_times(spans.spans)
    kids: dict[int, list[int]] = {}
    for s in spans.spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    total, todo = 0.0, [root]
    while todo:
        sid = todo.pop()
        if sid not in engine:
            total += selfs[sid]
            todo.extend(kids.get(sid, []))
    return total


def summarise(record: dict, spans: measure.Spans) -> dict[str, float]:
    """Per-layer metrics of a traced record; `spans` already holds the
    record's bench-side spans and receives the synthesised engine-side
    ones (micro-batches and their phases, SQL executions)."""
    out = {k: 0.0 for k in PER_LAYER}
    out["session.start_s"] = record["session_start_s"]
    out["sources.replay.stage_s"] = record["stage_s"]
    out["sources.replay.staged_mb"] = record["staged_mb"]
    out["mem.peak_rss_mb"] = record["peaks_mb"]["total"]
    out["mem.jvm_peak_mb"] = record["peaks_mb"]["jvm"]
    out["mem.pyworkers_peak_mb"] = record["peaks_mb"]["pyworkers"]
    walls = [r["wall_s"] for r in record["runs"]]
    traced = record["traced"]
    per_run: list[dict[str, float]] = []
    unattributed = []
    for r in traced:
        layers = _progress_layers(r["progress"])
        layers.update(_store_layers(r["stores"], r["wall_s"], record["cores"]))
        per_run.append(layers)
        first = len(spans.spans)
        if r["progress"]:
            batch_spans(spans, r["progress"], r["span"])
        else:
            parents = {
                s["id"]: s for s in spans.spans if s["parent"] == r["span"]
            }
            for a, b in r["stores"]["executions"]:
                owner = next(
                    (sid for sid, s in parents.items() if s["start"] <= a and b <= s["end"] + 0.05),
                    r["span"],
                )
                spans.add("sql.execution", a, b, owner)
        engine = set(range(first, len(spans.spans)))
        unattributed.append(_unattributed(spans, r["span"], engine))
    for key in per_run[0] if per_run else ():
        out[key] = statistics.median(run[key] for run in per_run)
    for row in ("x07", "x08", "x21", "x49"):
        vals = [w for r in record["runs"] + traced for k, w in r["row_walls"].items() if k.startswith(row)]
        if vals:
            out[f"catalog_ext.{row}_s"] = statistics.median(vals)
    if unattributed:
        out["trace.unattributed_s"] = statistics.median(unattributed)
    if walls and traced:
        out["trace.overhead_frac"] = (
            statistics.median(r["wall_s"] for r in traced) / statistics.median(walls) - 1
        )
    return out
