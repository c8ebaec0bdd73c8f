"""Seeded benchmark of the streaming engine: three closed-loop workloads,
each in a fresh process and JVM on local[nproc], every result hashed
against the catalog's DuckDB oracle.

    python3 perfbench/run.py --workload stream_keyed_alerts --seed 1 \
        --seconds 10 --trace 0

--workload all runs the three in turn. This process is the generator:
it writes the seeded parquet inputs, computes the oracle hashes, then
launches perfbench/engine_run.py for the measured part with its output
sent to a log file. stdout carries JSON records only: one detail record
per workload (traffic, configuration, fail_frac, peak RSS and, for the
stream workloads, the per-micro-batch cycle times), then one result line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

holding the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). Logs and traces stay under .perfbench/ in the checkout.
The exit code is non-zero when any query run fails.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import layers  # noqa: E402
import measure  # noqa: E402

DRIVER_MEM = "4g"
CHILD_DEADLINE_S = 170.0
# Warm-up input, as a share of the generated rows: the keyed warm-up's
# two triggers carry as many rows as one timed trigger
WARM_SCALE = {
    "stream_keyed_alerts": 0.1,
    "stream_interval_join": 0.02,
    "batch_text_dedup": 0.02,
}
TABLES = {
    "stream_keyed_alerts": ("events",),
    "stream_interval_join": ("orders", "lineitem"),
    "batch_text_dedup": ("documents",),
}
END_TO_END = {"setup_s": "s", "wall_s": "s"}


def _engine_present() -> bool:
    return all(
        importlib.util.find_spec(m) is not None
        for m in ("kafka_streams_learning_spark", "tools.oracle_check")
    )


def oracle_hashes(workload: str, inputs: str) -> dict[str, list]:
    """[rows, table_hash, sorted columns] of each catalog row's DuckDB
    oracle over the generated tables."""
    import duckdb

    from kafka_streams_learning_spark.catalog import all_queries
    from tools.oracle_check import table_hash

    sql = {q.name: q.oracle for q in all_queries()}
    con = duckdb.connect()
    try:
        for t in TABLES[workload]:
            path = os.path.join(inputs, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for row in gen.ROWS[workload]:
            res = con.execute(sql[row])
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            out[row] = [len(rows), table_hash(cols, rows), sorted(cols)]
        return out
    finally:
        con.close()


def _session_members(sid: int) -> list[int]:
    """Live processes of session `sid`. The engine process leads its own
    session; the JVM and PySpark's worker daemon (which moves to a process
    group of its own) stay in it."""
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    st = fh.read()
            except OSError:
                continue
            fields = st[st.rindex(")") + 2:].split()
            if fields[0] != "Z" and int(fields[3]) == sid:
                out.append(int(d))
    return out


def _stop_session(proc: subprocess.Popen) -> None:
    """Kill whatever the engine process left in its session (the JVM,
    Python workers) and wait until all of it has ended."""
    deadline = time.time() + 30
    while time.time() < deadline:
        for pid in _session_members(proc.pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        proc.poll()
        if not _session_members(proc.pid):
            break
        time.sleep(0.05)
    proc.wait()


def run_engine(workload: str, work: str, warm: str, seconds: float, trace: bool,
               log_path: str, deadline: float) -> dict:
    out = os.path.join(work, "record.json")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        # keep the JVM's temp files (and no hsperfdata) out of /tmp
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        PERFBENCH_T0=repr(time.time()),
        PERFBENCH_RUN=os.path.basename(work),
    )
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine_run.py"), workload,
             os.path.join(work, "inputs", workload), warm,
             str(seconds), "1" if trace else "0", out],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_session(proc)
    if code != 0:
        why = "timed out" if code is None else f"exited with {code}"
        raise RuntimeError(f"engine process {why}; see {log_path}")
    with open(out) as fh:
        return json.load(fh)


def check(record: dict, expected: dict, generated_rows: int) -> tuple[int, int, list[str]]:
    """(attempted, failed, reasons) over every query run in `record` and
    every error. A stream run fails as a whole on a wrong hash, a
    numInputRows total other than the generated rows, or a watermark
    drop; a batch pass runs four catalog rows, each checked on its own.
    A catalog row that no hash covers fails."""
    attempted = failed = 0
    reasons = []
    covered = set()
    for i, r in enumerate(record["runs"] + record["traced"]):
        bad = []
        for row, got in r["hashes"].items():
            covered.add(row)
            if got != expected[row]:
                bad.append(f"{row}: hash {got} != oracle {expected[row]}")
        wrong_rows = len(bad)
        if r["progress"]:
            n_in = sum(p["numInputRows"] for p in r["progress"])
            if n_in != generated_rows:
                bad.append(f"numInputRows {n_in} != generated {generated_rows}")
            dropped = sum(
                so.get("numRowsDroppedByWatermark", 0)
                for p in r["progress"] for so in p.get("stateOperators", [])
            )
            if dropped:
                bad.append(f"{dropped} rows dropped at the watermark")
        attempted += r["queries"]
        if bad:
            failed += r["queries"] if len(bad) > wrong_rows else wrong_rows
            reasons.append(f"run {i}: " + "; ".join(bad))
    attempted += len(record["errors"])
    failed += len(record["errors"])
    reasons += record["errors"]
    if not record["errors"]:
        for row in sorted(set(expected) - covered):
            attempted += 1
            failed += 1
            reasons.append(f"{row}: result never checked")
    return attempted, failed, reasons


def end_to_end(record: dict) -> dict:
    return {
        "setup_s": record["setup_s"],
        "wall_s": statistics.median(r["wall_s"] for r in record["runs"]),
    }


def reported(record: dict, fail_frac: float) -> dict:
    """Metrics the detail record prints with units besides the bounded
    ones: peak RSS, fail_frac and, for stream workloads, the median and
    tail micro-batch cycle time."""
    out = {
        "peak_rss_mb": {"value": record["peaks_mb"]["total"], "unit": "MiB"},
        "fail_frac": {"value": fail_frac, "unit": "ratio"},
    }
    cycles = [c for r in record["runs"] for c in r["cycles"]]
    if cycles:
        cyc = measure.cycle_summary(cycles)
        out["batch_p50_s"] = {"value": cyc["p50_s"], "unit": "s"}
        out["batch_tail_s"] = {"value": cyc["tail_s"], "unit": "s"}
        out["batch_tail_pct"] = {"value": cyc["tail_pct"], "unit": "percentile"}
        out["batch_count"] = {"value": cyc["count"], "unit": "count"}
    return out


def run_workload(workload: str, seed: int, seconds: float, trace: bool, t_start: float) -> dict:
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{workload}-{seed}-{os.getpid()}")
    for d in ("logs", "traces"):
        os.makedirs(os.path.join(base, d), exist_ok=True)
    tag = f"{workload}-seed{seed}-trace{int(trace)}"
    log_path = os.path.join(base, "logs", tag + ".log")
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0 = time.time()
        traffic = gen.generate(workload, seed, os.path.join(work, "inputs", workload))
        warm = os.path.join(work, "warm", workload)
        gen.generate(workload, seed, warm, scale=WARM_SCALE[workload])
        t1 = time.time()
        expected = oracle_hashes(workload, os.path.join(work, "inputs", workload))
        t2 = time.time()
        record = run_engine(workload, work, warm, seconds, trace, log_path,
                            t_start + CHILD_DEADLINE_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    generated = traffic.get("rows", traffic.get("orders", 0) + traffic.get("lineitems", 0))
    attempted, failed, reasons = check(record, expected, generated)
    spans = measure.Spans(os.path.basename(work))
    spans.spans = record.pop("spans")
    spans.add("generate", t0, t1, None)
    spans.add("oracle_check.duckdb", t1, t2, None)
    conf_drift = sorted(
        k for k in record["conf_before"] if record["conf_before"][k] != record["conf_after"][k]
    )
    detail = {
        "workload": workload, "seed": seed, "trace": int(trace),
        "traffic": traffic,
        "runs": len(record["runs"]), "traced_runs": len(record["traced"]),
        "attempted": attempted, "failed": failed,
        "failures": reasons[:5],
        "reported": reported(record, failed / attempted if attempted else 1.0),
        "conf_before": record["conf_before"], "conf_after": record["conf_after"],
        "conf_drift": conf_drift,
    }
    if trace:
        values = layers.summarise(record, spans)
        units = layers.PER_LAYER
        with open(os.path.join(base, "traces", tag + ".json"), "w") as fh:
            json.dump({"detail": detail, "layers": values, "spans": spans.spans}, fh)
    else:
        values = end_to_end(record)
        units = END_TO_END
    detail["metrics"] = {k: {"value": values[k], "unit": units[k]} for k in units}
    return detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all", choices=("all",) + gen.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args(argv)
    t_start = time.time()
    if not _engine_present():
        print("perfbench: the engine package (kafka_streams_learning_spark) and "
              "tools/oracle_check.py must sit next to perfbench/", file=sys.stderr)
        return 2
    names = gen.WORKLOADS if args.workload == "all" else (args.workload,)
    details = []
    for i, w in enumerate(names):
        # each workload gets its own share of the deadline
        t_w = t_start + i * CHILD_DEADLINE_S if args.workload == "all" else t_start
        try:
            detail = run_workload(w, args.seed, args.seconds, bool(args.trace), t_w)
        except Exception as e:  # a broken run is a failed run, not a crash
            traceback.print_exc()
            detail = {"workload": w, "seed": args.seed, "attempted": 1, "failed": 1,
                      "error": f"{type(e).__name__}: {e}", "metrics": {}}
        details.append(detail)
        print(json.dumps(detail), flush=True)
    attempted = sum(d["attempted"] for d in details)
    failed = sum(d["failed"] for d in details)
    if len(details) == 1:
        metrics = details[0]["metrics"]
    else:
        metrics = {f"{d['workload']}.{k}": v for d in details for k, v in d["metrics"].items()}
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
