"""Paired A/B bench protocol → BENCH_PAIRED.json (VERDICT r10 item 3).

The sandbox host throttles unpredictably (documented 30-45% uniform
drift from page-cache/CPU reclaim — BENCH_NOTES "environment slowdown
observed"), so a single bench run cannot distinguish a real per-row
regression from ambient noise, and round 10's driver record carried a
5.4x apparent s10 regression that only a local artifact rebutted. This
tool makes the classification mechanical from committed artifacts alone:

  canary c0 → full steady-state pass A → canary c1 → pass B → canary c2

- The CANARY is the x03_fingerprint catalog row timed warm (one untimed
  priming run, then median of 3): a small fixed CPU-bound workload whose
  clean-host warm time is ~0.2-0.6 s at sf0.1 (r10's "fingerprint probe
  0.63 s warm = clean baseline"). A canary at >2x the clean reference
  marks the WINDOW as throttled — per-row numbers from that window are
  environment, not code.
- Passes A and B run every catalog row steady-state (setup done once,
  before c0, exactly like bench.py's setup split). A row whose A and B
  disagree >1.5x inside a clean-canary window is flagged `unstable`
  (intra-window noise); a row stable A≈B but far from BENCH_WARM.json's
  warm band is a REAL mover.

Verdict classification for a driver-run row that moved vs last round:
  canaries clean + row stable in pair + pair ≈ warm band  → driver-side
  host noise; canaries clean + pair elevated               → real
  regression (fix it); canaries hot                        → rerun in a
  quiet window, the pair is inadmissible.

Usage: python tools/bench_paired.py            (writes BENCH_PAIRED.json)
Exit 1 if any row is a real mover (stable pair >1.5x above its warm-band
reference), so a round-close check can gate on it. Bands recorded at
another scale factor than the run's are not used: such a run reports no
movers and says why (`warm_band_note`).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_row
from kafka_streams_learning_spark import get_spark
from kafka_streams_learning_spark.catalog import all_queries
from kafka_streams_learning_spark.gitinfo import (
    code_fingerprint as _code_fingerprint,
    git_head as _git_head,
)

# Canary references (VERDICT r11 "what's wrong b"): the canary is
# measured WARM (one untimed priming run, then median of 3), so on a
# clean host it reads ~0.15-0.17 s — the r11 paired runs recorded
# 0.148-0.173. The old single "clean ref" of 0.63 s was the COLD
# first-touch fingerprint (BENCH_NOTES r10) and made faster-than-ref
# canaries look mislabeled. Both are recorded; the HOT classification
# boundary is unchanged (2x the cold ref = 1.26 s) so round-over-round
# host_clean verdicts stay comparable.
CANARY_WARM_CLEAN_S = 0.17  # measured warm median, clean host (r11)
CANARY_COLD_CLEAN_S = 0.63  # first-touch cold fingerprint (r10)
CANARY_CLEAN_REF_S = CANARY_COLD_CLEAN_S  # back-compat alias
CANARY_HOT_FACTOR = 2.0
PAIR_STABLE_FACTOR = 1.5  # |A-B| band inside one clean window
# A real mover must ALSO exceed the warm band by an absolute margin:
# sub-second rows jitter multiplicatively (r14 runs flagged x41/x47 at
# 1.5-1.8x over warm bands that are themselves one-sample readings of
# 0.37-0.49 s rows — 0.25-0.35 s of "regression", i.e. scheduler noise).
# A regression that matters at catalog scale shows up in whole seconds;
# one that never exceeds half a second is below this protocol's
# resolution and belongs to the single-pass trend lines instead.
MOVER_MIN_ABS_S = 0.5
# Pass-total symmetry bound (r14): heat that arrives MID-pass and cools
# before the next canary slips past the canary triad entirely — observed
# twice in one r14 afternoon (A/B totals 168/267 then 209/161, 18-22
# unstable rows, every canary in-band). Two passes of the same code on a
# clean host differ by ≤6% on totals (r12 158.5/149.7, r14 146.8/154.6);
# a pair whose totals disagree >25% measured two different hosts, so it
# is inadmissible no matter what the canaries read.
PAIR_TOTAL_SYMMETRY_MAX = 1.25
CANARY_ROW = "x03_fingerprint"

# Streaming canary (VERDICT r13 item 3): the batch canary is pure CPU +
# page cache and read "clean" through the exact r13 window in which
# every streaming row ran 40-75% above its r12 paired median — it
# cannot see checkpoint/state-store I/O pressure. This second canary is
# a fixed 2-micro-batch streaming count (10k rows, 100 keys, fresh
# checkpoint per sample) whose cost IS that machinery: RocksDB state
# store open/commit, checkpoint dir writes, micro-batch scheduling.
# host_clean now requires BOTH canaries inside their bands.
STREAM_CANARY_WARM_CLEAN_S = 0.8  # measured warm median, clean host (r14:
# 0.74/0.74/0.84 in the first full paired run AFTER the
# trackTotalNumberOfRows=false session default landed — the canary's own
# state writes got the same cut; pre-conf quiet-host medians were
# 1.06-1.25, and the 32-partition variant read 2.3-3.5 s while a full
# pytest run loaded the box — the load discrimination the band exists for)
STREAM_CANARY_HOT_THRESHOLD_S = 1.6  # 2x the clean warm median
_STREAM_CANARY_SCHEMA = "key string, v long"


def _stage_stream_canary(spark) -> str:
    """Stage the fixed streaming-canary replay once per process: 2 chunks
    x 5000 rows over 100 keys — deterministic and sf-independent, so the
    clean band is one number across rounds."""
    import tempfile

    from kafka_streams_learning_spark.sources.replay import (
        stage_explicit_chunks,
    )

    d = tempfile.mkdtemp(prefix="ksl-stream-canary-")
    chunks = [
        [(f"k{i % 100}", i) for i in range(c * 5000, (c + 1) * 5000)]
        for c in range(2)
    ]
    stage_explicit_chunks(spark, chunks, _STREAM_CANARY_SCHEMA, d)
    return d


_STREAM_CANARY_SEQ = [0]  # memory-sink names must be unique per run


def _stream_canary(spark, staging_dir: str) -> float:
    """Warm median-of-3 wall seconds for one full 2-batch streaming count
    run (fresh checkpoint per sample — checkpoint creation + state
    commits are the signal, not overhead)."""
    from kafka_streams_learning_spark.sources.replay import replay_stream
    from kafka_streams_learning_spark.streaming import runner
    from kafka_streams_learning_spark.streaming.windows import (
        streaming_count_by_key,
    )

    samples = []
    for i in range(4):  # first run primes code/cache paths, untimed
        _STREAM_CANARY_SEQ[0] += 1
        name = f"stream_canary_{_STREAM_CANARY_SEQ[0]}"
        t0 = time.time()
        counted = streaming_count_by_key(
            replay_stream(spark, staging_dir, _STREAM_CANARY_SCHEMA), "key"
        )
        # 4 state partitions: enough to exercise the RocksDB open/commit
        # machinery per batch without the 32-task scheduling noise that
        # made the canary's own variance rival the signal
        runner.run_to_memory(counted, name, "update", state_partitions=4)
        if i:
            samples.append(time.time() - t0)
        spark.catalog.dropTempView(name)
    return round(statistics.median(samples), 3)


def _canary(spark, sf_dir, spec) -> float:
    """Warm median-of-3 wall seconds for the canary row."""
    time_row(spark, sf_dir, spec)  # primes code/cache paths, untimed
    return round(
        statistics.median(time_row(spark, sf_dir, spec) for _ in range(3)), 3
    )


def host_is_clean(canaries: list[float], canaries_stream: list[float]) -> bool:
    """A window is clean only when BOTH canaries sit inside their bands:
    the batch canary (CPU/page-cache) AND the streaming canary
    (checkpoint + state-store I/O). r13's batch-only canary read clean
    through a window where every streaming row ran 40-75% hot — the
    blind spot this closes (VERDICT r13 item 3)."""
    return all(
        c <= CANARY_CLEAN_REF_S * CANARY_HOT_FACTOR for c in canaries
    ) and all(s <= STREAM_CANARY_HOT_THRESHOLD_S for s in canaries_stream)


def pair_is_symmetric(
    run_a: dict[str, float], run_b: dict[str, float]
) -> bool:
    """Third admissibility criterion alongside the two canaries: the
    pass TOTALS must agree within PAIR_TOTAL_SYMMETRY_MAX. The canaries
    sample the window only at its edges; a thermal wave that peaks
    inside one pass and subsides before the closing canary leaves one
    pass measured on a different effective host than the other (see the
    constant's comment for the two observed r14 windows)."""
    ta, tb = sum(run_a.values()), sum(run_b.values())
    lo = max(min(ta, tb), 0.1)
    return max(ta, tb) / lo <= PAIR_TOTAL_SYMMETRY_MAX


def classify_pair(
    run_a: dict[str, float],
    run_b: dict[str, float],
    warm_band: dict[str, list],
    host_clean: bool,
) -> tuple[list[str], list[str]]:
    """(unstable_rows, real_movers) from a paired run: unstable = A/B
    disagree beyond PAIR_STABLE_FACTOR (intra-window noise — rerun, not
    a regression); real mover = A≈B but both sit above the committed
    warm band in a CLEAN window (a throttled window can indict nothing).
    Pure so tests can pin the protocol's verdict table."""
    unstable, real_movers = [], []
    for name in run_a:
        a, b = run_a[name], run_b[name]
        lo = max(min(a, b), 0.1)  # floor: sub-100ms rows jitter multiplicatively
        if max(a, b) / lo > PAIR_STABLE_FACTOR:
            unstable.append(name)
            continue
        band = warm_band.get(name)
        if band and host_clean:
            ref = max(band[1], 0.1)  # warm column of [cold, warm]
            if (
                min(a, b) / ref > PAIR_STABLE_FACTOR
                and min(a, b) - ref > MOVER_MIN_ABS_S
            ):
                real_movers.append(name)
    return sorted(unstable), sorted(real_movers)


def warm_band_at(warm: dict, sf: float) -> tuple[dict[str, list], str | None]:
    """BENCH_WARM.json's per-row bands if they were recorded at the run's
    scale factor, else none, with the reason: a row's time at another
    scale says nothing about whether it moved."""
    if warm.get("sf") != sf:
        return {}, (
            f"BENCH_WARM.json bands are at sf{warm.get('sf')}, this run is at "
            f"sf{sf}: no real movers classified"
        )
    return warm["queries"], None


def main() -> int:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("bench-paired")
    spark.sparkContext.setLogLevel("ERROR")

    specs = all_queries()
    by_name = {s.name: s for s in specs}
    canary_spec = by_name[CANARY_ROW]

    # identical setup split to bench.py so both passes are steady-state
    from kafka_streams_learning_spark.catalog import warm_setup
    from kafka_streams_learning_spark.sources.batch import load_table

    load_table(spark, sf_dir, "events").limit(1000).write.format("noop").mode(
        "overwrite"
    ).save()
    # like bench.py, the set-up clock times warm_setup only, not the JVM
    # warm-up above
    t_setup0 = time.time()
    warm_setup(spark, sf_dir)
    setup_seconds = round(time.time() - t_setup0, 3)

    canary_stage = _stage_stream_canary(spark)

    c0 = _canary(spark, sf_dir, canary_spec)
    s0 = _stream_canary(spark, canary_stage)
    run_a = {s.name: time_row(spark, sf_dir, s) for s in specs}
    c1 = _canary(spark, sf_dir, canary_spec)
    s1 = _stream_canary(spark, canary_stage)
    run_b = {s.name: time_row(spark, sf_dir, s) for s in specs}
    c2 = _canary(spark, sf_dir, canary_spec)
    s2 = _stream_canary(spark, canary_stage)

    canaries = [c0, c1, c2]
    canaries_stream = [s0, s1, s2]
    window_clean = host_is_clean(canaries, canaries_stream)
    symmetric = pair_is_symmetric(run_a, run_b)
    host_clean = window_clean and symmetric

    warm_band: dict[str, list[float]] = {}
    band_note = "no BENCH_WARM.json: no real movers classified"
    warm_path = os.path.join(here, "BENCH_WARM.json")
    if os.path.exists(warm_path):
        with open(warm_path) as f:
            warm_band, band_note = warm_band_at(json.load(f), sf)

    unstable, real_movers = classify_pair(run_a, run_b, warm_band, host_clean)

    out = {
        "protocol": "canary / pass A / canary / pass B / canary",
        "canary_row": CANARY_ROW,
        # canaries are WARM measurements — compare against warm_clean;
        # the hot threshold stays pinned to 2x the cold ref for
        # round-over-round comparability (see constants at top)
        "canary_warm_clean_s": CANARY_WARM_CLEAN_S,
        "canary_cold_clean_s": CANARY_COLD_CLEAN_S,
        "canary_hot_threshold_s": round(
            CANARY_COLD_CLEAN_S * CANARY_HOT_FACTOR, 3
        ),
        "canaries": canaries,
        "canary_stream": canaries_stream,
        "canary_stream_warm_clean_s": STREAM_CANARY_WARM_CLEAN_S,
        "canary_stream_hot_threshold_s": STREAM_CANARY_HOT_THRESHOLD_S,
        "window_clean": window_clean,
        "pair_symmetric": symmetric,
        "pair_total_ratio": round(
            max(sum(run_a.values()), sum(run_b.values()))
            / max(min(sum(run_a.values()), sum(run_b.values())), 0.1),
            3,
        ),
        "host_clean": host_clean,
        "generated_unix": int(time.time()),
        # code-version stamps: bench.py refuses to stamp these medians
        # next to single-pass rows benched from a different engine-code
        # state (a stale paired record is exactly the jitter-vs-cost
        # confusion the stamping exists to prevent — ADVICE r12).
        # git_head is forensics; code_fingerprint is the gate.
        "git_head": _git_head(here),
        "code_fingerprint": _code_fingerprint(here),
        "setup_seconds": setup_seconds,
        "total_a": round(sum(run_a.values()), 3),
        "total_b": round(sum(run_b.values()), 3),
        "run_a": run_a,
        "run_b": run_b,
        "unstable_rows": unstable,
        "real_movers": real_movers,
        "warm_band_note": band_note,
        "driver_memory": spark.conf.get("spark.driver.memory", "unset"),
        "sf": sf,
    }
    with open(os.path.join(here, "BENCH_PAIRED.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(json.dumps({
        "canaries": canaries, "canary_stream": canaries_stream,
        "pair_ratio": out["pair_total_ratio"], "host_clean": host_clean,
        "total_a": out["total_a"], "total_b": out["total_b"],
        "unstable": len(unstable), "real_movers": sorted(real_movers),
        "warm_band_note": band_note,
    }, separators=(",", ":")))
    return 1 if real_movers else 0


if __name__ == "__main__":
    raise SystemExit(main())
