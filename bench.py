#!/usr/bin/env python
"""Benchmark harness: run every registry query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print the
full per-query JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"<name>": sec, ...}, "sf": <sf>}

followed by a compact one-line summary (same metric/value/unit keys,
plus median/p90 vs_r01, a ``queries`` map of the GATE_WIDTH driver-gate
entries at 2-decimal seconds — r16, so the driver's per-query PERF
comparison survives its own stdout truncation — and a length guard that
sheds lower-priority keys before that map) as the LAST stdout line —
the driver archives only a ~2000-char tail of stdout, so the summary is
what survives in BENCH_r{N}.json; the full document is also written to
BENCH_FULL_LATEST.json beside this script. r16 also adds
``value_cache_honest`` (family rows at first_rep — a total with no
cross-rep cache warmth) and ``cold_index_builds`` (post-run one-shot
IVF/BPE builds into an ephemeral dir, so the amortized index-probe
medians are never the only number).

Each query executes its full physical plan via a noop sink (no driver-side
collect, so we measure engine throughput, not Arrow transfer). Before the
timed run, the same plan shape is executed once at sf0.001: whole-stage
codegen classes are compiled and cached on that run, so the timed number
measures data-proportional work (scan/shuffle/agg), not Janino compile
latency — the component that actually scales to 100 TB.

Statistics (r10, twinned r11): every query gets 3 round-robin passes;
queries whose provisional median is sub-second (or whose reps spread
> 1.5x under a 5 s median) get 2 extra passes. TWO per-query columns
are published:

- `queries` (headline `value`): LOWER-TRIMMED median (plain median at
  n<5; median of the lowest 3 reps at n>=5). CPU-steal contamination is
  one-sided and was observed slowing a whole extra pass at once, which
  a plain 5-rep median cannot absorb, while a genuine regression is
  slow in every rep and shows at full size in the lowest 3.
- `queries_plain_median` (`value_plain_median`): plain median over all
  reps — the SAME estimator r1-r9 published, so cross-round deltas and
  `vs_r01` (computed from this column against r01's plain medians) are
  one statistic; `vs_r01_trimmed` keeps the r10-style ratio.

The doc also carries `value_first_rep` (sum of each query's FIRST
timed rep: the uncached single-pass bound, since session caches
legitimately amortize shared subtrees across reps), `cache_families`
(registry.CACHE_FAMILIES cold/rider tags, so per-query numbers of
cache-sharing queries are read with the right semantics), and a noise
block with BOTH trimmed and raw (all-reps max/min) spreads — the raw
one is the machine's actual burst magnitude.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from simple_map_reduce_ruuner_spark.registry import (
    CACHE_FAMILIES,
    GATE_WIDTH,
    all_queries,
)
from simple_map_reduce_ruuner_spark.session import get_spark
from simple_map_reduce_ruuner_spark.sources.tables import clear_session_caches


def median(xs: list[float]) -> float:
    s = sorted(xs)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def _probe_plan_once(spark) -> float:
    """One timed execution of the FROZEN r14 calibration plan — DO NOT
    EDIT the plan or its constants: cross-round BENCH deltas are
    normalized by its timing, so comparability depends on the plan
    staying byte-stable. (r15 moved the plan here verbatim from
    machine_index_probe so the per-pass trace can reuse it.)"""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(0, 12_000_000, 1, 32)
        .select(
            (F.col("id") % 1_000_003).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("h"),
        )
        .groupBy("k")
        .agg(F.count("*").alias("c"), F.max("h").alias("m"))
        .orderBy(F.desc("c"), "k")
        .limit(100)
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0


def probe_stat(ts: list[float]) -> tuple[float, list[float]]:
    """(machine_index, warm_reps) from raw probe timings INCLUDING the
    warm-up rep: rep 0 pays the probe's own whole-stage-codegen compile
    (fixed-cost JVM work, measured 8.7 s vs 3.0 s warm) and is
    discarded; the MIN of the warm reps is the index — steal
    contamination is one-sided (a burst only slows a rep), so min is
    the steal-robust capability estimate (back-to-back 3-rep medians
    measured 4.1 s vs 2.0 s on this VM; the mins agreed far closer).
    Pure over a timing list so the contract is testable without a
    SparkSession (ADVICE r14: the old test pinned source spelling)."""
    warm = ts[1:]
    return min(warm), warm


def trace_median_index(trace: list[dict]) -> float | None:
    """Robust one-number machine index from the per-pass probe trace:
    the MEDIAN of per-pass ``probe_s``. The r15 close run showed why
    neither extreme works as the normalizer: the min (start probe
    1.459) under-represented a run that sat ~2.1 for most passes
    (over-pessimistic normalization), while per-pass division let one
    steal-hit 19.9 s probe rescale its whole pass 13× (over-optimistic)
    — the median of the passes shrugs off a single poisoned probe and
    tracks the run's typical capability. None when the trace is too
    short to be robust (<3 usable probes); callers then fall back to
    machine_index."""
    vals = [t.get("probe_s", 0.0) for t in trace if t.get("probe_s", 0) > 0]
    if len(vals) < 3:
        return None
    return median(vals)


def machine_index_probe(spark, reps: int = 5) -> dict:
    """FROZEN r14 calibration probe (plan in :func:`_probe_plan_once`,
    warm-up/min contract in :func:`probe_stat`).

    ~5 s of CPU + shuffle on a pinned synthetic input (no file
    dependency): sha2 over 12M generated rows (CPU / codegen), a
    1M-key hash aggregate (map-side partial + one exchange), and a
    top-100 sort. A slower sandbox scales this number and real queries
    together, so `ratio_this/ratio_prev ÷ index_this/index_prev`
    isolates code regressions from environment drift (the r13 98→146 s
    scare)."""
    raw = [_probe_plan_once(spark) for _ in range(reps + 1)]
    index, warm = probe_stat(raw)
    return {
        "machine_index": round(index, 3),
        "machine_index_reps": [round(x, 3) for x in warm],
    }


def proc_snapshot() -> dict:
    """/proc-level load + CPU-steal counters (cumulative jiffies); the
    before/after delta gives the steal share DURING the bench run —
    the direct evidence for 'the sandbox was slow', independent of any
    Spark timing."""
    out: dict = {}
    try:
        with open("/proc/loadavg") as fh:
            la = fh.read().split()
        out["loadavg_1m"] = float(la[0])
        out["loadavg_5m"] = float(la[1])
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(v) for v in parts[1:]]
        # cpu: user nice system idle iowait irq softirq steal ...
        out["cpu_total_jiffies"] = sum(vals)
        out["cpu_idle_jiffies"] = vals[3] + (vals[4] if len(vals) > 4 else 0)
        out["cpu_steal_jiffies"] = vals[7] if len(vals) > 7 else 0
    except (OSError, ValueError, IndexError):
        pass
    return out


def proc_delta(before: dict, after: dict) -> dict:
    out = {
        "loadavg_1m_before": before.get("loadavg_1m"),
        "loadavg_1m_after": after.get("loadavg_1m"),
    }
    tot = after.get("cpu_total_jiffies", 0) - before.get(
        "cpu_total_jiffies", 0
    )
    if tot > 0:
        steal = after.get("cpu_steal_jiffies", 0) - before.get(
            "cpu_steal_jiffies", 0
        )
        idle = after.get("cpu_idle_jiffies", 0) - before.get(
            "cpu_idle_jiffies", 0
        )
        out["steal_pct"] = round(100.0 * steal / tot, 2)
        out["busy_pct"] = round(100.0 * (tot - idle - steal) / tot, 2)
    return out


def load_prev_full(here: str) -> tuple[str | None, dict | None]:
    """Newest committed BENCH_FULL_r*.json — the previous round's
    close-of-round full document (per-query plain medians + , from r14
    on, its machine_index). Lets every bench run publish round-over-
    round ratios and, when both sides carry a machine_index,
    machine-normalized ones.

    Self-comparison guard (ADVICE r14): once the CURRENT round's close
    file is committed, a naive newest-file default makes any rerun in
    the same round self-compare (ratios ~1.0, observed live in r14).
    The current round is derived the same way the registry LRU does —
    max committed CORRECTNESS_r{N}.json + 1 — and any BENCH_FULL_r*
    at or past it is skipped. Sequencing assumption (review-noted):
    the driver commits CORRECTNESS_r{N} at round close, BEFORE any
    round-{N+1} bench runs, so in the normal flow the newest surviving
    candidate is exactly the previous round. In an exotic state (e.g.
    BENCH_FULL_r{N} committed mid-round but the round never closed) a
    later run would baseline one round further back — visible in the
    published `vs_prev_file`, and SPARK_GRAFT_BENCH_PREV=<file> pins
    the baseline explicitly."""
    import glob

    override = os.environ.get("SPARK_GRAFT_BENCH_PREV")
    if override:
        path = os.path.join(here, override)
        try:
            with open(path) as fh:
                return os.path.basename(path), json.load(fh)
        except (OSError, ValueError):
            return None, None

    def round_no(p: str) -> int:
        m = re.search(r"BENCH_FULL_r(\d+)", p)
        return int(m.group(1)) if m else -1

    def cround(p: str) -> int:
        m = re.search(r"CORRECTNESS_r(\d+)", p)
        return int(m.group(1)) if m else -1

    correctness_rounds = [
        cround(p) for p in glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))
    ]
    current = max(correctness_rounds, default=None)
    current = current + 1 if current is not None else None

    cands = sorted(
        (
            p
            for p in glob.glob(os.path.join(here, "BENCH_FULL_r*.json"))
            if current is None or round_no(p) < current
        ),
        key=round_no,
    )
    if not cands:
        return None, None
    path = cands[-1]
    try:
        with open(path) as fh:
            return os.path.basename(path), json.load(fh)
    except (OSError, ValueError):
        return None, None


def query_stat(xs: list[float]) -> float:
    """Published per-query timing: plain median at n < 5; median of the
    LOWEST 3 reps at n >= 5. CPU-steal contamination is strictly
    one-sided (a burst only ever slows a rep, never speeds it), and a
    sustained burst can cover a whole extra round-robin pass — observed:
    one slowed pass put 3 of payload_byte_stats' 5 reps at ~2x and the
    plain 5-rep median published a 2.04 vs_r01 for a query whose clean
    reps sat at 1.1x. Trimming the top 2 of 5 tolerates exactly the
    contamination the extra passes exist to absorb, while a genuine
    regression (slow in EVERY rep) still shows at full size in the
    lowest 3."""
    s = sorted(xs)
    return median(s[:3]) if len(s) >= 5 else median(s)


def rep_spread(xs: list[float]) -> float:
    """max/min ratio over the SAME samples query_stat draws from (all
    reps at n < 5, the lowest 3 at n >= 5) — the noise block calibrates
    the stability of the published statistic, so it must ignore exactly
    the burst reps the statistic ignores; raw reps stay visible in
    rep_trace."""
    s = sorted(xs)
    if len(s) >= 5:
        s = s[:3]
    return s[-1] / s[0]


def rep_spread_raw(xs: list[float]) -> float:
    """max/min over ALL reps — the machine's actual burst magnitude.
    The trimmed spread above measures the published statistic's
    stability; this one keeps the raw noise floor visible at the
    aggregate level (r10's trimmed-only noise block reported p90 1.30
    on a VM documented to show 2-10x bursts — technically true of the
    estimator, misleading about the machine)."""
    s = sorted(xs)
    return s[-1] / s[0]


#: keys the summary line sheds (in order) when it would overflow the
#: driver's ~2000-char stdout tail; each remains in (or is derivable
#: from) BENCH_FULL_LATEST.json. The gate-query map is never shed.
SUMMARY_SHED_ORDER = (
    "vs_prev_round_median_drift_normalized",
    "noise",
    "vs_prev_round_machine_normalized",
    "top5_slowest",
    "median_vs_r01_trimmed",
    "p90_vs_r01_trimmed",
    "first_vs_median_p90",
    "queries_scope",
    "median_sec",
    "machine_index_end",
    "steal_pct",
    "reps",
    "extra_passes",
)
SUMMARY_MAX_CHARS = 1900


def shed_to_fit(summary: dict, limit: int = SUMMARY_MAX_CHARS) -> str:
    """Serialize ``summary``, dropping SUMMARY_SHED_ORDER keys (in
    order) until the line fits ``limit`` — the last stdout line must
    survive the driver's tail capture intact or NOTHING parses (the
    r05-r07 "parsed": null lesson). The gate-query map is never dropped;
    if the line still overflows after every shed (possible only when
    the rotating gate set lands on unusually long names), the map's
    values fall back from 2-decimal to 1-decimal seconds. Mutates
    ``summary``."""
    line = json.dumps(summary)
    for victim in SUMMARY_SHED_ORDER:
        if len(line) <= limit:
            break
        summary.pop(victim, None)
        line = json.dumps(summary)
    if len(line) > limit and isinstance(summary.get("queries"), dict):
        summary["queries"] = {
            n: round(v, 1) for n, v in summary["queries"].items()
        }
        line = json.dumps(summary)
    return line


def cache_honest_total(
    names, timings: dict, first_rep: dict, fam_members: set
) -> float:
    """Headline total with no cross-rep cache warmth (r16, PERF item):
    CACHE_FAMILIES members contribute their FIRST timed rep (the
    uncached single-pass bound) instead of the warm trimmed median."""
    return round(
        sum(
            first_rep.get(n, 0.0)
            if n in fam_members
            else (timings[n] if timings[n] >= 0 else 0.0)
            for n in names
        ),
        3,
    )


def pick_noisy(samples: dict[str, list[float]], failed: set[str]) -> list[str]:
    """Queries that get extra round-robin passes: provisional median
    sub-second (pure scheduling jitter territory), or rep spread > 1.5x
    with a median under 5 s (a burst likely hit a rep; bounded so a
    noisy 30 s query can't quadruple the bench wall time)."""
    return [
        n
        for n, xs in samples.items()
        if n not in failed
        and xs
        and (
            median(xs) < 1.0
            or (max(xs) / max(min(xs), 1e-9) > 1.5 and median(xs) < 5.0)
        )
    ]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    spark = get_spark(app_name="smrr-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    queries = all_queries()

    # Warm-up: JVM classloading + codegen on a trivial plan.
    from simple_map_reduce_ruuner_spark.sources.tables import load_table

    load_table(spark, sf_dir, "lineitem").count()

    # Machine calibration (r14, judge item 1): frozen probe timed at
    # bench START and again at bench END, plus /proc load/steal deltas
    # over the whole run — cross-round deltas are attributable to code
    # only after dividing out machine_index drift.
    proc_before = proc_snapshot()
    mi_start = machine_index_probe(spark)

    # Median-of-N timed passes, ROUND-ROBIN over queries (not N back-to-back
    # runs of the same query): this VM shows 2-10x CPU-steal bursts, and
    # interleaving separates a query's reps in time so one burst can't
    # poison all of them. Median, not mean, discards the outlier rep.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    warm_dir = "/root/testdata/sf0.001"
    names = sorted(queries)
    samples: dict[str, list[float]] = {n: [] for n in names}
    failed: set[str] = set()
    for name in names:  # codegen warm-up pass at tiny scale
        try:
            if os.path.isdir(warm_dir):
                queries[name].fn(spark, warm_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
        except Exception as exc:
            # warm-up failures are reported but must NOT gate the timed
            # run — a tiny-scale-only edge would otherwise silently drop
            # the query from the benchmarked total (review-found); only
            # failures AT THE BENCHMARKED SCALE exclude a query
            print(f"BENCH WARMUP ERROR {name}: {exc}", file=sys.stderr)
    # Drop the warm-up pass's session-cache checkpoints: sf0.001 blocks
    # would otherwise stay pinned in the storage pool for the whole
    # timed run (they are keyed per sf_dir and never touched again).
    clear_session_caches(warm_dir)

    # Per-pass machine trace (r15, judge item 7): the r14 B2 run
    # degraded 2.0 → 5.1 DURING the run and only the start/end probes
    # caught it. A frozen-plan probe closes each round-robin pass
    # (codegen already warm from mi_start), time-locating drift, and
    # per-query normalization below uses the probe nearest each rep
    # (its own pass's) instead of one whole-run index. MIN OF 2 reps
    # per pass (~6 s each): the first smoke run showed a single-rep
    # probe is itself steal-exposed (one pass probe read 6.4 s while
    # that pass's query spreads sat at 1.15 — the probe was the
    # outlier, and a 4× false drift would rescale the whole pass).
    machine_trace: list[dict] = []
    pass_ids: dict[str, list[int]] = {n: [] for n in names}

    def timed_pass(run_names, label: str) -> None:
        pid = len(machine_trace)  # this pass's trace slot
        for name in run_names:
            if name in failed:
                continue
            try:
                t0 = time.perf_counter()
                queries[name].fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                samples[name].append(time.perf_counter() - t0)
                pass_ids[name].append(pid)
            except Exception as exc:
                failed.add(name)
                print(f"BENCH ERROR {name}: {exc}", file=sys.stderr)
        machine_trace.append(
            {
                "at": label,
                "probe_s": round(
                    min(_probe_plan_once(spark), _probe_plan_once(spark)), 3
                ),
            }
        )

    # Heap telemetry (r14, judge item 2): JVM heap after each
    # round-robin pass.
    heap_trace: list[dict] = []

    def record_heap(label: str) -> None:
        try:
            rt = spark._jvm.java.lang.Runtime.getRuntime()
            heap_trace.append(
                {
                    "at": label,
                    "heap_used_mb": round(
                        (rt.totalMemory() - rt.freeMemory()) / 1e6
                    ),
                    "heap_total_mb": round(rt.totalMemory() / 1e6),
                }
            )
        except Exception:
            pass

    record_heap("start")
    for i in range(reps):
        timed_pass(names, f"pass{i + 1}")
        record_heap(f"pass{i + 1}")

    # Adaptive extra reps (r10): sub-second queries' 3-rep medians are
    # dominated by this VM's CPU-steal bursts (r9: a burst hitting 2 of
    # neardup_embedding's 3 reps published a 2.23 vs_r01 that isolated
    # runs put at ~1.0). pick_noisy()'s selections get extra round-robin
    # passes so the final median is over 5 samples — a burst can then
    # poison at most 2 of them. Cost: ~2 min on top of a ~9-min run
    # (sub-1s queries sum to ~55 s/pass at sf0.1).
    extra_passes = int(os.environ.get("SPARK_GRAFT_BENCH_EXTRA_PASSES", "2"))
    noisy = [n for n in names if n in set(pick_noisy(samples, failed))]
    for j in range(extra_passes):
        timed_pass(noisy, f"extra{j + 1}")
    record_heap("end")

    mi_end = machine_index_probe(spark)
    proc_after = proc_snapshot()

    # Cold-build receipt for the on-disk index families (r16, judge
    # item 3): the IVF/BPE indexes under /tmp/smrr_{ivf,bpe}_index
    # outlive the session, so the timed probe medians above are
    # amortized numbers that never pay the build after the first run
    # ever. Build both indexes ONCE per bench run into a bench-ephemeral
    # dir — AFTER every timed pass and the closing machine probe, with
    # the session caches dropped first so the BPE chain is genuinely
    # re-derived — and publish the timed builds beside the medians. The
    # ephemeral dir is deleted afterwards: nothing is precomputed for,
    # or reusable by, any later run.
    cold_index: dict = {}
    if os.environ.get("SPARK_GRAFT_BENCH_COLD_INDEX", "1") == "1":
        import shutil
        import tempfile

        ephemeral = tempfile.mkdtemp(prefix="smrr_cold_index_")
        cold_index["session_caches_dropped"] = clear_session_caches(sf_dir)
        cold_index["note"] = (
            "one-shot builds into a bench-ephemeral dir (deleted after), "
            "session caches cleared first; JVM/codegen warm from the "
            "bench run. The per-query medians above amortize the "
            "persistent /tmp index store as designed."
        )
        try:
            from simple_map_reduce_ruuner_spark.operators.bpe_index import (
                build_bpe_merges,
            )
            from simple_map_reduce_ruuner_spark.operators.ivf import (
                build_ivf_index,
            )

            t0 = time.perf_counter()
            build_ivf_index(
                spark, sf_dir, base_dir=os.path.join(ephemeral, "ivf")
            )
            cold_index["ivf_build_s"] = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            build_bpe_merges(
                spark, sf_dir, base_dir=os.path.join(ephemeral, "bpe")
            )
            cold_index["bpe_build_s"] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # receipt failure must not kill the bench
            cold_index["err"] = str(exc)[:300]
            print(f"BENCH COLD-INDEX ERROR: {exc}", file=sys.stderr)
        finally:
            shutil.rmtree(ephemeral, ignore_errors=True)

    machine = {
        # overall index = min over both probe placements: the bench's
        # best observed machine capability (uniform sandbox slowdown —
        # the case worth normalizing by — still shows in the min)
        "machine_index": min(
            mi_start["machine_index"], mi_end["machine_index"]
        ),
        "machine_index_start": mi_start["machine_index"],
        "machine_index_start_reps": mi_start["machine_index_reps"],
        "machine_index_end": mi_end["machine_index"],
        "machine_index_end_reps": mi_end["machine_index_reps"],
        # one single-rep probe per round-robin pass (r15): time-locates
        # mid-run drift that start/end probes straddle
        "machine_trace": machine_trace,
        "proc": proc_delta(proc_before, proc_after),
    }

    # Nearest-probe rep normalization (r15): scale every rep by
    # (machine_index / its own pass's probe) so reps from a pass the
    # machine degraded under are corrected by THAT pass's drift, not a
    # whole-run average. With a steady machine probe_s ≈ machine_index
    # and this is a no-op.
    def trace_normed(n: str) -> list[float]:
        mi = machine["machine_index"]
        out = []
        for x, pid in zip(samples[n], pass_ids[n]):
            p = machine_trace[pid]["probe_s"] if pid < len(machine_trace) else 0
            out.append(x * (mi / p) if p > 0 and mi > 0 else x)
        return out

    normed = {n: trace_normed(n) for n in names}
    queries_trace_norm = {
        n: (round(query_stat(normed[n]), 3) if normed[n] else -1.0)
        for n in names
    }
    plain_trace_norm = {
        n: (round(median(normed[n]), 3) if normed[n] else -1.0) for n in names
    }

    timings = {
        n: (round(query_stat(samples[n]), 3) if samples[n] else -1.0)
        for n in names
    }
    # Plain-median twin (r11): r1-r9 published plain medians; r10 moved
    # the headline to the lower-trimmed statistic, which made vs_r01
    # mix estimators (the trimmed stat is ~the 31st percentile at n=5,
    # so cross-round ratios carried a systematic downward bias). Both
    # columns are published from here on: `queries` stays the trimmed
    # steal-robust headline, `queries_plain_median` is the like-for-like
    # series against r1's plain 3-rep medians — and vs_r01 is computed
    # from THIS column, with the trimmed ratio kept as vs_r01_trimmed.
    plain = {
        n: (round(median(samples[n]), 3) if samples[n] else -1.0)
        for n in names
    }
    # Per-query rep trace, in execution order. samples[n][0] is the
    # query's FIRST timed execution at this scale (codegen pre-warmed at
    # sf0.001, data/caches cold-ish) — the closest thing a single bench
    # process has to an isolated rep — while the median folds in the
    # warmth later round-robin passes accumulate. Publishing both lets
    # a reader mechanically separate "query regressed" (first AND
    # median high) from "bench-order warmth" (first high, median low):
    # doc_fingerprint spent r7+r8 looking regressed in driver benches
    # at ~0.97 vs_r01 while isolated runs said 0.50 — this column is
    # the receipt that closes that class of question per query.
    rep_trace = {n: [round(x, 3) for x in samples[n]] for n in names}
    first_rep = {n: xs[0] for n, xs in rep_trace.items() if xs}
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    # Sum of FIRST reps alongside the median total: the session caches
    # (registry.CACHE_FAMILIES) legitimately amortize shared subtrees
    # across reps and sibling queries, so the median total measures the
    # warm engine; the first-rep total bounds what an uncached
    # single-pass run pays. Publishing both keeps round-over-round
    # comparisons honest about which number benefits from cache warmth.
    total_first = round(sum(first_rep.get(n, 0.0) for n in names), 3)
    total_plain = round(sum(t for t in plain.values() if t >= 0), 3)
    # Cache-honest total (r16, judge item 5): session caches legitimately
    # amortize shared subtrees across reps, so a CACHE_FAMILIES member's
    # trimmed median is a warm-engine number (reps 2+ ride rep 1's
    # materialization). This column swaps every family member's
    # contribution for its FIRST timed rep — the uncached single-pass
    # bound — while non-family rows keep their medians: a total that
    # does not benefit from cross-rep cache warmth.
    fam_members = {
        m
        for members in CACHE_FAMILIES.values()
        for m in members
        if m in queries
    }
    total_cache_honest = cache_honest_total(
        names, timings, first_rep, fam_members
    )
    # failures must be visible IN the JSON: a fully-failed query would
    # otherwise just shrink the headline total (reads as a speedup), and
    # a partially-failed one would look like a clean run (review-found)
    incomplete = sorted(
        n for n in names if len(samples[n]) < reps or n in failed
    )

    # Noise calibration: per-query rep-spread ratio (rep_spread: trimmed
    # at n>=5 so it reflects the stability of the published median).
    # This VM shows 2-10x CPU-steal bursts (r03 vs r04 ran identical
    # code ±20%); publishing the observed spread lets a reader separate
    # real regressions from machine noise when comparing rounds.
    measurable = [xs for xs in samples.values() if len(xs) >= 2 and min(xs) > 0]
    spreads = sorted(rep_spread(xs) for xs in measurable)
    spreads_raw = sorted(rep_spread_raw(xs) for xs in measurable)
    noise = (
        {
            "median_rep_spread": round(median(spreads), 3),
            "p90_rep_spread": round(spreads[int(0.9 * (len(spreads) - 1))], 3),
            "spread_def": "max/min over the stat's samples: all reps at n<5, lowest 3 at n>=5",
            # raw = max/min over ALL reps: the machine's burst
            # magnitude, not the trimmed estimator's stability
            "median_rep_spread_raw": round(median(spreads_raw), 3),
            "p90_rep_spread_raw": round(
                spreads_raw[int(0.9 * (len(spreads_raw) - 1))], 3
            ),
        }
        if spreads
        else {}
    )

    # Session-cache family tags (registry.CACHE_FAMILIES): within a
    # family, the first member to execute at sf_dir ("cold", first in
    # the sorted round-robin order) pays the shared materialization and
    # the rest ride the checkpoint blocks — so a rider's low median is
    # real engine time only while some family member keeps the blocks
    # warm, and the cold member's first_rep carries the build cost.
    families = {
        fam: {
            "members": sorted(m for m in members if m in queries),
            "cold": min((m for m in members if m in queries), default=None),
        }
        for fam, members in CACHE_FAMILIES.items()
    }

    # per-query ratio vs the r01 baseline (>1 slower, <1 faster); new
    # queries have no entry. r01 published plain 3-rep medians, so the
    # like-for-like ratio (`vs_r01`) divides THIS round's plain medians
    # by them; the trimmed-stat ratio is kept as `vs_r01_trimmed` for
    # continuity with the r10 headline but mixes estimators by design.
    vs_prev: dict[str, float] = {}
    vs_prev_trimmed: dict[str, float] = {}
    prev_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_r01.json"
    )
    try:
        with open(prev_path) as fh:
            prev = json.load(fh)["parsed"]["queries"]
        vs_prev = {
            n: round(plain[n] / prev[n], 2)
            for n in names
            if n in prev and prev[n] > 0 and plain[n] > 0
        }
        vs_prev_trimmed = {
            n: round(timings[n] / prev[n], 2)
            for n in names
            if n in prev and prev[n] > 0 and timings[n] > 0
        }
    except Exception:
        pass

    # Round-over-round ratios vs the previous round's committed full
    # doc (BENCH_FULL_r{N}.json), plain-median column on both sides.
    # When the previous doc carries a machine_index (r14+), the
    # machine-normalized twin divides out environment drift:
    #   normalized = (plain / prev_plain) / (mi_now / mi_prev)
    # so a sandbox that slowed 1.4× (the r13 scare) reads ~1.0.
    prev_name, prev_full = load_prev_full(
        os.path.dirname(os.path.abspath(__file__))
    )
    vs_prev_round: dict[str, float] = {}
    vs_prev_round_norm: dict[str, float] = {}
    vs_prev_round_trace_norm: dict[str, float] = {}
    vs_prev_round_median_drift_norm: dict[str, float] = {}
    prev_block: dict = {}
    if prev_full and prev_full.get("sf") != sf:
        # a dev run at another scale must not publish a cross-sf ratio
        prev_name, prev_full = None, None
    if prev_full:
        prev_plain = prev_full.get(
            "queries_plain_median", prev_full.get("queries", {})
        )
        vs_prev_round = {
            n: round(plain[n] / prev_plain[n], 3)
            for n in names
            if prev_plain.get(n, 0) > 0 and plain[n] > 0
        }
        prev_block = {"vs_prev_file": prev_name}
        prev_mi = prev_full.get("machine", {}).get("machine_index")
        if prev_mi and machine["machine_index"] > 0:
            drift = machine["machine_index"] / prev_mi
            prev_block["machine_drift"] = round(drift, 3)
            vs_prev_round_norm = {
                n: round(r / drift, 3) for n, r in vs_prev_round.items()
            }
            # within-run drift handled by the nearest-probe column,
            # cross-round drift by the index ratio
            vs_prev_round_trace_norm = {
                n: round(plain_trace_norm[n] / prev_plain[n] / drift, 3)
                for n in names
                if prev_plain.get(n, 0) > 0 and plain_trace_norm.get(n, 0) > 0
            }
        # Median-of-trace drift (r15 close-run lesson, promoted to a
        # column): one robust drift number from the per-pass probe
        # medians of BOTH rounds (fallback: the other side's
        # machine_index when it predates the trace). The r15 read-out
        # had to bracket the truth by hand between the min-index (1.129,
        # over-pessimistic) and per-pass (0.711, over-optimistic)
        # columns; median(trace)/median(prev_trace) ≈ the 0.77 the
        # hand analysis landed on.
        now_tm = trace_median_index(machine_trace)
        prev_machine = prev_full.get("machine", {})
        # Fallback comparability (review-found): the pre-trace rounds
        # only published machine_index, a MIN-of-warm-reps — dividing a
        # median-of-passes by a min systematically inflates the drift
        # (r15 close: trace median 2.66 vs min 1.54 on the same run)
        # and biases the normalized column low. Use the MEDIAN of the
        # prev round's probe warm reps (start+end) — the same order
        # statistic — and only then fall back to machine_index.
        prev_reps = prev_machine.get("machine_index_start_reps", []) + (
            prev_machine.get("machine_index_end_reps", [])
        )
        prev_tm = (
            trace_median_index(prev_machine.get("machine_trace", []))
            or (median(prev_reps) if len(prev_reps) >= 3 else None)
            or prev_machine.get("machine_index")
        )
        if now_tm and prev_tm and prev_tm > 0:
            drift_tm = now_tm / prev_tm
            prev_block["machine_drift_trace_median"] = round(drift_tm, 3)
            vs_prev_round_median_drift_norm = {
                n: round(r / drift_tm, 3) for n, r in vs_prev_round.items()
            }

    doc = {
        "metric": "total_query_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_plain_median": plain,
        "value_plain_median": total_plain,
        "first_rep": first_rep,
        "value_first_rep": total_first,
        "value_cache_honest": total_cache_honest,
        "cold_index_builds": cold_index,
        "rep_trace": rep_trace,
        "cache_families": families,
        "incomplete": incomplete,
        "sf": sf,
        "reps": reps,
        "extra_passes": extra_passes,
        "stat": "lower_trimmed_median_round_robin (median at n<5, median of lowest 3 at n>=5)",
        "stat_history": "r1-r9 plain median; r10 trimmed only; r11+ both (vs_r01 on plain, like-for-like with r01)",
        "noise": noise,
        "vs_r01": vs_prev,
        # fresh, estimator-explicit key (ADVICE r11): vs_r01 changed
        # meaning r10→r11 (trimmed→plain); consumers diffing across
        # rounds should prefer the suffixed keys, which never move.
        "vs_r01_plain": vs_prev,
        "vs_r01_trimmed": vs_prev_trimmed,
        "machine": machine,
        "heap_trace": heap_trace,
        "vs_prev_round": vs_prev_round,
        "vs_prev_round_machine_normalized": vs_prev_round_norm,
        "queries_trace_normalized": queries_trace_norm,
        "vs_prev_round_trace_normalized": vs_prev_round_trace_norm,
        "vs_prev_round_median_drift_normalized": vs_prev_round_median_drift_norm,
        **prev_block,
    }
    print(json.dumps(doc))

    # The driver records only the last ~2000 chars of stdout; the full
    # per-query line above is ~5 KB, so rounds r05-r07 archived a
    # truncated fragment ("parsed": null). Persist the full document to
    # a committed file, and make the LAST stdout line a compact
    # self-contained summary that always fits inside the tail capture.
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL_LATEST.json"
    )
    try:
        with open(full_path, "w") as fh:
            json.dump(doc, fh, indent=1)
            fh.write("\n")
    except OSError as exc:  # read-only checkout: summary line still works
        print(f"BENCH NOTE: could not write {full_path}: {exc}", file=sys.stderr)

    ratios = sorted(vs_prev.values())
    ratios_trimmed = sorted(vs_prev_trimmed.values())
    prev_ratios = sorted(vs_prev_round.values())
    prev_ratios_norm = sorted(vs_prev_round_norm.values())

    def _med_p90(rs: list[float]) -> dict:
        if not rs:
            return {}
        return {
            "median": round(median(rs), 3),
            "p90": round(rs[int(0.9 * (len(rs) - 1))], 3),
        }
    slowest = sorted(
        ((t, n) for n, t in timings.items() if t > 0), reverse=True
    )[:5]
    # Per-query map for the driver's cross-round comparison (r16, judge
    # item 2): PERF_r15 came back with per_query={} / n_common=0 because
    # the full per-query line above never survives the driver's
    # ~2000-char stdout tail — only this LAST line does. Carry the
    # driver-gate set (the first GATE_WIDTH registry entries, the same
    # 50 the correctness gate records this round) at 2-decimal seconds;
    # the other 150 queries stay in BENCH_FULL_LATEST.json. The
    # length-guard below drops lower-priority summary keys (each still
    # present in, or derivable from, the full document) before it would
    # ever truncate this map.
    gate_names = list(queries)[:GATE_WIDTH]
    queries_gate = {
        n: round(timings[n], 2) for n in gate_names if timings.get(n, -1) >= 0
    }
    summary = {
                "metric": "total_query_seconds",
                "value": total,
                "value_plain_median": total_plain,
                "value_first_rep": total_first,
                "value_cache_honest": total_cache_honest,
                "unit": "sec",
                "sf": sf,
                "reps": reps,
                "extra_passes": extra_passes,
                "queries_n": len(names),
                "queries": queries_gate,
                "queries_scope": f"first {GATE_WIDTH} registry entries (driver gate set); all {len(names)} in the full doc",
                "median_sec": round(median([t for t in timings.values() if t >= 0]), 3),
                # vs_r01 is plain-median / r01-plain-median (one
                # statistic across rounds); *_trimmed is the r10-style
                # low-biased twin, kept for continuity
                "median_vs_r01": (
                    round(median(ratios), 3) if ratios else None
                ),
                "p90_vs_r01": (
                    round(ratios[int(0.9 * (len(ratios) - 1))], 3)
                    if ratios
                    else None
                ),
                "median_vs_r01_trimmed": (
                    round(median(ratios_trimmed), 3) if ratios_trimmed else None
                ),
                "p90_vs_r01_trimmed": (
                    round(
                        ratios_trimmed[int(0.9 * (len(ratios_trimmed) - 1))], 3
                    )
                    if ratios_trimmed
                    else None
                ),
                "top5_slowest": {n: t for t, n in slowest},
                # p90 of first-rep/median per query: how much slower a
                # query's first (cold-ish) execution runs vs its
                # round-robin median — the order-warmth signal; the
                # full per-query columns are in BENCH_FULL_LATEST.json
                "first_vs_median_p90": (
                    lambda rs: round(rs[int(0.9 * (len(rs) - 1))], 3)
                    if rs
                    else None
                )(
                    sorted(
                        first_rep[n] / timings[n]
                        for n in first_rep
                        if timings[n] > 0
                    )
                ),
                "incomplete": incomplete,
                "noise": noise,
                # calibration (r14+): frozen-probe seconds at bench
                # start/end + steal share over the run; vs_prev_round
                # is plain-median vs the last committed BENCH_FULL_r*,
                # with the machine-normalized twin when both rounds
                # carry a machine_index
                "machine_index": machine["machine_index"],
                "machine_index_end": machine["machine_index_end"],
                "steal_pct": machine["proc"].get("steal_pct"),
                "vs_prev_round": {
                    **({"file": prev_name} if prev_name else {}),
                    **_med_p90(prev_ratios),
                },
                "vs_prev_round_machine_normalized": _med_p90(
                    prev_ratios_norm
                ),
                "vs_prev_round_median_drift_normalized": {
                    **(
                        {
                            "drift": prev_block["machine_drift_trace_median"]
                        }
                        if "machine_drift_trace_median" in prev_block
                        else {}
                    ),
                    **_med_p90(
                        sorted(vs_prev_round_median_drift_norm.values())
                    ),
                },
                "full": "BENCH_FULL_LATEST.json",
    }
    print(shed_to_fit(summary))


if __name__ == "__main__":
    main()
