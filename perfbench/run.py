#!/usr/bin/env python3
"""Benchmark the engine from outside, through its public calls only.

    python3 perfbench/run.py --workload text_pipeline --seed 1 --seconds 18 --trace 0

One client runs a closed loop on ``local[nproc]``: ``session.get_spark``,
then untimed warm-up passes over the workload's ops (the results of the
first are the ones checked), then a fixed number of timed passes that
fills about ``--seconds``. The seed fixes the op order, the same
permutation in every pass, and generates the ``mr_jobs`` inputs.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` also writes a
Spark event log, tags every op with ``setJobGroup``, records spans around
each call and reports the per-layer metrics. The last line of standard
output is one JSON object; the lines before it print every metric by
name with its unit, and the machine context. The exit code is non-zero
when any op raised or returned a wrong result.

Everything a run writes stays under ``.perfbench/`` in the checkout; the
run's own directory (index stores, event log, Spark local dir, temp
files) is deleted at exit.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
import urllib.parse

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
EXAMPLES = os.path.join(ROOT, "examples")
PACKAGE = "simple_map_reduce_ruuner_spark"

MIN_PASSES = 2
# No pass beyond the first two starts once this much of the run has gone
# by, so a run stays near a minute and a half even on a slow machine.
LATEST_PASS_START_S = 75.0

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "input_mb_per_s": "MB/s",
    "peak_rss_mb": "MB",
}
# Printed but left out of the JSON line: the Spark driver JVM's heap grows
# with GC timing, so the peak spreads by about a third from run to run.
UNBOUNDED = {"peak_rss_mb"}
LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "plan.plan_s": "s",
    "plan.exchanges": "count",
    "plan.python_nodes": "count",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.overhead_s": "s",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.spill_bytes": "bytes",
    "python.run_s": "s",
    "python.start_s": "s",
    "python.bytes_out": "bytes",
    "python.bytes_in": "bytes",
    "sources.cache_fills": "count",
    "sources.cache_block_mb": "MB",
    "sources.index_builds": "count",
    "sources.index_bytes": "bytes",
    "mapreduce.chunks": "count",
    "mapreduce.map_s": "s",
    "mapreduce.reduce_s": "s",
    "mapreduce.combine_ratio": "ratio",
    "engine.cpp_compile_s": "s",
    "trace.overhead_frac": "ratio",
}


def parse_args(argv=None) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def program_present() -> bool:
    sys.path.insert(0, ROOT)
    return importlib.util.find_spec(PACKAGE) is not None and os.path.isdir(EXAMPLES)


def isolate(run_dir: str) -> dict[str, str]:
    """Point every scratch location of the engine, Spark, the JVM and the
    compiler into ``run_dir``; return the Spark conf that does the same."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "ivf", "bpe", "events", "out")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update(
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SMRR_IVF_INDEX_DIR=dirs["ivf"],
        SMRR_BPE_INDEX_DIR=dirs["bpe"],
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    return {
        "spark.local.dir": dirs["local"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def stop_spark(spark) -> None:
    """Stop the session, end the driver JVM and wait for every process
    this run started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    import machine

    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        left = [p for p in machine.descendants(os.getpid()) if p != os.getpid()]
        if not left:
            return
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def tail_latency(samples: list[float]) -> tuple[float, float, int]:
    """Nearest-rank latency at the highest percentile with at least 10
    samples above it, that percentile and the number of samples above.
    The percentile never drops below 50: with fewer than 20 samples the
    median is reported and the count above it is less than 10."""
    xs = sorted(samples)
    n = len(xs)
    pct = max(50.0, 100.0 * (n - 10) / n)
    k = max(0, math.ceil(pct / 100.0 * n) - 1)
    return xs[k], pct, n - 1 - k


class Bench:
    def __init__(self, args, run_dir: str, conf: dict[str, str]):
        from workloads import WORKLOADS

        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.run_dir = run_dir
        self.conf = conf
        self.trace = bool(args.trace)
        groups = list(self.wl.groups)
        random.Random(args.seed).shuffle(groups)
        self.order = [op for g in groups for op in g]
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spans: list[dict] = []
        # per timed pass: {"n", "traced", "ops": [record, ...]} plus, when
        # traced, the cache, block and index counters of the pass
        self.passes: list[dict] = []
        self.warm_results: dict = {}
        self.input_mb: dict[str, float] = {}
        # tables the ops read, from the warm-up plans' input files
        self.table_names: set[str] = set()

    # ---- inputs -------------------------------------------------------

    def make_inputs(self) -> None:
        import datagen
        from workloads import CORPUS_TOKENS, SUSPECT_LINES, TABLE_SF

        if self.wl.mapreduce:
            import oracle

            self.mr = datagen.make_mr_inputs(
                self.args.seed, os.path.join(self.run_dir, "inputs"), CORPUS_TOKENS, SUSPECT_LINES
            )
            self.expected = {
                "corpus": oracle.recount_words(self.mr["corpus"]),
                "sightings": oracle.recount_suspects(self.mr["sightings"]),
            }
        else:
            self.sf_dir = datagen.make_tables(os.path.join(WORK, "data"), TABLE_SF)

    # ---- spans ----------------------------------------------------------

    def span(self, name: str, t0: float, t1: float, op: str | None, parent: str | None) -> None:
        if self.trace:
            self.spans.append(
                {"name": name, "start": t0, "end": t1, "op": op, "parent": parent}
            )

    # ---- ops ----------------------------------------------------------------

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)

    def query_op(self, name: str, tag: str | None, collect: bool) -> dict:
        """Build one registry query and execute it. With ``tag`` the jobs of
        each phase are tagged and the plan is forced before the action."""
        q = self.queries[name]
        sc = self.spark.sparkContext
        rec = {"op": name, "tag": tag}
        w0 = time.time()
        t0 = time.perf_counter()
        if tag:
            sc.setJobGroup(tag, "build")
        df = q.fn(self.spark, self.sf_dir)
        t1 = time.perf_counter()
        if tag:
            sc.setJobGroup(tag, "plan")
            rec["plan"] = df._jdf.queryExecution().executedPlan().toString()
            sc.setJobGroup(tag, "run")
        t2 = time.perf_counter()
        if collect:
            rec["result"] = df.toPandas()
            files = [urllib.parse.urlparse(f).path for f in df.inputFiles()]
            rec["input_mb"] = sum(os.path.getsize(f) for f in files) / (1024 * 1024)
            self.table_names.update(
                os.path.basename(f).removesuffix(".parquet")
                for f in files
                if os.path.dirname(f) == os.path.realpath(self.sf_dir)
            )
        else:
            df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        if tag:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.span("op", t0, t3, tag, None)
            self.span("build", t0, t1, tag, "op")
            self.span("plan", t1, t2, tag, "op")
            self.span("action", t2, t3, tag, "op")
        rec.update(t=t3 - t0, build_s=t1 - t0, plan_s=t2 - t1, w0=w0, w1=time.time())
        return rec

    def mr_op(self, name: str, tag: str | None, n: int) -> dict:
        """One whole run_job; its output file is checked after the timing."""
        from workloads import CHUNK_MB, MR_OPS

        import oracle

        src, mapper, reducer, lang = MR_OPS[name]
        out = os.path.join(self.run_dir, "out", f"{name}-{n}.txt")
        sc = self.spark.sparkContext
        w0 = time.time()
        t0 = time.perf_counter()
        if tag:
            sc.setJobGroup(tag, "run")
        self.engine.run_job(
            self.spark,
            self.mr[src],
            os.path.join(EXAMPLES, mapper),
            os.path.join(EXAMPLES, reducer),
            lang="py",
            mapper_lang=lang,
            chunk_mb=CHUNK_MB,
            out_path=out,
        )
        t1 = time.perf_counter()
        if tag:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.span("run_job", t0, t1, tag, None)
        match = oracle.word_counts_match if src == "corpus" else oracle.suspects_match
        ok = match(out, self.expected[src])
        os.remove(out)
        if not ok:
            self.fail(f"{name}: wrong output")
        return {"op": name, "tag": tag, "t": t1 - t0, "ok": ok, "w0": w0, "w1": time.time(),
                "input_mb": self.mr[f"{src}_mb"]}

    def run_op(self, name: str, tag: str | None, n: int, collect: bool = False) -> dict | None:
        self.attempted += 1
        try:
            if self.wl.mapreduce:
                rec = self.mr_op(name, tag, n)
                return rec if rec["ok"] else None
            return self.query_op(name, tag, collect)
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            traceback.print_exc()
            self.fail(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
            return None

    # ---- passes -------------------------------------------------------------

    def clear_state(self) -> None:
        """Drop session caches, then load again the tables the ops read.
        The table memo is one of the session caches; left empty, whichever
        op ran first in the seed's order would pay every table load and
        per-op latencies would shift by seed. The run's index stores are
        kept, as they are between a user's runs over one corpus: the cold
        pass builds each index and every later pass reads it."""
        self.tables.clear_session_caches()
        for name in sorted(self.table_names):
            self.tables.load_table(self.spark, self.sf_dir, name)

    def index_state(self) -> dict[str, int]:
        """Index directories (with a manifest) in the run's stores -> bytes."""
        out = {}
        for var in ("SMRR_IVF_INDEX_DIR", "SMRR_BPE_INDEX_DIR"):
            base = os.environ[var]
            for key in os.listdir(base):
                path = os.path.join(base, key)
                if os.path.exists(os.path.join(path, "_MANIFEST.json")):
                    out[path] = sum(
                        os.path.getsize(os.path.join(d, f))
                        for d, _, fs in os.walk(path)
                        for f in fs
                    )
        return out

    def cache_entries(self) -> int:
        return sum(len(c) for c in getattr(self.tables, "_REGISTERED_CACHES", ()))

    def block_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / (1024 * 1024)

    def one_pass(self, n: int, traced: bool) -> dict:
        if self.wl.clear_per_pass:
            self.clear_state()
        rec = {"n": n, "traced": traced, "ops": []}
        if traced:
            rec["block_mb"] = 0.0
            rec["cache_fills"] = 0
            if self.wl.mapreduce:
                t0 = time.perf_counter()
                self.mapreduce.compile_cpp_program(
                    os.path.join(EXAMPLES, "wordcount_mapper.cpp"),
                    out_dir=os.path.join(self.run_dir, "tmp"),
                )
                rec["cpp_compile_s"] = time.perf_counter() - t0
                self.span("compile_cpp_program", t0, time.perf_counter(), None, None)
        for name in self.order:
            tag = f"{self.wl.name}:{name}#{n}" if traced else None
            fills0 = self.cache_entries() if traced else 0
            op = self.run_op(name, tag, n)
            if op is None:
                continue
            if traced:
                rec["cache_fills"] += self.cache_entries() - fills0
                rec["block_mb"] = max(rec["block_mb"], self.block_mb())
            rec["ops"].append(op)
        return rec

    def pass_count(self) -> int:
        """A fixed number of timed passes: as many as fill ``--seconds`` at
        the workload's nominal pass time, at least two. A fixed count keeps
        the work per run the same on every run, also when the program gets
        faster. A traced run makes five: untraced, then untraced, traced,
        traced, untraced, compared among themselves so that the warming
        trend cancels out of the tracing overhead."""
        if self.trace:
            return 5
        return max(MIN_PASSES, round(self.args.seconds / self.wl.nominal_pass_s))

    def warm_up(self) -> None:
        """``warm_passes`` untimed passes at the timed scale. Query results
        of the first are kept and checked against the oracle after the
        timed passes; the others run exactly as the timed passes do."""
        if self.wl.clear_per_pass:
            self.clear_state()
        for name in self.order:
            op = self.run_op(name, None, -1, collect=not self.wl.mapreduce)
            if op is not None and not self.wl.mapreduce:
                self.warm_results[name] = op["result"]
                self.input_mb[name] = op["input_mb"]
        for k in range(1, self.wl.warm_passes):
            self.one_pass(-1 - k, traced=False)

    def check_queries(self) -> None:
        import oracle

        con = oracle.duck_connect(self.sf_dir)
        for name, got in self.warm_results.items():
            sql = self.queries[name].oracle
            try:
                if sql is None or not oracle.query_matches(con, sql, got):
                    self.fail(f"{name}: result differs from the oracle")
            except Exception as exc:  # noqa: BLE001
                self.fail(f"{name}: oracle check raised {type(exc).__name__}: {exc}")
        con.close()

    # ---- the run ------------------------------------------------------------

    def run(self) -> int:
        import machine

        self.make_inputs()
        snap0 = machine.snapshot()
        t_start = time.perf_counter()
        from simple_map_reduce_ruuner_spark import engine, mapreduce, registry, session
        from simple_map_reduce_ruuner_spark.sources import tables

        self.engine, self.mapreduce, self.tables = engine, mapreduce, tables
        conf = dict(self.conf)
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": os.path.join(self.run_dir, "events"),
            })
        t0 = time.perf_counter()
        self.spark = session.get_spark(cpus=len(os.sched_getaffinity(0)), extra_conf=conf)
        self.span("get_spark", t0, time.perf_counter(), None, None)
        self.start_s = time.perf_counter() - t0
        try:
            self.queries = registry.all_queries()
            t1 = time.perf_counter()
            self.warm_up()
            self.warmup_s = time.perf_counter() - t1
            self.setup_s = time.perf_counter() - t_start

            sampler = machine.RssSampler()
            sampler.start()
            for n in range(self.pass_count()):
                late = time.perf_counter() - t_start > LATEST_PASS_START_S
                if late and n >= MIN_PASSES and not self.trace:
                    break
                self.passes.append(self.one_pass(n, traced=self.trace and n in (2, 3)))
            self.peak_rss_mb = sampler.stop()
            if not self.wl.mapreduce:
                self.check_queries()
        finally:
            stop_spark(self.spark)
        context = machine.context(snap0, machine.snapshot())

        metrics = self.end_to_end()
        if self.trace:
            metrics.update(self.per_layer())
            self.flush_spans()
        for name, (value, unit) in metrics.items():
            print(f"{name:28s} {value:14.6f} {unit}")
        frac = self.failed / max(self.attempted, 1)
        print(f"{'failed_frac':28s} {frac:14.6f} ratio")
        print("tail:", json.dumps(self.tail_info))
        per_op: dict[str, list[float]] = {}
        for p in self.passes:
            for o in p["ops"]:
                per_op.setdefault(o["op"], []).append(o["t"])
        print("op_s:", json.dumps({k: [round(t, 4) for t in v] for k, v in per_op.items()}))
        print("context:", json.dumps(context))
        for f in self.failures:
            print("FAILED:", f)
        keys = LAYER_UNITS if self.trace else E2E_UNITS
        print(json.dumps({
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                k: {"value": v, "unit": u}
                for k, (v, u) in metrics.items()
                if k in keys and k not in UNBOUNDED
            },
        }))
        return 0 if self.failed == 0 else 1

    # ---- metrics --------------------------------------------------------------

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        plain = [p for p in self.passes if not p["traced"]]
        ops = [o for p in plain for o in p["ops"]]
        lat = [o["t"] for o in ops] or [float("nan")]
        tail, pct, beyond = tail_latency(lat)
        self.tail_info = {"percentile": round(pct, 2), "samples": len(lat),
                          "beyond": beyond, "passes": len(plain),
                          "pass_s": [round(sum(o["t"] for o in p["ops"]), 3) for p in plain]}
        if self.wl.mapreduce:
            mb = sum(o["input_mb"] for o in ops)
        else:
            mb = sum(self.input_mb.get(o["op"], 0.0) for o in ops)
        values = {
            "setup_s": self.setup_s,
            "pass_s": statistics.median(sum(o["t"] for o in p["ops"]) for p in plain),
            "op_p50_s": statistics.median(lat),
            "op_tail_s": tail,
            "input_mb_per_s": mb / sum(lat),
            "peak_rss_mb": self.peak_rss_mb,
        }
        return {k: (v, E2E_UNITS[k]) for k, v in values.items()}

    def per_layer(self) -> dict[str, tuple[float, str]]:
        import eventlog

        log = eventlog.fold_dir(os.path.join(self.run_dir, "events"))
        rows = [self.layer_row(log, p) for p in self.passes if p["traced"]]
        values = {k: statistics.median(r[k] for r in rows) for k in rows[0]}

        def pass_median(traced: bool) -> float:
            return statistics.median(
                sum(o["t"] for o in p["ops"])
                for p in self.passes
                if p["n"] > 0 and p["traced"] == traced
            )

        indexes = self.index_state()
        values.update({
            "sources.index_builds": len(indexes),
            "sources.index_bytes": sum(indexes.values()),
            "session.start_s": self.start_s,
            "session.warmup_s": self.warmup_s,
            "trace.overhead_frac": pass_median(True) / pass_median(False) - 1.0,
        })
        return {k: (values[k], u) for k, u in LAYER_UNITS.items()}

    def layer_row(self, log, p: dict) -> dict[str, float]:
        import eventlog

        r = dict.fromkeys(LAYER_UNITS, 0.0)
        for k in ("session.start_s", "session.warmup_s", "trace.overhead_frac",
                  "sources.index_builds", "sources.index_bytes"):
            del r[k]
        map_bytes = reduce_bytes = 0
        for o in p["ops"]:
            jobs = log.jobs_in(o["tag"])
            t = log.totals(jobs)
            r["scheduler.jobs"] += t.jobs
            r["scheduler.stages"] += t.stages
            r["scheduler.tasks"] += t.tasks
            lo, hi = int(o["w0"] * 1000), int(o["w1"] * 1000)
            r["scheduler.overhead_s"] += (hi - lo - eventlog.union_ms(t.intervals, lo, hi)) / 1000
            r["executor.run_s"] += t.run_ms / 1000
            r["executor.cpu_s"] += t.cpu_ns / 1e9
            r["executor.gc_s"] += t.gc_ms / 1000
            r["shuffle.write_bytes"] += t.shuffle_write
            r["shuffle.read_bytes"] += t.shuffle_read
            r["shuffle.spill_bytes"] += t.spill
            r["python.run_s"] += t.sql.get(eventlog.PY_RUN, 0) / 1000
            r["python.start_s"] += t.sql.get(eventlog.PY_START, 0) / 1000
            r["python.bytes_out"] += t.sql.get(eventlog.PY_BYTES_OUT, 0)
            r["python.bytes_in"] += t.sql.get(eventlog.PY_BYTES_IN, 0)
            if self.wl.mapreduce and jobs:
                # run_job materializes the map phase as its first job; the
                # single reduce and the file write follow
                mp, rest = log.totals(jobs[:1]), log.totals(jobs[1:])
                r["mapreduce.chunks"] += mp.tasks
                r["mapreduce.map_s"] += (jobs[0].end_ms - jobs[0].submit_ms) / 1000
                r["mapreduce.reduce_s"] += sum(j.end_ms - j.submit_ms for j in jobs[1:]) / 1000
                map_bytes += mp.bytes_read
                reduce_bytes += rest.bytes_read
            if not self.wl.mapreduce:
                r["operators.build_s"] += o["build_s"]
                r["operators.build_jobs"] += len(log.jobs_in(o["tag"], "build"))
                r["plan.plan_s"] += o["plan_s"]
                ex, py = plan_counts(o["plan"])
                r["plan.exchanges"] += ex
                r["plan.python_nodes"] += py
        r["mapreduce.combine_ratio"] = reduce_bytes / map_bytes if map_bytes else 0.0
        r["sources.cache_fills"] = p["cache_fills"]
        r["sources.cache_block_mb"] = p["block_mb"]
        r["engine.cpp_compile_s"] = p.get("cpp_compile_s", 0.0)
        return r

    def flush_spans(self) -> None:
        out = os.path.join(WORK, "traces")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{self.wl.name}-seed{self.args.seed}-{os.getpid()}.json")
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
        print("spans:", os.path.relpath(path, ROOT))


def plan_counts(plan: str) -> tuple[int, int]:
    """(exchanges, Python nodes) in a physical plan's tree string.
    Broadcast and shuffle exchanges both count; reused ones do not."""
    exchanges = python = 0
    for line in plan.splitlines():
        node = line.lstrip(" :+-").split(" ", 1)[0]
        if node.startswith("*("):  # whole-stage codegen marker
            node = line.lstrip(" :+-").split(" ", 2)[1]
        if node in ("Exchange", "BroadcastExchange"):
            exchanges += 1
        elif "Python" in node or "InPandas" in node or "InArrow" in node:
            python += 1
    return exchanges, python


def main(argv=None) -> int:
    args = parse_args(argv)
    if not program_present():
        print(f"{PACKAGE} and examples/ must sit beside perfbench/", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, "runs", f"{os.getpid()}-{time.time_ns()}")
    conf = isolate(run_dir)
    try:
        return Bench(args, run_dir, conf).run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
