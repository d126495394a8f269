"""Seeded end-to-end and per-layer benchmark of the query contract.

    python3 perfbench/run.py --workload series_many --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --workload all      # every workload, one table

Run from the repository root. One run of one workload

1. writes the workload's parquet inputs from ``--seed`` (inputs.py) and,
   in a side thread, computes each query's DuckDB ``oracle_sql()`` twin on
   them while the JVM starts;
2. runs every query once through ``__spark_entry__.queries()``, untimed
   and cold, and compares its rows with its oracle or with the rows-only
   contract; the same DataFrame's :func:`digest_of` is kept as the
   verified digest, and gls_power and gls_arrow must agree on theirs;
3. after ``WARMUP_PASSES`` untimed passes, measures closed-loop passes
   for ``--seconds`` (``MIN_PASSES`` at least): one client issues the
   workload's queries in a fixed order, each timed as build + an action
   that hashes every output column (:func:`digest_of`). Every pass starts
   with an empty session persist memo, and every digest must equal the
   verified one. A run that ``RUN_LIMIT_S`` cuts before ``MIN_PASSES``
   counts as failed;
4. times ``SETUP_REPS`` set-ups in the warm JVM — a fresh SparkSession
   from ``periodicity_spark.get_spark``, input generation and a warm-up
   scan — and reports their median as ``setup_s``. The JVM launch itself
   happens once per run and is reported as ``jvm_start_s`` in the report
   line only, so ``setup_s`` is the warm-JVM session restart, not the
   whole start-up cost;
5. prints a report line (environment, per-query records, every metric)
   and then the result line ``{"correct", "attempted", "failed",
   "metrics"}``: end-to-end metrics with ``--trace 0``, per-layer ones
   with ``--trace 1``.

With ``--trace 1`` the passes go untraced, traced, traced, untraced, ...
A traced pass runs each query's build and action under their own Spark
job groups and afterwards reads Spark's status stores (layers.py). The
median traced pass gives the per-layer numbers, with a per-query
breakdown in the report; traced minus untraced pass wall is the tracing
overhead.
"""

from __future__ import annotations

import argparse
import filecmp
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# an odd number of queries a pass puts the latency median inside one
# query's samples: with four, it fell between the slowest gls_power and the
# fastest gls_arrow/interp_smooth executions, and query_p50_s spread 19% of
# its median over ten seeds of series_many (against 13-15% for wall_s)
SERIES_QUERIES = ["gls_power", "gls_best_period", "pg_stats", "gls_arrow", "interp_smooth"]
CORPUS_QUERIES = ["dedup_minhash", "dedup_components", "winnow_fp"]
# shapes: series_many and series_long hold the same number of events in
# very different numbers of series; corpus has ~5% planted near-duplicates
WORKLOADS = {
    "series_many": {"queries": SERIES_QUERIES, "n_users": 60, "n_events": 3_900},
    "series_long": {"queries": SERIES_QUERIES, "n_users": 1, "n_events": 3_900},
    "corpus": {"queries": CORPUS_QUERIES, "n_docs": 500},
}
SETUP_REPS = 3
# the first pass after the cold verify pass runs 13-29% slow (medians over
# ten seeds of series_many and corpus; JIT and codegen warm-up), so it runs
# untimed; then at least MIN_PASSES count. Passes keep speeding up a little
# for a few more, but a second warm-up pass narrowed the spread across
# seeds only from 16.0% to 14.6% (IQR of corpus wall_s over ten seeds;
# contention on the box sets it) for ~5 s more per run
WARMUP_PASSES = 1
# four at least, so that the window (``--seconds``, 14 s in
# BENCHMARK.json) nearly always holds exactly four passes: with a 16 s
# window and three at least, runs on a slow box fit only three, all still
# warming up, and query_p50_s on series_many spread 22% over ten seeds
MIN_PASSES = 4
RUN_LIMIT_S = 160  # hard stop for one run, whatever --seconds says
PAIRED_DIGESTS = [("gls_power", "gls_arrow")]  # two strategies, one answer

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "rows/s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "error_rate": "ratio",
    "peak_rss_mb": "MB",
    "worker_rss_mb": "MB",
}
# end-to-end metrics printed in the report only: error_rate is 0 on a
# correct run, and peak_rss_mb follows G1's sizing of the driver JVM's heap,
# which moved it between 2.7 and 4.0 GB over ten seeds of series_many (IQR
# 28% of the median); worker_rss_mb, the Python workers' part, is steady
REPORT_ONLY_E2E = {"error_rate", "peak_rss_mb"}
LAYER_UNITS = {
    "entry.build_s": "s",
    "entry.build_jobs": "count",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.failed_tasks": "count",
    "scheduler.core_idle_s": "s",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "python.run_s": "s",
    "python.start_s": "s",
    "python.init_s": "s",
    "python.bytes_sent": "B",
    "python.bytes_returned": "B",
    "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B",
    "shuffle.fetch_wait_s": "s",
    "shuffle.spill_bytes": "B",
    "driver.broadcast_bytes": "B",
    "driver.broadcast_s": "s",
    "driver.result_bytes": "B",
    "session.memo_added": "count",
    "session.cached_bytes": "B",
    "trace.overhead_s": "s",
    "scheduler.count_drift": "count",
}
# layer metrics printed in the report only: they read 0 on some workload
# (local shuffle fetches do not wait, nothing spills or fails), are flags,
# or do not measure elapsed time
REPORT_ONLY = {
    "python.start_s",  # 0 once the workers are up
    "python.init_s",  # Spark's per-task sum; it exceeds the query's wall
    "scheduler.failed_tasks",
    "shuffle.fetch_wait_s",
    "shuffle.spill_bytes",
    "scheduler.count_drift",
}
# per-query counters that must repeat exactly between warm passes
DRIFT_COUNTERS = ["scheduler.jobs", "scheduler.stages", "scheduler.tasks", "entry.build_jobs"]


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# process memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(root_pid: int) -> tuple[int, int]:
    """Resident bytes of ``root_pid`` (the driver JVM) and of all its
    descendants (the Python workers it forks)."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    rss, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss[pid] = int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    root = rss.pop(root_pid, 0)
    return root, sum(rss.values())


class RssSampler:
    """Samples the JVM process tree's resident size in a daemon thread:
    peak of the whole tree, and peaks of the JVM and its workers apart."""

    def __init__(self, pid: int, period_s: float = 0.1):
        self.pid, self.period_s = pid, period_s
        self.peak = self.peak_jvm = self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def reset(self) -> None:
        self.peak = self.peak_jvm = self.peak_workers = 0

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            jvm, workers = tree_rss_bytes(self.pid)
            self.peak = max(self.peak, jvm + workers)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_workers = max(self.peak_workers, workers)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


# --------------------------------------------------------------------------
# inputs and sessions


def make_inputs(workload: str, seed: int, out_dir: str) -> int:
    """Writes the workload's tables; returns the input row count."""
    import inputs

    os.makedirs(out_dir)
    w = WORKLOADS[workload]
    if "n_events" in w:
        return inputs.write_events(out_dir, seed, w["n_users"], w["n_events"])
    return inputs.write_corpus(out_dir, seed, w["n_docs"])


def warm_scan(spark, in_dir: str) -> None:
    for name in sorted(os.listdir(in_dir)):
        spark.read.parquet(os.path.join(in_dir, name)).count()


def clear_memo() -> None:
    """Unpersist the session persist memo (``session._PERSIST_MEMO``) so
    every pass pays the same materialization and reuse within a pass is
    attributable to the query that built the shared subplan."""
    from periodicity_spark import session

    for df in session._PERSIST_MEMO.values():
        df.unpersist()
    session._PERSIST_MEMO.clear()


def memo_keys() -> set:
    from periodicity_spark import session

    return set(session._PERSIST_MEMO)


def digest_of(df) -> str:
    """Order-independent fingerprint of every output column: row count and
    the sum of per-row xxhash64 (decimal, so the sum cannot overflow).
    Unlike ``count()``, it forces Spark to compute every column."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[df[c] for c in df.columns]).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


def stop_jvm(spark) -> None:
    """Stops the session and the gateway JVM, and waits until it exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --------------------------------------------------------------------------
# correctness gate


def run_oracles(sqls: dict[str, str], in_dir: str, tmp_dir: str, threads: int) -> dict[str, tuple]:
    """Each oracle SQL on DuckDB over the parquet inputs:
    ``{name: (DataFrame or None, error or None, seconds)}``."""
    import duckdb

    con = duckdb.connect()
    out = {}
    try:
        con.sql(f"SET temp_directory='{tmp_dir}'")
        con.sql(f"SET threads={threads}")
        for name in sorted(os.listdir(in_dir)):
            table = name.split(".")[0]
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{in_dir}/{name}')")
        for name, sql in sqls.items():
            t0 = time.perf_counter()
            try:
                out[name] = (con.sql(sql).df(), None, time.perf_counter() - t0)
            except duckdb.Error as e:
                out[name] = (None, str(e)[:300], time.perf_counter() - t0)
    finally:
        con.close()
    return out


def verify(spark, qs, names, in_dir: str, oracle_future) -> dict[str, dict]:
    """Untimed: each query once, compared with its DuckDB oracle result (or
    the rows-only contract); returns per query ``{"digest", "problems", ...}``.
    ``oracle_future`` yields :func:`run_oracles`' result; it is awaited only
    after Spark has run every query."""
    from tools.selfcheck import compare

    out: dict[str, dict] = {}
    frames = {}
    clear_memo()
    for name in names:
        t0 = time.perf_counter()
        rec: dict = {"digest": None, "problems": []}
        try:
            # two executions, not one persisted one: persisting the result
            # over the query's own persisted periodogram once left a cold
            # gls_power with no rows (local[3], 1 run in ~45)
            df = qs[name](spark, in_dir)
            frames[name] = df.toPandas()
            rec["digest"] = digest_of(df)
            rec["rows"] = len(frames[name])
        except Exception as e:  # noqa: BLE001 — a failing query is a result
            rec["problems"] = [f"error: {str(e)[:300]}"]
        rec["spark_s"] = time.perf_counter() - t0
        out[name] = rec
    oracles = oracle_future.result()
    for name, pdf in frames.items():
        rec = out[name]
        rec["oracle"] = name in oracles
        if name in oracles:
            expected, error, rec["oracle_s"] = oracles[name]
            rec["problems"] = [f"oracle error: {error}"] if error else compare(name, pdf, expected)
        elif pdf.empty:
            rec["problems"] = ["rows-only query returned no rows"]
        else:
            rec["problems"] = [
                f"gate column {c} is False"
                for c in pdf.columns
                if c.endswith("_ok") and not pdf[c].all()
            ]
    for name, rec in out.items():
        log(f"verify {name}: {rec['problems'] or 'ok'} (spark {rec['spark_s']:.3f} s)")
    return out


# --------------------------------------------------------------------------
# timed passes


def run_pass(spark, qs, names, in_dir, expected, traced: bool, tag: str):
    """One closed-loop pass; returns (wall seconds, per-query records)."""
    from layers import cached_bytes

    sc = spark.sparkContext
    clear_memo()
    records = []
    t_pass = time.perf_counter()
    for name in names:
        rec = {"query": name}
        before = memo_keys() if traced else None
        t0 = time.perf_counter()
        try:
            if traced:
                sc.setJobGroup(f"{tag}{name}:build", f"{tag}{name}:build")
            df = qs[name](spark, in_dir)
            t1 = time.perf_counter()
            if traced:
                sc.setJobGroup(f"{tag}{name}:act", f"{tag}{name}:act")
            digest = digest_of(df)
            t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, act_s=t2 - t1, latency_s=t2 - t0)
            rec["ok"] = digest == expected.get(name)
            if not rec["ok"]:
                rec["error"] = f"digest {digest} != verified {expected.get(name)}"
        except Exception as e:  # noqa: BLE001 — a failing query is a result
            rec.update(latency_s=time.perf_counter() - t0, ok=False, error=str(e)[:300])
        if traced:
            sc._jsc.clearJobGroup()
            rec["session.memo_added"] = len(memo_keys() - before)
            rec["session.cached_bytes"] = cached_bytes(spark)
        records.append(rec)
    return time.perf_counter() - t_pass, records


def layer_counters(per_tag, records, tag: str, cores: int) -> dict[str, dict]:
    """Per-query layer counters of one traced pass, plus the pass total."""
    rows: dict[str, dict] = {}
    for rec in records:
        q = rec["query"]
        build = per_tag.get(f"{tag}{q}:build", {})
        act = per_tag.get(f"{tag}{q}:act", {})
        c = {k: build.get(k, 0.0) + act.get(k, 0.0) for k in set(build) | set(act)}
        c["entry.build_s"] = rec.get("build_s", 0.0)
        c["entry.build_jobs"] = build.get("scheduler.jobs", 0.0)
        c["scheduler.core_idle_s"] = max(
            0.0, rec.get("act_s", 0.0) * cores - act.get("executor.run_s", 0.0)
        )
        c["session.memo_added"] = rec["session.memo_added"]
        c["session.cached_bytes"] = rec["session.cached_bytes"]
        rows[q] = c
    total: dict[str, float] = {}
    for c in rows.values():
        for k, v in c.items():
            if k == "session.cached_bytes":
                total[k] = max(total.get(k, 0.0), v)  # resident, not additive
            else:
                total[k] = total.get(k, 0.0) + v
    return {"per_query": rows, "total": total}


def pct(values: list[float], q: int) -> float:
    """q-th percentile (linear interpolation between closest ranks)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


# --------------------------------------------------------------------------


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests (all CPUs), seconds."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def environment(cores: int, seed: int) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "cores_available": len(os.sched_getaffinity(0)),
        "master": f"local[{cores}]",
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "seed": seed,
        "load_avg_start": os.getloadavg(),
        "steal_s_start": steal_s(),
    }


def measure(spark, qs, names, in_dir, expected, args, cores, t_start):
    """The measurement window: closed-loop passes until ``args.seconds``
    have elapsed. Returns (untraced passes, traced passes, window seconds)."""
    reader = None
    if args.trace:
        from layers import StatusReader

        reader = StatusReader(spark)
    untraced, traced = [], []
    t_window = time.perf_counter()
    i = 0
    while True:
        # traced runs interleave untraced (U) and traced (T) passes as
        # U T T U ..., so warm-up drift cancels out of the overhead
        use_trace = bool(args.trace) and i % 4 in (1, 2)
        tag = f"p{i}:"
        if reader is not None:
            reader.mark()
        wall, records = run_pass(spark, qs, names, in_dir, expected, use_trace, tag)
        if use_trace:
            per_tag, untagged = reader.collect()
            traced.append(
                {"wall_s": wall, "records": records, "untagged_jobs": untagged,
                 **layer_counters(per_tag, records, tag, cores)}
            )
        else:
            untraced.append({"wall_s": wall, "records": records})
        log(f"pass {i} {'traced' if use_trace else 'untraced'}: {wall:.3f} s")
        i += 1
        elapsed = time.perf_counter() - t_window
        if args.trace:
            # stop on an even count, so traced and untraced passes balance
            done = elapsed >= args.seconds and i >= 4 and i % 2 == 0
        else:
            done = elapsed >= args.seconds and i >= MIN_PASSES
        if done or time.perf_counter() - t_start > RUN_LIMIT_S - 3 * wall:
            break
    return untraced, traced, time.perf_counter() - t_window


def measure_setup(spark, get_spark, workload: str, seed: int, in_dir: str, work: str):
    """``SETUP_REPS`` × (fresh SparkSession, input generation, warm-up
    scan) in the already warm JVM. Returns (session, seconds per rep,
    whether every rep wrote byte-identical inputs)."""
    reps, same = [], True
    for rep in range(SETUP_REPS):
        rep_dir = os.path.join(work, f"setup{rep}")
        t0 = time.perf_counter()
        spark.stop()
        spark = get_spark("perfbench")
        make_inputs(workload, seed, rep_dir)
        warm_scan(spark, rep_dir)
        reps.append(time.perf_counter() - t0)
        same &= not filecmp.dircmp(in_dir, rep_dir).diff_files
        shutil.rmtree(rep_dir)
    return spark, reps, same


def run_one(args) -> int:
    t_start = time.perf_counter()
    w = WORKLOADS[args.workload]
    names = w["queries"]
    cores = min(4, len(os.sched_getaffinity(0)))
    env = environment(cores, args.seed)

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    # the JVM keeps the program's own heap setting (get_spark), so heap
    # growth from broadcasts and cached relations shows in peak RSS
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    sys.path[:0] = [ROOT, HERE]

    spark = sampler = None
    try:
        t0 = time.perf_counter()
        import __spark_entry__ as entrymod
        from periodicity_spark import get_spark

        import_s = time.perf_counter() - t0
        # the queries read in_dir; the oracles run on it while the JVM starts
        in_dir = os.path.join(work, "in")
        input_rows = make_inputs(args.workload, args.seed, in_dir)
        oracle_sql = entrymod.oracle_sql()
        sqls = {q: oracle_sql[q] for q in names if q in oracle_sql}
        # DuckDB computes the oracles on one thread while the JVM starts and
        # Spark runs the cold verify pass
        pool = ThreadPoolExecutor(max_workers=1)
        oracle_future = pool.submit(run_oracles, sqls, in_dir, os.path.join(work, "tmp"), 1)
        pool.shutdown(wait=False)
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        jvm_start_s = time.perf_counter() - t0
        sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
        sampler.start()

        # ---- correctness gate, which is also the warm-up (untimed)
        qs = entrymod.queries()
        checked = verify(spark, qs, names, in_dir, oracle_future)
        expected = {q: r["digest"] for q, r in checked.items() if not r["problems"]}
        pair_problems = [
            f"{a} digest {checked[a]['digest']} != {b} digest {checked[b]['digest']}"
            for a, b in PAIRED_DIGESTS
            if a in checked and b in checked and checked[a]["digest"] != checked[b]["digest"]
        ]

        warmup = [run_pass(spark, qs, names, in_dir, expected, False, "")
                  for _ in range(WARMUP_PASSES)]

        # ---- measurement window
        sampler.reset()
        untraced, traced, window_s = measure(
            spark, qs, names, in_dir, expected, args, cores, t_start
        )
        peak_rss, peak_jvm, peak_workers = sampler.peak, sampler.peak_jvm, sampler.peak_workers
        sampler.stop()
        sampler = None
        system = spark.sparkContext._jvm.java.lang.System
        env["java"] = f"{system.getProperty('java.vm.name')} {system.getProperty('java.version')}"

        spark, setup, same_inputs = measure_setup(
            spark, get_spark, args.workload, args.seed, in_dir, work
        )
        log(f"setup reps {[round(s, 3) for s in setup]}")

        # a run cut short by RUN_LIMIT_S has too few passes to report
        short = (len(traced) < 2 or len(untraced) < 2) if args.trace else len(untraced) < MIN_PASSES
        if short:
            log(f"run stopped after {len(untraced)} untraced and {len(traced)} traced passes")
        timed = [r for _, records in warmup for r in records]
        timed += [r for p in untraced + traced for r in p["records"]]
        attempted = len(checked) + len(timed)
        failed = sum(bool(r["problems"]) for r in checked.values())
        failed += sum(not r["ok"] for r in timed) + len(pair_problems) + (not same_inputs)
        failed += short
        walls = [p["wall_s"] for p in untraced]
        lat = [r["latency_s"] for p in untraced for r in p["records"]]
        wall_s = statistics.median(walls)
        e2e = {
            "setup_s": statistics.median(setup),
            "wall_s": wall_s,
            "rows_per_s": input_rows / wall_s,
            "query_p50_s": pct(lat, 50),
            "query_p90_s": pct(lat, 90),
            "error_rate": failed / attempted,
            "peak_rss_mb": peak_rss / 2**20,
            "worker_rss_mb": peak_workers / 2**20,
        }
        env["load_avg_end"] = os.getloadavg()
        env["steal_s_during_run"] = steal_s() - env.pop("steal_s_start")
        report = {
            "workload": args.workload,
            "environment": env,
            "input": {"rows": input_rows, **{k: v for k, v in w.items() if k != "queries"}},
            "queries": names,
            "import_s": import_s,
            "jvm_start_s": jvm_start_s,
            "setup_reps_s": setup,
            "verify": checked,
            "inputs_reproducible": same_inputs,
            "stopped_short": short,
            "paired_digest_problems": pair_problems,
            "warmup_pass_s": [wall for wall, _ in warmup],
            "window_s": window_s,
            "untraced_passes": [
                {"wall_s": p["wall_s"], "records": p["records"]} for p in untraced
            ],
            "query_samples": len(lat),
            "jvm_rss_mb": peak_jvm / 2**20,
            "end_to_end": {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()},
        }
        metrics = {k: v for k, v in report["end_to_end"].items() if k not in REPORT_ONLY_E2E}
        if args.trace:
            metrics = {}
            if traced:
                report["layers"] = layer_report(traced, wall_s)
                metrics = {
                    k: {"value": v, "unit": LAYER_UNITS[k]}
                    for k, v in report["layers"]["metrics"].items()
                    if k not in REPORT_ONLY
                }
        print(json.dumps({"report": report}, default=str))
        print(
            json.dumps(
                {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
            )
        )
        return 0
    finally:
        if sampler is not None:
            sampler.stop()
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # the last run out removes .perfbench/
        except OSError:
            pass


def layer_report(traced: list[dict], untraced_wall_s: float) -> dict:
    """Median traced pass per layer metric, the tracing overhead, drift of
    the scheduler counts between traced passes, and the per-query
    breakdown of every traced pass."""
    keys = [k for k in LAYER_UNITS if k not in ("trace.overhead_s", "scheduler.count_drift")]
    metrics = {k: statistics.median(p["total"].get(k, 0.0) for p in traced) for k in keys}
    metrics["trace.overhead_s"] = statistics.median(p["wall_s"] for p in traced) - untraced_wall_s
    drift = []
    for q in traced[0]["per_query"]:
        for k in DRIFT_COUNTERS:
            seen = {p["per_query"][q].get(k, 0.0) for p in traced}
            if len(seen) > 1:
                drift.append(f"{q} {k} {sorted(seen)}")
    metrics["scheduler.count_drift"] = len(drift)
    return {
        "metrics": metrics,
        "count_drift": drift,
        "traced_passes": [
            {"wall_s": p["wall_s"], "untagged_jobs": p["untagged_jobs"],
             "per_query": p["per_query"], "records": p["records"]}
            for p in traced
        ],
    }


def run_all(args) -> int:
    """Every workload in its own process; prints one table and one line."""
    results = {}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, capture_output=True, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            sys.stderr.write(proc.stderr[-4000:])
            return proc.returncode or 1
        report = json.loads(lines[-2])["report"]
        results[name] = (json.loads(lines[-1]), report)
    units = LAYER_UNITS if args.trace else END_TO_END_UNITS
    rows = []
    for name, (_, report) in results.items():
        values = report.get("layers", {}).get("metrics", {}) if args.trace else {
            k: v["value"] for k, v in report["end_to_end"].items()
        }
        for metric, unit in units.items():
            rows.append(f"{name:<12} {metric:<24} {values.get(metric, float('nan')):>16.4f} {unit}")
    print("\n".join(rows))
    print(json.dumps({
        "correct": all(r["correct"] for r, _ in results.values()),
        "attempted": sum(r["attempted"] for r, _ in results.values()),
        "failed": sum(r["failed"] for r, _ in results.values()),
        "metrics": {f"{w}.{k}": v for w, (r, _) in results.items() for k, v in r["metrics"].items()},
    }))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    for need in ("__spark_entry__.py", "periodicity_spark", "tools/selfcheck.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    if args.workload == "all":
        return run_all(args)

    def on_alarm(signum, frame):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(RUN_LIMIT_S)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
