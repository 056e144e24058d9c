#!/usr/bin/env python3
"""The repo benchmark: the package's daily run and analytic paths, timed end
to end and, in a traced run, layer by layer.

    python3 perfbench/run.py --workload daily_reload --seed 1 --seconds 20 --trace 0

Run it from the repository root. It is a closed loop: one client process
drives one ``local[nproc]`` Spark session, and each operation starts after
the previous one ends. Inputs are generated from ``--seed``; the package
receives only those inputs, through its public functions. Every operation's
output is checked against an independent answer outside the timed region.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the bounded end-to-end metrics, or with
``--trace 1`` the per-layer metrics). The line before it is a detail
record: host shape, sample counts, input sizes, per-operation times, all
seven end-to-end metrics, check results and the root cause of any failure.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import json
import os
import platform
import random
import re
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import eventlog  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402

HISTORY_START = dt.date(2015, 1, 2)

# Input sizes, per workload (see README.md for how they were chosen).
RELOAD_TICKERS, RELOAD_DAYS = 300, 60
INCR_TICKERS, INCR_HISTORY_DAYS, INCR_DROPS = 300, 120, 60
LINEITEM_ROWS, LINEITEM_PARTS = 30_000, 1_000
CORPUS_DOCS = 1_500

# The end-to-end metrics a run reports on its last line, the ones a bound
# holds. The others stay in the detail record: failed_ratio is 0 when
# nothing fails, op_p90_s needs 100 operations, stored_bytes_per_input_byte
# is defined on the daily workloads only, and peak_rss_mb varied by a
# quarter between runs of the same code (the JVM grows its heap on demand).
BOUNDED_METRICS = ("setup_s", "op_p50_s", "rows_per_s")

# A run times at least this many operations, so that op_p50_s is a median
# of three even when a slow host fits only two reloads into --seconds.
MIN_OPS = 3

# The paper's analytic registry queries but ticker_pair_correlation: on
# about one seed in ten its F.corr raises [DIVIDE_BY_ZERO] (a package
# defect, pinned in perfbench/tests/test_known_defects.py), and a workload
# holds only operations that succeed on every seed. It goes back in when
# that is fixed.
STAR_QUERIES = (
    "weekly_volatility",
    "top_avg_volatility",
    "ticker_metrics",
    "rolling_close_avg",
    "ohlcv_weekly_bars",
    "ticker_max_drawdown",
    "ticker_beta",
    "market_overview",
    "ticker_report_stats",
)


class CheckFailed(Exception):
    """An operation returned, but its output disagrees with the oracle."""


# -- workloads ---------------------------------------------------------------


class DailyReload:
    """One operation: the full TRUNCATE-reload of the history CSV."""

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.csv = f"{work}/input/history.csv"
        self.days = gen.business_days(HISTORY_START, RELOAD_DAYS)

    def setup(self, spark) -> None:
        self.rows = gen.write_ohlcv_csv(self.csv, self.seed, RELOAD_TICKERS, self.days)
        self.input_bytes = os.path.getsize(self.csv)
        self.replay = None

    def input_desc(self) -> dict:
        return {"csv_rows": self.rows, "csv_bytes": self.input_bytes,
                "tickers": RELOAD_TICKERS, "days": RELOAD_DAYS}

    def passes(self, i: int):
        # the warm-up is three reloads: after one, the first timed reload ran
        # about 30% slower than the ones after it; after two, still 10-40%
        return [("run_pipeline", self.rows, self.op, self.verify)] * (3 if i < 0 else 1)

    def op(self, spark, tracer):
        from airflow_etl_finance_market_spark.plans.pipeline import run_pipeline

        wh = f"{self.work}/warehouse"
        shutil.rmtree(wh, ignore_errors=True)
        start = time.perf_counter()
        with _span(tracer, "plans.pipeline", "run_pipeline"):
            res = run_pipeline(
                spark, self.csv, wh, expected_count=self.rows,
                report_path=f"{self.work}/report.txt",
            )
        return time.perf_counter() - start, res

    def _replay(self) -> oracle.DailyReplay:
        if self.replay is None:
            self.replay = oracle.DailyReplay([self.csv])
            self.want = dict(self.replay.counts(), report_message=self.replay.message())
        return self.replay

    def verify(self, res) -> None:
        self._replay()
        _expect_result(res, self.want)
        _expect_report(f"{self.work}/report.txt", self.want["staged_rows"])

    def final_check(self) -> list[str]:
        problems = self._replay().compare_warehouse(f"{self.work}/warehouse")
        self.stored_bytes = _tree_bytes(f"{self.work}/warehouse")
        self.replay.close()
        return problems

    def extra_metrics(self) -> dict:
        return {"stored_bytes_per_input_byte": (self.stored_bytes / self.input_bytes, "B/B")}


class DailyIncremental:
    """Set-up loads the history; each operation loads the next trading day
    from its own daily drop CSV."""

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        days = gen.business_days(HISTORY_START, INCR_HISTORY_DAYS + INCR_DROPS)
        self.history_days, self.drop_days = days[:INCR_HISTORY_DAYS], days[INCR_HISTORY_DAYS:]
        self.history = f"{work}/input/history.csv"

    def setup(self, spark) -> None:
        from airflow_etl_finance_market_spark.plans.pipeline import run_pipeline

        full = f"{self.work}/input/all_days.csv"
        gen.write_ohlcv_csv(full, self.seed, INCR_TICKERS, self.history_days + self.drop_days)
        self.drops = gen.split_daily_drops(full, self.drop_days, f"{self.work}/input")
        os.remove(full)
        self.rows = gen.write_ohlcv_csv(
            self.history, self.seed, INCR_TICKERS, self.history_days
        )
        shutil.rmtree(f"{self.work}/warehouse", ignore_errors=True)
        run_pipeline(spark, self.history, f"{self.work}/warehouse", expected_count=self.rows)
        self.loaded = 0

    def input_desc(self) -> dict:
        return {"history_rows": self.rows, "history_days": INCR_HISTORY_DAYS,
                "tickers": INCR_TICKERS, "rows_per_drop": INCR_TICKERS}

    def passes(self, i: int):
        if self.loaded >= len(self.drops):
            return []
        return [("run_pipeline_incremental", INCR_TICKERS, self.op, self.verify)]

    def op(self, spark, tracer):
        from airflow_etl_finance_market_spark.plans.pipeline import run_pipeline

        day, path = self.drop_days[self.loaded], self.drops[self.loaded]
        self.loaded += 1
        start = time.perf_counter()
        with _span(tracer, "plans.pipeline", "run_pipeline"):
            res = run_pipeline(
                spark, path, f"{self.work}/warehouse", incremental_date=day,
                report_path=f"{self.work}/report.txt",
            )
        return time.perf_counter() - start, res

    def verify(self, res) -> None:
        if res.staged_rows != INCR_TICKERS or res.fact_rows != INCR_TICKERS:
            raise CheckFailed(
                f"staged {res.staged_rows} / fact {res.fact_rows} rows, "
                f"{INCR_TICKERS} expected"
            )

    def final_check(self) -> list[str]:
        replay = oracle.DailyReplay([self.history] + self.drops[: self.loaded])
        want = replay.counts()
        problems = replay.compare_warehouse(f"{self.work}/warehouse")
        try:
            _expect_report(f"{self.work}/report.txt", want["staged_rows"])
        except CheckFailed as e:
            problems.append(str(e))
        replay.close()
        loaded = sum(os.path.getsize(p) for p in self.drops[: self.loaded])
        self.stored_ratio = _tree_bytes(f"{self.work}/warehouse") / (
            os.path.getsize(self.history) + loaded
        )
        return problems

    def extra_metrics(self) -> dict:
        return {"stored_bytes_per_input_byte": (self.stored_ratio, "B/B")}


class StarQueries:
    """Each pass runs the paper's analytic registry queries once, in a
    seeded order; each query is one operation, materialised through the
    ``noop`` sink."""

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.sf_dir = f"{work}/input"
        self.rng = random.Random(seed)

    def setup(self, spark) -> None:
        self.rows = gen.write_lineitem(
            f"{self.sf_dir}/lineitem.parquet", self.seed, LINEITEM_ROWS, LINEITEM_PARTS
        )

    def input_desc(self) -> dict:
        return {"lineitem_rows": self.rows, "parts": LINEITEM_PARTS}

    def passes(self, i: int):
        if i < 0:  # the warm-up pass collects every query and checks it
            return [(n, self.rows, self._check_op(n), self.verify) for n in STAR_QUERIES]
        names = list(STAR_QUERIES)
        self.rng.shuffle(names)
        return [(n, self.rows, self._query_op(n), self.verify) for n in names]

    def _query_op(self, name: str):
        def op(spark, tracer):
            from airflow_etl_finance_market_spark import harness

            fn = harness.queries()[name]
            start = time.perf_counter()
            with _span(tracer, "harness", name):
                fn(spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - start, None

        return op

    def _check_op(self, name: str):
        def op(spark, tracer):
            from airflow_etl_finance_market_spark import harness

            start = time.perf_counter()
            got = harness.queries()[name](spark, self.sf_dir).toPandas()
            return time.perf_counter() - start, (name, got)

        return op

    def verify(self, res) -> None:
        if res is None:
            return
        import duckdb
        from airflow_etl_finance_market_spark import harness

        name, got = res
        with duckdb.connect() as con:
            con.execute(
                "CREATE VIEW lineitem AS SELECT * FROM "
                f"read_parquet('{self.sf_dir}/lineitem.parquet')"
            )
            diff = oracle.compare_frames(got, con.execute(harness.oracles()[name]).df())
        if diff:
            raise CheckFailed(f"{name} differs from its oracle: {diff}")

    def final_check(self) -> list[str]:
        return []

    def extra_metrics(self) -> dict:
        return {}


class CorpusDedup:
    """Each pass runs the three dedup operations over the corpus, each
    collected: MinHash-LSH near-dup pairs, duplicate-span statistics and
    exact dedup."""

    NUM_HASHES, BANDS, THRESHOLD, SPAN_TOKENS = 32, 8, 0.5, 10

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.path = f"{work}/input/documents.parquet"

    def setup(self, spark) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.docs, self.families = gen.corpus(self.seed, CORPUS_DOCS)
        pq.write_table(
            pa.table({
                "doc_id": pa.array([d for d, _ in self.docs], pa.int64()),
                "text": pa.array([t for _, t in self.docs], pa.string()),
            }),
            self.path,
        )
        self.want_spans = None

    def input_desc(self) -> dict:
        return {"documents": len(self.docs), "families": len(self.families),
                "tokens": sum(t.count(" ") + 1 for _, t in self.docs)}

    def passes(self, i: int):
        n = len(self.docs)
        return [
            ("minhash_dedup_pairs", n, self.minhash_op, self.verify),
            ("duplicate_span_stats", n, self.span_op, self.verify),
            ("dedup_exact", n, self.exact_op, self.verify),
        ]

    def minhash_op(self, spark, tracer):
        from airflow_etl_finance_market_spark.operators import dedup

        start = time.perf_counter()
        docs = spark.read.parquet(self.path)
        with _span(tracer, "operators.dedup", "minhash_dedup_pairs"):
            pairs = dedup.minhash_dedup_pairs(
                docs, num_hashes=self.NUM_HASHES, bands=self.BANDS,
                threshold=self.THRESHOLD,
            ).collect()
        return time.perf_counter() - start, ("pairs", pairs)

    def span_op(self, spark, tracer):
        from airflow_etl_finance_market_spark.operators import dedup

        start = time.perf_counter()
        docs = spark.read.parquet(self.path)
        with _span(tracer, "operators.dedup", "duplicate_span_stats"):
            rows = dedup.duplicate_span_stats(docs, span_tokens=self.SPAN_TOKENS).collect()
        return time.perf_counter() - start, ("spans", rows)

    def exact_op(self, spark, tracer):
        from airflow_etl_finance_market_spark.operators import dedup

        start = time.perf_counter()
        docs = spark.read.parquet(self.path)
        with _span(tracer, "operators.dedup", "dedup_exact"):
            kept = dedup.dedup_exact(docs).select("doc_id").collect()
        return time.perf_counter() - start, ("kept", kept)

    def verify(self, res) -> None:
        kind, rows = res
        if kind == "pairs":
            text = dict(self.docs)
            for r in rows:
                j = oracle.jaccard(text[r["id_a"]], text[r["id_b"]])
                if j < self.THRESHOLD or abs(j - r["jaccard_sim"]) > 1e-6:
                    raise CheckFailed(
                        f"pair ({r['id_a']}, {r['id_b']}): reported {r['jaccard_sim']}, "
                        f"recomputed {j:.6f}, threshold {self.THRESHOLD}"
                    )
            missed = oracle.unrecovered_families(
                [(r["id_a"], r["id_b"]) for r in rows], self.families
            )
            if missed:
                raise CheckFailed(
                    f"{missed} of {len(self.families)} planted families not recovered"
                )
            self.n_pairs = len(rows)
        elif kind == "spans":
            if self.want_spans is None:
                self.want_spans = oracle.span_stats(self.docs, self.SPAN_TOKENS)
            got = {r["doc_id"]: (r["n_spans"], r["n_dup_spans"]) for r in rows}
            if got != self.want_spans:
                bad = sum(1 for d in self.want_spans if got.get(d) != self.want_spans[d])
                raise CheckFailed(f"duplicate_span_stats: {bad} documents differ")
        else:
            want = oracle.exact_survivors(self.docs)
            if {r["doc_id"] for r in rows} != want:
                raise CheckFailed(
                    f"dedup_exact kept {len(rows)} documents, {len(want)} expected"
                )

    def final_check(self) -> list[str]:
        return []

    def extra_metrics(self) -> dict:
        return {}

    def candidate_pairs(self, spark) -> int:
        from airflow_etl_finance_market_spark.operators import dedup

        sigs = dedup.minhash_signatures(
            spark.read.parquet(self.path), num_hashes=self.NUM_HASHES
        )
        return dedup.lsh_candidate_pairs(sigs, bands=self.BANDS).count()


class StarAndDedup:
    """Each pass is a ``star_queries`` pass followed by a ``corpus_dedup``
    pass, in one session: the read-only paths through the ``harness`` and
    ``operators.dedup`` layers, in one workload so that a comparison of two
    commits has the time to run each workload long enough to be steady."""

    def __init__(self, seed: int, work: str):
        self.star, self.corpus = StarQueries(seed, work), CorpusDedup(seed, work)

    def setup(self, spark) -> None:
        self.star.setup(spark)
        self.corpus.setup(spark)

    def input_desc(self) -> dict:
        return {**self.star.input_desc(), **self.corpus.input_desc()}

    def passes(self, i: int):
        return self.star.passes(i) + self.corpus.passes(i)

    def final_check(self) -> list[str]:
        return []

    def extra_metrics(self) -> dict:
        return {}

    def candidate_pairs(self, spark) -> int:
        return self.corpus.candidate_pairs(spark)

    @property
    def n_pairs(self) -> int:
        return self.corpus.n_pairs


WORKLOADS = {
    "daily_reload": DailyReload,
    "daily_incremental": DailyIncremental,
    "star_queries": StarQueries,
    "corpus_dedup": CorpusDedup,
    "star_and_dedup": StarAndDedup,
}


# -- helpers -------------------------------------------------------------------


def _span(tracer, layer: str, call: str):
    return tracer.span(layer, call) if tracer is not None else contextlib.nullcontext()


def _expect_result(res, want: dict) -> None:
    got = {k: getattr(res, k) for k in want}
    if got != want:
        raise CheckFailed(f"pipeline returned {got}, replay expects {want}")


def _expect_report(path: str, rows: int) -> None:
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    if f"Total de registros analisados: {rows:,}" not in text:
        raise CheckFailed(f"report {path} does not state the {rows:,} rows loaded")


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _d, files in os.walk(path)
        for f in files
    )


def describe_failure(e: BaseException) -> dict:
    """Keep the failing stage, the JVM exception with its first frames, and
    the whole ``Caused by:`` chain, not a truncated stack tail."""
    text = str(e)
    lines = [ln.strip() for ln in text.splitlines() if ln.strip()]
    jvm = lines.index("JVM stacktrace:") + 1 if "JVM stacktrace:" in lines else None
    stage = re.search(r"Job aborted due to stage failure: [^\n]*", text)
    origin = re.search(r"== DataFrame ==\n(.*\n.*)", text)
    condition = getattr(e, "getCondition", None)
    jvm_exception = lines[jvm][:1000] if jvm is not None and jvm < len(lines) else None
    caused_by = [ln[:1000] for ln in lines if ln.startswith("Caused by:")]
    return {
        "type": type(e).__name__,
        "condition": condition() if condition else None,
        "message": lines[0][:1000] if lines else "",
        "failing_stage": stage.group(0)[:1000] if stage else None,
        "jvm_exception": jvm_exception,
        "first_frames": [ln for ln in lines if ln.startswith("at ")][:5],
        "dataframe_origin": origin.group(1).strip()[:1000] if origin else None,
        "caused_by": caused_by,
        "root_cause": caused_by[-1] if caused_by else jvm_exception,
    }


def failed_stage(spark, tracer=None) -> str | None:
    """The failed stage of the last failed job, from Spark's status tracker.
    A task's error raised to the client does not name its stage."""
    st = spark.sparkContext.statusTracker()
    groups = [None]
    if tracer is not None:
        groups += [sp["group"] for sp in tracer.spans if sp["error"]]
    jobs = sorted((j for g in groups for j in st.getJobIdsForGroup(g)), reverse=True)
    for job in jobs:
        info = st.getJobInfo(job)
        if info is None or info.status != "FAILED":
            continue
        for sid in sorted(info.stageIds, reverse=True):
            stage = st.getStageInfo(sid)
            if stage is not None and stage.numFailedTasks > 0:
                return (
                    f"job {job}, stage {sid}.{stage.currentAttemptId} ({stage.name}):"
                    f" {stage.numFailedTasks} of {stage.numTasks} tasks failed"
                )
        return f"job {job} failed"
    return None


def host_shape(spark, nproc: int) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": nproc,
        "mem_total_gb": round(mem_kb / 2**20, 2),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def cpu_steal(since: tuple[int, int] | None = None):
    """(steal, total) CPU ticks from /proc/stat; with ``since``, the share of
    CPU time the hypervisor took from this host in between."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    now = (ticks[7] if len(ticks) > 7 else 0, sum(ticks))
    if since is None:
        return now
    return (now[0] - since[0]) / max(1, now[1] - since[1])


def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_process():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def peak_rss_mb() -> float:
    proc = jvm_process()
    jvm = _vm_hwm_kb(proc.pid) if proc is not None else 0
    return (_vm_hwm_kb("self") + jvm) / 1024


def jvm_heap_peak_mb(spark) -> float:
    """Peak used heap of the JVM since it started: the sum of each heap
    pool's peak (eden, survivor, old), so an upper bound of the whole
    heap's peak."""
    jvm = spark.sparkContext._jvm
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    return sum(
        p.getPeakUsage().getUsed() for p in pools if p.getType().name() == "HEAP"
    ) / 2**20


def start_session(work: str, nproc: int, event_dir: str | None):
    from airflow_etl_finance_market_spark.session import get_spark

    conf = {
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/spark-warehouse",
        "spark.ui.showConsoleProgress": "false",
        # a raised error's text carries the JVM stack, for describe_failure
        "spark.sql.pyspark.jvmStacktrace.enabled": "true",
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{nproc}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """End the gateway JVM, if one is running, and wait for it."""
    from pyspark import SparkContext

    proc = jvm_process()
    if proc is None:
        return
    SparkContext._gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- the run -------------------------------------------------------------------


def measure(wl, spark, seconds: float, tracer=None) -> dict:
    """Closed loop: run whole passes until ``seconds`` have been spent and
    at least ``MIN_OPS`` operations have run."""
    times, failures, rows, staged = [], [], 0, 0
    deadline = time.perf_counter() + seconds
    i = 0
    while len(times) < MIN_OPS or time.perf_counter() < deadline:
        ops = wl.passes(i)
        if not ops:
            break
        for name, n_rows, op, verify in ops:
            if tracer is not None:
                tracer.op += 1
            elapsed, res, failure = run_op(spark, op, verify, tracer)
            if failure:
                failures.append(dict(failure, op=len(times), call=name))
            staged += getattr(res, "staged_rows", 0)
            times.append(elapsed)
            rows += n_rows
        i += 1
    return {"times": times, "failures": failures, "rows": rows, "staged": staged}


def run_op(spark, op, verify, tracer=None):
    """One operation and its output check: (seconds, result, failure)."""
    start, elapsed, res = time.perf_counter(), None, None
    try:
        elapsed, res = op(spark, tracer)
        verify(res)
        return elapsed, res, None
    except Exception as e:  # a raise, a tripped gate or a wrong output
        if elapsed is None:
            elapsed = time.perf_counter() - start
        failure = describe_failure(e)
        if failure["failing_stage"] is None and failure["jvm_exception"]:
            failure["failing_stage"] = failed_stage(spark, tracer)
        return elapsed, res, failure


def warm_up(wl, spark) -> tuple[float, list[dict]]:
    """One untimed pass, so JIT compilation and first-use class loading are
    not billed to the timed operations; returns its operations' time
    (checks excluded) and failures."""
    total, failures = 0.0, []
    for name, _rows, op, verify in wl.passes(-1):
        elapsed, _res, failure = run_op(spark, op, verify)
        total += elapsed
        if failure:
            failures.append(dict(failure, op="warm-up", call=name))
    return total, failures


def run(args, work: str) -> tuple[dict, dict]:
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    # temporary files stay in the checkout, for this process and every JVM
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = tempfile.tempdir = f"{work}/tmp"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    wl = WORKLOADS[args.workload](args.seed, work)

    # set-up: everything before the first timed operation but the output
    # checks -- session start (a cold JVM), input generation, preload and
    # the warm-up pass, so work moved out of the timed operations shows here
    os.makedirs(f"{work}/input")
    steal0 = cpu_steal()
    t0 = time.perf_counter()
    spark = start_session(work, nproc, None)
    session_start = time.perf_counter() - t0
    wl.setup(spark)
    prepare_s = time.perf_counter() - t0
    warmup_s, warmup_failures = warm_up(wl, spark)
    setup_s = prepare_s + warmup_s

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": bool(args.trace),
        "host": host_shape(spark, nproc),
        "loop": "closed, 1 client",
        "input": wl.input_desc(),
        "session_start_s": session_start,
        "warmup_s": warmup_s,
    }
    untraced = {"times": [], "failures": []}
    if not args.trace:
        m = measure(wl, spark, args.seconds)
        layer = None
    else:
        half = args.seconds / 2
        untraced = measure(wl, spark, half)
        spark.stop()
        event_dir = f"{work}/events"
        spark = start_session(work, nproc, event_dir)
        tracer = spans.Tracer(spark)
        restore = spans.install(tracer)
        try:
            m = measure(wl, spark, half, tracer)
        finally:
            restore()
        dedup_layer = hasattr(wl, "candidate_pairs")
        if dedup_layer:
            candidates = wl.candidate_pairs(spark)
        spark.stop()  # flushes the event log
        log = eventlog.parse(eventlog.log_files(event_dir))
        layer = spans.layer_metrics(tracer.spans, log, len(m["times"]))
        layer["session.start_s"] = session_start
        scanned = spans.scanned_rows(tracer.spans, log, "staging")
        layer["sources.readers.rows_scanned_per_row_kept"] = scanned / max(1, m["staged"])
        if dedup_layer:
            layer["operators.dedup.candidate_pairs"] = candidates
            layer["operators.dedup.pairs_per_candidate"] = wl.n_pairs / max(1, candidates)
        else:
            layer["operators.dedup.candidate_pairs"] = 0
            layer["operators.dedup.pairs_per_candidate"] = 0.0
        layer["trace.overhead_ratio"] = statistics.median(m["times"]) / statistics.median(
            untraced["times"]
        )
        detail["untraced_op_p50_s"] = statistics.median(untraced["times"])
        detail["traced_op_p50_s"] = statistics.median(m["times"])
        detail["billing"] = (
            "a job is billed to the innermost open span; lazy upstream work "
            "(scans, transforms) is billed to the span whose action ran it"
        )
        detail["failed_stages"] = log.stage_failure
        t_base = tracer.spans[0]["start"] if tracer.spans else 0.0
        detail["spans"] = [
            {
                "id": sp["id"], "parent": sp["parent"], "op": sp["op"],
                "layer": sp["layer"], "call": sp["call"], "target": sp["target"],
                "start_s": round(sp["start"] - t_base, 6),
                "end_s": round(sp["end"] - t_base, 6),
                "jobs": [j.job_id for j in log.jobs_in({sp["group"]})],
                "error": sp["error"],
            }
            for sp in tracer.spans
        ]

    problems = wl.final_check()
    detail["cpu_steal_share"] = cpu_steal(steal0)
    detail["rss_peak_mb"] = peak_rss_mb()
    detail["jvm_heap_peak_mb"] = jvm_heap_peak_mb(spark)
    spark.stop()

    times = m["times"]
    failures = warmup_failures + untraced["failures"] + m["failures"]
    attempted = len(times) + len(untraced["times"])
    failed = len(untraced["failures"]) + len(m["failures"])
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(times), "s"),
        "rows_per_s": (m["rows"] / sum(times), "rows/s"),
        "failed_ratio": (failed / attempted, "ratio"),
        "peak_rss_mb": (detail["rss_peak_mb"], "MB"),
    }
    # reported only where it is defined: a p90 needs 100 samples (ten beyond
    # it), and only the daily workloads store a warehouse
    e2e["op_p90_s"] = (
        statistics.quantiles(times, n=10)[8] if len(times) >= 100 else None, "s"
    )
    e2e["stored_bytes_per_input_byte"] = (None, "B/B")
    if not problems:
        e2e.update(wl.extra_metrics())
    detail.update({
        "samples": attempted,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "op_times_s": times,
        "failures": failures,
        "check_problems": problems,
    })
    correct = not problems and failed == 0 and not warmup_failures
    if args.trace:
        units = dict(
            [(f"{l}.{f}", u) for l in spans.LAYERS for f, u in spans.LAYER_FIELDS]
            + list(spans.EXTRA_METRICS)
        )
        metrics = {k: {"value": layer[k], "unit": units[k]} for k in units}
    else:
        metrics = {
            k: {"value": e2e[k][0], "unit": e2e[k][1]}
            for k in BOUNDED_METRICS
        }
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return detail, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import airflow_etl_finance_market_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        detail, result = run(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
