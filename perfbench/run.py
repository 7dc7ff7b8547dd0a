"""perfbench — the repository's end-to-end and per-layer benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload queries --seed 1 --seconds 8 --trace 0

One client drives one process on ``local[nproc]`` in a closed loop: the
next op starts when the previous one ends, and ``release_tracked()``
runs once after every op, as ``bench.py`` does. Workloads:

- ``queries``: registry queries on the sf0.01 fixture shipped in
  ``perfbench/data`` — star-schema dashboard queries, MinHash LSH
  near-duplicate detection, and the k-core fixpoint (an eager,
  driver-side loop at plan-build time). The seed sets the op order of
  every pass. Each op is built (``queries()[name](spark, sf_dir)``) and
  then run through the noop sink.
- ``etl``: the monthly medallion job on seeded Yelp-shaped bronze JSON.
  Pass k runs ``pipelines.backfill`` over month k into one silver/gold
  warehouse that lives for the run, as a monthly schedule would: the
  cold pass (month 1) takes the MERGE create path, every later month the
  staging + rename path. The seed generates the bronze input.

A run first starts the session several times (``setup_s``), then runs
one cold pass, and then warm passes for ``--seconds`` (at least two). Outputs are
checked outside the timed region: the read ops against the row counts
and value hashes in ``expected.json`` (DuckDB oracle values, see
``make_expected.py``), and every backfill task against the generator's
row counts and an attempt count of 1.

With ``--trace 0`` the last stdout line holds the end-to-end metrics;
with ``--trace 1`` it holds the per-layer metrics of a traced run
(spans plus Spark's event log, compared against untraced passes of the
same process for ``trace.overhead``). Scratch files live in
``.perfbench_work/`` and are removed at exit; span dumps go to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import importlib.util
import json
import os
import random
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.json")

FAMILIES = {
    "dashboard": ("pricing_summary", "top_regions_by_orders", "nation_market_share"),
    "neardup": ("dedup_minhash_pairs",),
    "iterative": ("supplier_kcore",),
}
QUERY_OPS = [op for ops in FAMILIES.values() for op in ops]
FAMILY_OF = {op: fam for fam, ops in FAMILIES.items() for op in ops}
SETUPS = 3
MB = 1024.0 * 1024.0

E2E_UNITS = {
    "setup_s": "s",
    "cold_wall_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "rows/s",
}
WRITE_TABLES = ("business", "users", "checkins", "reviews", "tips",
                "dim_time", "dim_business", "dim_user",
                "bridge_business_category", "fact_review", "fact_checkin")
LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.released": "count",
    "session.cached_mb": "MB",
    "session.peak_rss_mb": "MB",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.build_share": "ratio",
    **{f"registry.build_share.{f}": "ratio" for f in FAMILIES},
    **{f"registry.build_s.{f}": "s" for f in FAMILIES},
    "operators.exec_s": "s",
    **{f"operators.exec_s.{f}": "s" for f in FAMILIES},
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.max_stage_s": "s",
    "operators.single_task_stage_s": "s",
    "operators.task_s": "s",
    "operators.cpu_s": "s",
    "operators.gc_s": "s",
    "operators.core_util": "ratio",
    "operators.shuffle_write_mb": "MB",
    "operators.shuffle_read_mb": "MB",
    "operators.spill_mb": "MB",
    "operators.failed_tasks": "count",
    "tables.input_mb": "MB",
    "tables.input_records": "count",
    "pipelines.bronze_to_silver_s": "s",
    "pipelines.silver_to_gold_s": "s",
    "pipelines.summary_s": "s",
    **{f"pipelines.write_s.{t}": "s" for t in WRITE_TABLES},
    "pipelines.bytes_written_mb": "MB",
    "pipelines.files_written": "count",
    "pipelines.storage_amp": "ratio",
    "pipelines.retries": "count",
    "trace.overhead": "ratio",
    "trace.unattributed_jobs": "count",
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _collect(df):
    return df.columns, [tuple(r) for r in df.collect()]


def _parquet_files(path: str) -> list[str]:
    return glob.glob(f"{path}/**/*.parquet", recursive=True)


def oracle_hash():
    """The order-insensitive row hash of ``tools/check_oracle.py``."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._hash_rows


class Bench:
    """State of one benchmark run: session, tracer, counters, timings."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 expected: dict, bronze_scale: float, work: str):
        from tracing import Tracer

        self.workload = workload
        self.seed = seed
        self.rng = random.Random(seed)
        self.seconds = seconds
        self.expected = expected
        self.bronze_scale = bronze_scale
        self.work = work
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.tracer = Tracer(workload, enabled=False)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.bronze = None
        self.month_i = 0  # etl: index of the next month to load
        self.pass_no = 0

        import pyarrow.parquet as pq
        from yelp_data_pipeline_spark.queries import queries

        self.qs = queries()
        self.hash_rows = oracle_hash()
        # Rows of the fixture tables: the input size of a queries pass.
        self.fixture_rows = sum(
            pq.read_metadata(p).num_rows for p in glob.glob(f"{SF_DIR}/*.parquet"))

    # -- session -----------------------------------------------------
    def start_session(self, event_log: bool = False) -> tuple[float, float]:
        from yelp_data_pipeline_spark.session import get_spark

        conf = {
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(f"{self.work}/events", exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"{self.work}/events",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        _noop(self.qs["total_counts"](self.spark, SF_DIR))
        t2 = time.perf_counter()
        self.tracer.spark = self.spark
        return t1 - t0, t2 - t1

    def setup(self) -> list[float]:
        """Start the session SETUPS times (the first in a fresh JVM, the
        rest after ``spark.stop()``); return each get_spark → first
        query time."""
        times = []
        for k in range(SETUPS):
            if k:
                self.spark.stop()
            start, warm = self.start_session()
            if not k:
                self.start_s, self.warmup_s = start, warm
            times.append(start + warm)
        return times

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the driver JVM (``VmHWM``) plus the
        Python process (``ru_maxrss``), read once."""
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            jvm_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    def release(self, st: dict) -> None:
        from yelp_data_pipeline_spark.session import release_tracked

        if self.tracer.enabled:
            infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            held = sum(i.memSize() + i.diskSize() for i in infos) / MB
            st["cached_mb"] = max(st["cached_mb"], held)
        st["released"] += release_tracked()

    def _new_pass(self) -> dict:
        self.pass_no += 1
        return {"label": f"pass{self.pass_no}", "op_s": {}, "released": 0, "cached_mb": 0.0}

    # -- queries workload ------------------------------------------
    def queries_pass(self, sink, check: bool = False) -> dict:
        st = self._new_pass()
        st["rows"] = self.fixture_rows
        order = self.rng.sample(QUERY_OPS, len(QUERY_OPS))
        t_pass = time.perf_counter()
        with self.tracer.span(st["label"], "pass"):
            for i, op in enumerate(order):
                self.attempted += 1
                t0 = time.perf_counter()
                out, ok = None, True
                try:
                    with self.tracer.span(op, "op", op_id=i):
                        with self.tracer.span(op, "build"):
                            df = self.qs[op](self.spark, SF_DIR)
                        with self.tracer.span(op, "exec"):
                            out = sink(df)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    ok = False
                st["op_s"][op] = time.perf_counter() - t0
                self.release(st)
                if ok and check:
                    ok = self.check_query(op, *out)
                self.failed += not ok
        st["wall"] = time.perf_counter() - t_pass
        return st

    def check_query(self, op: str, cols, rows) -> bool:
        want = self.expected["queries"][op]
        got = {"rows": len(rows), "hash": self.hash_rows(cols, rows)}
        if got != want:
            print(f"check failed: {op}: got {got}, want {want}", file=sys.stderr)
            return False
        return True

    # -- etl workload ----------------------------------------------
    def make_bronze(self) -> None:
        import bronze

        sizes = {"n_business": 1000, "n_users": 2000,
                 "reviews_per_month": 3000, "tips_per_month": 800}
        self.bronze = bronze.generate(
            f"{self.work}/bronze", self.seed,
            **{k: max(20, int(v * self.bronze_scale)) for k, v in sizes.items()})

    def etl_pass(self) -> dict:
        from bronze import MONTHS
        from yelp_data_pipeline_spark import pipelines

        st = self._new_pass()
        st.update(bronze_to_silver=0.0, silver_to_gold=0.0, retries=0)
        month = MONTHS[self.month_i]
        self.month_i += 1
        st["rows"] = self.bronze["records"][month]
        silver, gold = f"{self.work}/silver", f"{self.work}/gold"

        def wrap(task_name, fn):
            def call(spark, src, dst, year, month):
                t0 = time.perf_counter()
                try:
                    with self.tracer.span(f"{task_name}-{year}-{month:02d}", "task"):
                        return fn(spark, src, dst, year, month)
                finally:
                    dt = time.perf_counter() - t0
                    st[task_name] += dt
                    st["op_s"][task_name] = dt
            return call

        summary = None
        t_wall = time.time()
        t_pass = time.perf_counter()
        with self.tracer.span(st["label"], "pass"):
            self.attempted += 2
            try:
                with self.tracer.span("backfill", "backfill"):
                    summary = pipelines.backfill(
                        self.spark, f"{self.work}/bronze", silver, gold, month, month,
                        _b2s=wrap("bronze_to_silver", pipelines.bronze_to_silver),
                        _s2g=wrap("silver_to_gold", pipelines.silver_to_gold))
            except Exception:
                traceback.print_exc(file=sys.stderr)
            self.release(st)
        st["wall"] = time.perf_counter() - t_pass

        # Checks and disk figures, outside the timed region.
        self.failed += self.check_backfill(summary, st)
        if self.tracer.enabled:
            files = [p for d in (silver, gold) for p in _parquet_files(d)]
            st["files_written"] = sum(os.path.getmtime(p) >= t_wall for p in files)
            base = self.bronze["base_bytes"]
            loaded = base + sum(self.bronze["bytes"][m] - base for m in MONTHS[:self.month_i])
            st["storage_amp"] = sum(os.path.getsize(p) for p in files) / loaded
        return st

    def check_backfill(self, summary, st: dict) -> int:
        """Failed backfill tasks: raised, retried, or wrong row counts."""
        if summary is None:
            return 2
        bad = 0
        for row in summary:
            want = self.bronze["expected"][(row["year"], row["month"])]
            got = row["rows"]
            st["retries"] += row["attempts"] - 1
            wrong = {k: (v, want[k]) for k, v in got.items() if v != want[k]}
            if row["attempts"] != 1 or wrong:
                print(f"check failed: {row['task']} {row['year']}-{row['month']}: "
                      f"attempts={row['attempts']} (got, want)={wrong}", file=sys.stderr)
                bad += 1
        return bad + 2 - len(summary)

    # -- driving -----------------------------------------------------
    def first_pass(self) -> dict:
        """The cold pass: plans and codegen are new in this process. It is
        also the check pass of the read ops, which collect their rows
        here; every etl pass is checked."""
        if self.workload == "queries":
            return self.queries_pass(_collect, check=True)
        return self.etl_pass()

    def warm_passes(self, budget: float, min_passes: int) -> list[dict]:
        """Warm passes until ``budget`` seconds have passed and at least
        ``min_passes`` ran (``etl`` also stops when the generated months
        run out). Passes still speed up from one to the next, so a fixed
        floor keeps a pass that ends just before or after the deadline
        from changing which passes a run reports."""
        from bronze import MONTHS

        out, t0 = [], time.perf_counter()
        while len(out) < min_passes or time.perf_counter() - t0 < budget:
            if self.workload == "queries":
                out.append(self.queries_pass(_noop))
            elif self.month_i < len(MONTHS):
                out.append(self.etl_pass())
            else:
                break
        return out

    def run_untraced(self) -> dict:
        setups = self.setup()
        cold = self.first_pass()
        warm = self.warm_passes(self.seconds, 2)
        # Warm figures take each op's and each pass's best time over the
        # measured passes: on a shared host a burst of CPU steal during
        # one pass would otherwise move the run's figure.
        best = min(warm, key=lambda p: p["wall"])
        ops: dict[str, float] = {}
        for p in warm:
            for op, t in p["op_s"].items():
                ops[op] = min(t, ops.get(op, t))
        metrics = {
            "setup_s": statistics.median(setups),
            "cold_wall_s": cold["wall"],
            "wall_s": best["wall"],
            "op_p50_s": statistics.median(ops.values()),
            "rows_per_s": best["rows"] / best["wall"],
        }
        return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}

    def run_traced(self) -> dict:
        import tracing as tr

        self.setup()
        self.first_pass()
        untraced = self.warm_passes(self.seconds / 2, 1)
        self.spark.stop()
        self.start_session(event_log=True)
        self.tracer.enabled = True
        with self.tracer.span("run", "run"):
            traced = self.warm_passes(self.seconds / 2, 1)
        app_id = self.spark.sparkContext.applicationId
        peak_rss_mb = self.peak_rss_mb()
        self.spark.stop()  # flushes and closes the event log
        self.spark = None
        log = tr.read_event_log(next(iter(glob.glob(f"{self.work}/events/{app_id}*"))))
        spans = self.tracer.spans
        job_span = tr.attribute_jobs(spans, self.workload, log["jobs"])
        rows = []
        for st in traced:
            ps = next(s for s in spans if s["name"] == st["label"] and s["phase"] == "pass")
            row = tr.pass_layer_metrics(spans, ps, log, job_span, self.cores)
            for t in WRITE_TABLES:
                row[f"pipelines.write_s.{t}"] = row["writes"].get(t, 0.0)
            row.update(self._pass_extras(spans, ps, st, log, job_span))
            rows.append(row)
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        self.tracer.dump(os.path.join(
            ROOT, ".perfbench_out", f"spans-{self.workload}-{self.seed}.json"))
        metrics = {k: tr.median_of(rows, k) for k in LAYER_UNITS}
        metrics["session.start_s"] = self.start_s
        metrics["session.warmup_s"] = self.warmup_s
        metrics["session.peak_rss_mb"] = peak_rss_mb
        metrics["trace.overhead"] = (
            statistics.median(p["wall"] for p in traced)
            / statistics.median(p["wall"] for p in untraced) - 1.0)
        return {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in metrics.items()}

    def _pass_extras(self, spans, ps, st, log, job_span) -> dict:
        """Layer figures of one traced pass that come from the benchmark's
        own timers and spans rather than from the event log."""
        import tracing as tr

        inside = [s for s in spans if ps["t0"] <= s["t0"] and s["t1"] <= ps["t1"]]
        # A job is unattributed when no span below the pass was open
        # when it was submitted.
        unattributed = sum(
            1 for jid, job in log["jobs"].items()
            if ps["t0"] <= job["submit"] <= ps["t1"]
            and spans[job_span[jid]]["phase"] in ("pass", "run")
        )
        row = {
            "session.released": st["released"],
            "session.cached_mb": st["cached_mb"],
            "trace.unattributed_jobs": unattributed,
        }
        for fam in FAMILIES:
            fam_spans = [s for s in inside if FAMILY_OF.get(s["name"]) == fam]
            build = sum(s["t1"] - s["t0"] for s in fam_spans if s["phase"] == "build")
            exe = sum(s["t1"] - s["t0"] for s in fam_spans if s["phase"] == "exec")
            row[f"registry.build_s.{fam}"] = build
            row[f"operators.exec_s.{fam}"] = exe
            row[f"registry.build_share.{fam}"] = build / (build + exe) if fam_spans else 0.0
        if self.workload == "etl":
            backfill = next(s for s in inside if s["phase"] == "backfill")
            row.update({
                "pipelines.bronze_to_silver_s": st["bronze_to_silver"],
                "pipelines.silver_to_gold_s": st["silver_to_gold"],
                # backfill's own time: its per-output count() summary
                "pipelines.summary_s": tr.self_time(spans, backfill),
                "pipelines.retries": st["retries"],
                "pipelines.files_written": st["files_written"],
                "pipelines.storage_amp": st["storage_amp"],
            })
        return row


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("queries", "etl"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # The self-tests use these two to check a wrong expected value and
    # to run etl on a tiny bronze input.
    ap.add_argument("--expected", default=EXPECTED,
                    help="stored expected outputs (default: perfbench/expected.json)")
    ap.add_argument("--bronze-scale", type=float, default=1.0,
                    help="bronze size relative to the standard size")
    args = ap.parse_args(argv)

    missing = [p for p in ("yelp_data_pipeline_spark/__init__.py", "tools/check_oracle.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing or not os.path.isdir(SF_DIR):
        print(f"perfbench: not inside a checkout of the repository "
              f"(missing: {missing or [SF_DIR]})", file=sys.stderr)
        return 2
    with open(args.expected) as f:
        expected = json.load(f)

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    tempfile.tempdir = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    bench = Bench(args.workload, args.seed, args.seconds, expected, args.bronze_scale, work)
    try:
        if args.workload == "etl":
            bench.make_bronze()  # not timed
        metrics = bench.run_traced() if args.trace else bench.run_untraced()
    finally:
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
