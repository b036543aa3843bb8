#!/usr/bin/env python3
"""The repository benchmark: the medallion pass and the incremental tick,
timed end to end.

Run from the root of a checkout::

    python3 perfbench/run.py --workload medallion_full --seed 1 --seconds 5 --trace 0

One process, one Spark session on ``local[nproc]``. The workload's
inputs are generated from ``--seed`` into a scratch directory inside
the checkout (removed on exit); set-up ends with the workload's
discarded warm-up ops, if any; then ops run back to back for
``--seconds`` seconds (at least one), each followed by an output check
against an independent computation: DuckDB over the same inputs, and
the generator's ledger and labels. The last stdout line is the result::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns the
Spark UI on and reports per-layer metrics of one traced op (see
``tracing.py``). The line before it is the run detail: environment, op
samples, percentiles and failures. README.md in this directory
documents the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import gc
import importlib
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
#: pinned silver quarantine horizon for the full pass (the default reads today)
HORIZON = dt.date(2100, 1, 1)
#: base rows of each domain; ops this small are bound by per-job cost
N_INVOICES = 20_000
N_BUDGET = 2000
#: delta size per incremental cycle, as a share of the base rows
DELTA_FRAC = 0.02
#: documents per corpus batch; rows of the query tables
N_DOCS = 200
N_LINEITEM = 20_000
N_VECTORS = 400
#: a run that hangs is stopped before the 180 s a run may take
WATCHDOG_S = 170
#: program modules the ops import, loaded during set-up: their import
#: cost, and in a fresh checkout their bytecode compile, is set-up work
PRELOAD = ("plans.corpus", "plans.gold", "plans.runner", "queries", "sources.files",
           "streaming.incremental")


def _other_spark_jvms() -> int:
    """Spark JVMs alive before ours starts (they skew every reading)."""
    n = 0
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        n += b"java" in cmd and b"org.apache.spark" in cmd
    return n


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _percentile_note(samples: list[float]) -> dict:
    """Median, plus the highest percentile with at least ten samples
    beyond it (none below 11 samples)."""
    out = {"n": len(samples), "median": statistics.median(samples) if samples else None}
    if len(samples) >= 11:
        p = int(100 * (1 - 10 / len(samples)))
        out[f"p{p}"] = statistics.quantiles(samples, n=100)[p - 1]
    return out


class Medallion:
    """Shared pieces of the workloads: a landed seeded domain, the gold
    model it feeds and the table the quarantine rule is checked on."""

    gold_model = fact = ""
    warm_up_ops = 1
    #: span factory: the tracer's during a traced op, a no-op otherwise
    span = staticmethod(lambda name: contextlib.nullcontext())

    def __init__(self, spark, seed: int, work: str, base: dict):
        import gen
        from spaceparts_data_pipeline_spark.plans import gold

        self.spark, self.seed, self.base = spark, seed, base
        self.landing = os.path.join(work, "landing")
        self.rows_in = gen.write_landing(base, self.landing, "base")
        self.models = [m for m in gold.MODELS if m.name == self.gold_model]

    def prepare(self) -> None:
        """Untimed work before an op."""

    def check_tables(self, horizon: dt.date) -> list[str]:
        import reference

        con = reference.connect(self.landing, self.base, self.gold_model, horizon)
        try:
            errs = [reference.compare_table(self.spark, con, t, t)
                    for t in [f"silver_{t}" for t in self.base] + [self.gold_model]]
        finally:
            con.close()
        errs.append(reference.quarantine_rule_check(self.spark, self.fact, horizon))
        return [e for e in errs if e]


class MedallionFull(Medallion):
    """Op: one ``run_pipeline`` pass (bronze → silver → gold) over the
    sales star in a fresh session, as a scheduled batch run starts. No
    warm-up: that first pass is the op (later ops re-run it over the
    catalog the previous one left)."""

    gold_model, fact = "gold_fact_sales", "fact_invoices"
    warm_up_ops = 0

    def __init__(self, spark, seed: int, work: str):
        import gen

        super().__init__(spark, seed, work, gen.star_base(seed, N_INVOICES))
        self.expected = gen.expected_counts(self.base)

    def op(self) -> list[str]:
        from spaceparts_data_pipeline_spark.plans.runner import run_pipeline
        from spaceparts_data_pipeline_spark.sources.files import load_landing_dir

        sources, _, _ = load_landing_dir(self.spark, self.landing)
        res = run_pipeline(self.spark, sources, horizon=HORIZON, models=self.models)
        return [] if res["status"] == "success" else [f"run_pipeline status {res['status']}"]

    def check(self) -> list[str]:
        counts = dict(self.spark.sql(" UNION ALL ".join(
            f"SELECT '{t}', count(*) FROM {t}" for t in self.expected)).collect())
        errs = [f"{t}: {counts[t]} rows, generator expects {n}"
                for t, n in self.expected.items() if counts[t] != n]
        return errs + self.check_tables(HORIZON)


class IncrementalCycle(Medallion):
    """Op: one incremental tick, three parts in turn:

    1. a fresh seeded delta of the budget fact: ``run_incremental_pipeline``
       for bronze and silver, then the gold layer's incremental MERGE for
       ``gold_fact_budget`` (the pipeline's own gold step runs every model
       in ``gold.MODELS``);
    2. a fresh labelled document batch through ``run_corpus_ingest``
       (basic gate, exact and near dedup, contamination screen);
    3. the query pass: each of ``reference.QUERIES`` over the seeded
       query tables, collected.

    The warm-up op is the initial full load of the budget fact alone."""

    gold_model, fact = "gold_fact_budget", "fact_budget"

    def __init__(self, spark, seed: int, work: str):
        import gen

        super().__init__(spark, seed, work, gen.budget_base(seed, N_BUDGET))
        self.ops = 0
        self.delta_rows = self.rows_in
        self.quarantined = 0
        self.corpus = None
        self.tables = os.path.join(work, "tables")
        self.corpus_out = os.path.join(work, "corpus")
        gen.query_tables(seed, self.tables, N_LINEITEM, N_VECTORS)

    def prepare(self) -> None:
        """Land the next delta and document batch (untimed)."""
        import gen

        if self.ops:
            k = self.ops - 1
            delta = gen.budget_delta(self.seed, k, self.base, DELTA_FRAC)
            self.budget_rows = gen.write_landing(delta, self.landing, f"delta-{k:04d}")
            self.quarantined += sum(delta["fact_budget"].quarantined)
            self.corpus = gen.Corpus(self.seed, k, N_DOCS)
            self.delta_rows = self.budget_rows + self.corpus.write(self.tables)
            self.run_id = f"batch-{k:04d}"
        self.ops += 1

    def op(self) -> list[str]:
        import reference
        from spaceparts_data_pipeline_spark.plans import corpus, gold
        from spaceparts_data_pipeline_spark.queries import all_queries
        from spaceparts_data_pipeline_spark.sources.files import load_landing_dir
        from spaceparts_data_pipeline_spark.streaming.incremental import (
            effective_watermark, run_incremental_pipeline)

        sources, _, _ = load_landing_dir(self.spark, self.landing)
        # gold's changed-key window starts at this cycle: everything the
        # benchmark built is younger than the default 7-day lookback
        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        res = run_incremental_pipeline(self.spark, sources, now=now, lookback_days=0,
                                       skip_gold=True)
        res["gold"] = gold.run_incremental(self.spark, effective_watermark(0, now),
                                           execution_id=res["execution_id"],
                                           models=self.models)
        errs = [f"{layer} {t}: {r.get('status')}" for layer in ("bronze", "silver", "gold")
                for t, r in res[layer].items() if r.get("status") != "success"]
        errs += [f"log flush: {e}" for e in res.get("log_flush_errors", {}).values()]
        if self.corpus is None:
            return errs
        read = self.spark.read.parquet
        self.stats = corpus.run_corpus_ingest(
            self.spark, read(os.path.join(self.tables, "documents.parquet")), self.corpus_out,
            self.run_id, benchmark=read(os.path.join(self.tables, "benchmark.parquet")))
        queries = all_queries()
        self.results = {}
        for name in reference.QUERIES:
            with self.span(f"queries.{name}"):
                self.results[name] = queries[name](self.spark, self.tables).toPandas()
        return errs

    def check(self) -> list[str]:
        import reference

        # silver's incremental path takes the default horizon (today + 730 days)
        errs = self.check_tables(dt.date.today() + dt.timedelta(days=730))
        sink = f"silver_quarantine_{self.fact}"
        n_sink = self.spark.table(sink).count() if self.spark.catalog.tableExists(sink) else 0
        if n_sink != self.quarantined:
            errs.append(f"{sink}: {n_sink} rows, generator planted {self.quarantined}")
        errs += reference.corpus_mismatch(self.corpus, self.stats, self.corpus_out, self.run_id)
        return errs + [e for n in reference.QUERIES
                       if (e := reference.query_mismatch(n, self.results[n], self.tables))]


WORKLOADS = {"medallion_full": MedallionFull, "incremental_cycle": IncrementalCycle}


def _start_spark(work: str, trace: bool):
    nproc = len(os.sched_getaffinity(0))
    os.environ.update({
        # get_spark's default driver heap is 8g; under it the peak RSS of
        # one op varies by up to 1.4 GB between seeds with GC timing
        # (README.md), so the runs cap it through get_spark's own setting
        "SPARK_DRIVER_MEMORY": "2g",
        "TZ": "UTC",
        "SPARK_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    })
    time.tzset()
    os.makedirs(os.environ["TMPDIR"])
    from spaceparts_data_pipeline_spark.session import get_spark

    if trace:
        # get_spark turns the UI off; a context made first with it on is
        # the one get_spark's getOrCreate then adopts
        from pyspark import SparkConf, SparkContext

        SparkContext(conf=SparkConf().setMaster(f"local[{nproc}]").setAppName("perfbench")
                     .set("spark.ui.enabled", "true")
                     .set("spark.ui.showConsoleProgress", "false")
                     .set("spark.driver.memory", os.environ["SPARK_DRIVER_MEMORY"])
                     .set("spark.sql.warehouse.dir", os.environ["SPARK_WAREHOUSE_DIR"]))
    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, nproc


def _settle(spark) -> None:
    """Between ops: drop cached frames and collect garbage on both sides."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run(args, work: str) -> tuple[dict, dict]:
    other_jvms = _other_spark_jvms()
    load_before = os.getloadavg()
    spark, nproc = _start_spark(work, args.trace)
    t_session = time.time() - T_START
    jvm = spark.sparkContext._gateway.proc
    detail = {"workload": args.workload, "seed": args.seed, "nproc": nproc,
              "spark": spark.version,
              "java": spark.sparkContext._jvm.System.getProperty("java.version"),
              "other_spark_jvms_at_start": other_jvms, "failures": [], "check_s": []}
    try:
        for mod in PRELOAD:
            importlib.import_module(f"spaceparts_data_pipeline_spark.{mod}")
        t_imports = time.time() - T_START - t_session
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        detail["setup_parts_s"] = {"session": t_session, "imports": t_imports,
                                   "inputs": time.time() - T_START - t_session - t_imports}
        attempted = failed = 0
        times: list[float] = []
        rss: dict[str, float] = {}
        layers = None
        tracer = None
        if args.trace:
            # the traced run measures the same ops as an untraced run of
            # its seed; its per-layer metrics come from the first one
            import scale_harness
            import tracing

            tracer = tracing.Tracer(spark)

        def one(timed: bool) -> None:
            nonlocal attempted, failed, layers
            wl.prepare()
            traced = timed and tracer is not None
            if traced:
                since_stage = scale_harness._max_stage_id(spark)
                tracer.reset()
                tracer.install()
                wl.span = tracer.span
            t0 = time.perf_counter()
            try:
                with tracer.span(tracing.ROOT) if traced else contextlib.nullcontext():
                    errs = wl.op()
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, the run goes on
                errs = [f"op raised {type(exc).__name__}: {exc}"[:500]]
            finally:
                if traced:
                    tracer.uninstall()
                    del wl.span
            wall = time.perf_counter() - t0
            if timed:
                # high-water marks up to this op, read before its check's
                # DuckDB work adds to the Python side
                rss["python"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
                rss["jvm"] = _vm_hwm_mb(jvm.pid)
                if not errs:
                    try:
                        errs = wl.check()
                    except Exception as exc:  # noqa: BLE001
                        errs = [f"check raised {type(exc).__name__}: {exc}"[:500]]
                detail["check_s"].append(time.perf_counter() - t0 - wall)
                attempted += 1
                failed += bool(errs)
                times.append(wall)
            if errs:
                detail["failures"].append(errs)
            if traced and layers is None:
                import reference

                layers = tracer.attribute(tuple(f"queries.{n}" for n in reference.QUERIES))
                layers["spark.straggler"] = scale_harness._task_straggler(
                    spark, since_stage)["straggler"]
                stats = getattr(wl, "stats", None) or {}
                layers["plans.corpus.admit_ratio"] = (
                    stats["admitted"] / stats["input"] if stats.get("input") else 0.0)
            _settle(spark)

        for _ in range(wl.warm_up_ops):  # part of set-up
            one(timed=False)
        setup_s = time.time() - T_START
        detail["setup_parts_s"]["warm_up_ops"] = setup_s - sum(detail["setup_parts_s"].values())
        t_measure = time.perf_counter()
        last = 0.0
        while not attempted or time.perf_counter() - t_measure + last <= args.seconds:
            t_op = time.perf_counter()
            one(timed=True)
            last = time.perf_counter() - t_op
        detail.update(setup_s=setup_s, op_s=_percentile_note(times), samples=times, rss_mb=rss,
                      load_before=load_before, load_after=os.getloadavg())
        if args.trace:
            metrics = dict(layers)
            # records the medallion layers wrote per budget delta row
            metrics["incremental.write_amp"] = (
                (layers["spark.output_records"] - layers["plans.corpus.output_records"])
                / wl.budget_rows if isinstance(wl, IncrementalCycle) else 0.0)
            units = {}
        else:
            op_s = statistics.median(times)
            rows = wl.delta_rows if isinstance(wl, IncrementalCycle) else wl.rows_in
            metrics = {"setup_s": setup_s, "op_s": op_s, "rows_per_h": rows / op_s * 3600,
                       "peak_rss_mb": sum(rss.values())}
            units = {"setup_s": "s", "op_s": "s", "rows_per_h": "rows/h", "peak_rss_mb": "MB"}
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": {k: {"value": v, "unit": units.get(k) or _layer_unit(k)}
                              for k, v in sorted(metrics.items())}}
        return result, detail
    finally:
        spark.stop()
        spark.sparkContext._gateway.shutdown()
        jvm.stdin.close()
        try:
            jvm.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a stuck JVM is killed, never left behind
            jvm.kill()
            jvm.wait()


def _layer_unit(name: str) -> str:
    field = name.rsplit(".", 1)[1]
    if field.endswith("_s") or field == "s":
        return "s"
    if field.endswith("_mb"):
        return "MB"
    if field in ("straggler", "write_amp", "admit_ratio"):
        return "ratio"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path[:0] = [HERE, ROOT]
    try:
        import spaceparts_data_pipeline_spark as pkg
    except ImportError as exc:
        print(f"perfbench: the program is not in this checkout ({exc})", file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: imported the program from {pkg.__file__}, outside {ROOT}",
              file=sys.stderr)
        return 2

    def _timeout(*_):
        raise TimeoutError(f"run exceeded {WATCHDOG_S} s")

    def _terminate(*_):
        raise SystemExit(143)

    signal.signal(signal.SIGALRM, _timeout)
    signal.signal(signal.SIGTERM, _terminate)
    signal.alarm(WATCHDOG_S)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result, detail = run(args, work)
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's scratch directory is still there
            pass
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
