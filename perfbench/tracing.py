"""Per-layer attribution for the traced run, from the benchmark's side.

:class:`Tracer` wraps the layer entry points as module attributes (the
program is not edited) and opens a span around each call. Every span
runs under a Spark job group of its own, so each job lands on exactly
one span: the innermost one open when it was submitted. Jobs, stages
and tasks per group come from ``statusTracker``; executor time, shuffle
bytes, output records and job intervals from the status REST API,
which needs the UI, so only the traced run turns it on.

The corpus funnel's stages are not calls of their own: their jobs are
split out of the ``plans.corpus`` span by submission time, along the
consecutive ``sec_<stage>`` ticks ``run_corpus_ingest`` returns.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import time
import urllib.request
from contextlib import contextmanager

#: (module path, owner attribute or None, function, span name): the
#: layer entry points. Callers reach each through a module or class
#: attribute at call time, so replacing the attribute traces every call.
TARGETS = (
    ("spaceparts_data_pipeline_spark.sources.files", None, "load_landing_dir",
     "sources.files.load_landing_dir"),
    ("spaceparts_data_pipeline_spark.plans.bronze", None, "run_full", "plans.bronze"),
    ("spaceparts_data_pipeline_spark.plans.bronze", None, "run_incremental", "plans.bronze"),
    ("spaceparts_data_pipeline_spark.plans.silver", None, "run_full", "plans.silver"),
    ("spaceparts_data_pipeline_spark.plans.silver", None, "run_incremental", "plans.silver"),
    ("spaceparts_data_pipeline_spark.plans.gold", None, "run_full", "plans.gold"),
    ("spaceparts_data_pipeline_spark.plans.gold", None, "run_incremental", "plans.gold"),
    ("spaceparts_data_pipeline_spark.plans.logs", "LogBuffer", "flush", "plans.logs.flush"),
    ("spaceparts_data_pipeline_spark.operators.maintenance", None, "overwrite_via_staging",
     "operators.maintenance.overwrite_via_staging"),
    ("spaceparts_data_pipeline_spark.operators.maintenance", None, "recover_all",
     "operators.maintenance.recover_all"),
    # gold imports merge_into_table by name, so its own binding is the one to wrap
    ("spaceparts_data_pipeline_spark.plans.gold", None, "merge_into_table",
     "operators.merge.merge_into_table"),
    ("spaceparts_data_pipeline_spark.plans.corpus", None, "run_corpus_ingest", "plans.corpus"),
)
CORPUS = "plans.corpus"
#: funnel stages reported on their own; the input count, the unpersist
#: sweep and the glue between ticks stay in the ``plans.corpus`` span
CORPUS_STAGES = ("quality_redact", "exact_dedup", "near_dedup", "contamination",
                 "write_pack", "store_append", "compact")
SPANS = tuple(dict.fromkeys(t[3] for t in TARGETS)) + tuple(
    f"{CORPUS}.{s}" for s in CORPUS_STAGES)
#: per-span fields; ``s`` is self time (span wall minus its child spans).
#: Executed stages are counted for the whole op only: within a span they
#: equal its jobs on these workloads, and the metric count is capped
FIELDS = ("s", "jobs", "tasks", "executor_s", "shuffle_mb", "driver_gap_s")
ROOT = "spark"


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _epoch_s(stamp: str) -> float:
    # status REST times look like 2026-01-31T12:00:00.123GMT
    return dt.datetime.strptime(stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple] = []

    def install(self) -> None:
        import importlib

        for mod_path, owner, fn, span in TARGETS:
            target = importlib.import_module(mod_path)
            if owner:
                target = getattr(target, owner)
            orig = getattr(target, fn)
            self._undo.append((target, fn, orig))
            setattr(target, fn, self._traced(orig, span))

    def uninstall(self) -> None:
        for target, fn, orig in reversed(self._undo):
            setattr(target, fn, orig)
        self._undo.clear()

    def _traced(self, fn, span: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(span):
                out = fn(*args, **kwargs)
                if span == CORPUS:
                    self.spans[self._stack[-1]]["ticks"] = out
                return out
        return traced

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"name": name, "group": f"perfbench-{idx}-{name}", "children": [],
               "t0": time.time()}
        if self._stack:
            self.spans[self._stack[-1]]["children"].append(idx)
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def reset(self) -> None:
        self.spans.clear()

    # -- attribution ------------------------------------------------------

    def _rest(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def _settled_jobs(self, job_ids: set[int]) -> dict[int, dict]:
        """REST job records for ``job_ids``, once the status listener has
        seen every one of them end (it runs behind the scheduler)."""
        for _ in range(100):
            jobs = {j["jobId"]: j for j in self._rest("jobs") if j["jobId"] in job_ids}
            if len(jobs) == len(job_ids) and all("completionTime" in j for j in jobs.values()):
                return jobs
            time.sleep(0.05)
        raise RuntimeError(f"status API never settled on jobs {sorted(job_ids - set(jobs))}")

    def attribute(self, extra_spans: tuple[str, ...] = ()) -> dict[str, float]:
        """Per-span metrics of the spans recorded since :meth:`reset`,
        named ``<span>.<field>``, plus whole-op totals under ``spark.*``.
        The first recorded span must be the op's root span; spans the run
        opens itself are named in ``extra_spans``."""
        st = self.sc.statusTracker()
        groups = {i: set(st.getJobIdsForGroup(s["group"])) for i, s in enumerate(self.spans)}
        rest_jobs = self._settled_jobs(set().union(*groups.values()))
        stage_rows = {s["stageId"]: s for s in self._rest("stages?status=complete")}

        def interval(j: int) -> tuple[float, float]:
            return (_epoch_s(rest_jobs[j]["submissionTime"]),
                    _epoch_s(rest_jobs[j]["completionTime"]))

        # (name, jobs, self time) pieces: one per span, the corpus span
        # split further along its stage ticks
        pieces = []
        for i, span in enumerate(self.spans):
            own = span["t1"] - span["t0"] - sum(
                self.spans[c]["t1"] - self.spans[c]["t0"] for c in span["children"])
            jobs = groups[i]
            t = span["t0"]
            for key, sec in span.get("ticks", {}).items():
                if not key.startswith("sec_"):
                    continue
                if key[4:] in CORPUS_STAGES:
                    inside = {j for j in jobs if t <= interval(j)[0] < t + sec}
                    jobs = jobs - inside
                    pieces.append((f"{CORPUS}.{key[4:]}", inside, sec))
                    own -= sec
                t += sec
            pieces.append((ROOT if i == 0 else span["name"], jobs, own))

        out = {f"{n}.{f}": 0.0 for n in SPANS + tuple(extra_spans) + (ROOT,) for f in FIELDS}
        for f in ("stages", "unattributed_s", "output_records"):
            out[f"{ROOT}.{f}"] = 0.0
        out[f"{CORPUS}.output_records"] = 0.0
        every_interval = []
        for name, jobs, own in pieces:
            stages = {sid for j in jobs for sid in st.getJobInfo(j).stageIds}
            ran = [stage_rows[s] for s in stages if s in stage_rows]
            intervals = [interval(j) for j in jobs]
            every_interval += intervals
            vals = {
                "jobs": len(jobs),
                "tasks": sum(st.getStageInfo(s["stageId"]).numCompletedTasks for s in ran),
                "executor_s": sum(s["executorRunTime"] for s in ran) / 1000,
                "shuffle_mb": sum(s["shuffleWriteBytes"] for s in ran) / 1e6,
            }
            for f, v in vals.items():
                out[f"{ROOT}.{f}"] += v
            out[f"{ROOT}.stages"] += len(ran)
            written = sum(s["outputRecords"] for s in ran)
            out[f"{ROOT}.output_records"] += written
            if name.startswith(CORPUS):
                out[f"{CORPUS}.output_records"] += written
            if name == ROOT:
                out[f"{ROOT}.unattributed_s"] = own
                continue
            vals.update(s=own, driver_gap_s=max(0.0, own - _union_len(intervals)))
            for f, v in vals.items():
                out[f"{name}.{f}"] += v
        root = self.spans[0]
        out[f"{ROOT}.s"] = root["t1"] - root["t0"]
        out[f"{ROOT}.driver_gap_s"] = max(0.0, out[f"{ROOT}.s"] - _union_len(every_interval))
        return out
