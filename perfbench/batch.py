"""The batch workload: a fixed slate of registry queries, run in whole
passes (query order shuffled by the seed within each pass) until the
run's measuring time is used up. The shared-frame memo is cleared
before every query, so each query pays its full cost whatever ran
before it."""

from __future__ import annotations

import random
import re
import time
from dataclasses import dataclass, field

from stats import median, tail
from spans import SparkStatus, Tracer, parse_spark_time

#: Plan nodes that cross the JVM/Python boundary (Arrow or pandas UDFs).
PYTHON_NODE = re.compile(r"ArrowEvalPython|BatchEvalPython|InPandas|InArrow|ArrowWindowPython|PythonUDTF")


#: The lakehouse_batch slate: every layer of the batch side, sized so
#: one warm pass takes 7–13 s on 4 cores (see README.md for what was cut).
SLATE = (
    # silver cleansing, joins, gold star schema, data quality
    "q_clean_filter", "q_star_join", "q_fact_orders", "q_dq_fk_orphans",
    # data-bound witnesses: scan volume and join volume
    "q_scale_probe_scan", "q_scale_probe_join",
    # fraud model: GBT training (an eager, driver-iterative plan build)
    "q_gbt_train",
    # corpus tier: multimodal decode through an Arrow-Python UDF
    "q_multimodal_decode",
)
#: Set-up warm-up: one query outside the slate that starts the Python workers.
WARMUP = ("q_multimodal_resize",)
#: Slate ids whose plan-build phase is a model trainer's eager descent.
TRAINERS = ("q_gbt_train",)


@dataclass
class QueryRun:
    name: str
    pass_no: int
    traced: bool
    start: float
    built: float = 0.0
    end: float = 0.0
    ok: bool = False
    error: str = ""
    python_plan: bool = False

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class BatchResult:
    runs: list[QueryRun] = field(default_factory=list)
    pass_walls: list[tuple[bool, float]] = field(default_factory=list)  # (traced, wall)
    outputs: dict = field(default_factory=dict)  # query → pandas output of the first pass


def run_query(spark, qs, name: str, data_dir: str, pass_no: int, traced: bool, keep: dict) -> QueryRun:
    sc = spark.sparkContext
    r = QueryRun(name, pass_no, traced, time.time())
    try:
        if traced:
            sc.setJobGroup(f"{pass_no}:{name}:build", name)
        df = qs[name](spark, data_dir)
        r.built = time.time()
        if traced:
            sc.setJobGroup(f"{pass_no}:{name}:exec", name)
        out = df.toPandas()
        r.end = time.time()
        r.ok = True
        if traced:
            r.python_plan = bool(PYTHON_NODE.search(df._jdf.queryExecution().executedPlan().toString()))
        keep.setdefault(name, out)
    except Exception as e:  # counted as a failed operation, never skipped
        r.end = time.time()
        r.built = r.built or r.end
        r.error = f"{type(e).__name__}: {str(e).splitlines()[0][:200] if str(e) else ''}"
    finally:
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
    return r


def run_batch(spark, data_dir: str, seed: int, seconds: float, trace: bool) -> BatchResult:
    """Whole passes until ``seconds`` have elapsed (at least one). In a
    traced run, passes alternate untraced/traced (at least one of each)
    so the tracing overhead is measured in the same run."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans import registry
    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.shared_frames import clear_cache

    qs = registry.all_queries()
    rng = random.Random(seed)
    res = BatchResult()
    t_begin = time.perf_counter()
    pass_no = 0
    while True:
        traced = trace and pass_no % 2 == 1
        order = list(SLATE)
        rng.shuffle(order)
        p0 = time.perf_counter()
        for name in order:
            clear_cache()
            res.runs.append(run_query(spark, qs, name, data_dir, pass_no, traced, res.outputs))
        res.pass_walls.append((traced, time.perf_counter() - p0))
        pass_no += 1
        enough = time.perf_counter() - t_begin >= seconds
        if enough and (not trace or pass_no >= 2):
            break
    clear_cache()
    return res


def end_to_end(res: BatchResult) -> dict:
    """A query's latency is its median over the untraced passes; the
    percentiles run over the slate's queries."""
    walls = [w for traced, w in res.pass_walls if not traced]
    per_query: dict[str, list[float]] = {}
    for r in res.runs:
        if r.ok and not r.traced:
            per_query.setdefault(r.name, []).append(r.wall)
    lat = [median(v) for v in per_query.values()]
    value, pct, n = tail(lat)
    return {
        "slate_wall_s": median(walls),
        "latency_p50_s": median(lat),
        "latency_tail_s": value,
        "_tail_pct": pct,
        "_samples": n,
        "_pass_walls_s": [round(w, 3) for w in walls],
    }


def per_layer(res: BatchResult, status: SparkStatus, tracer: Tracer, nproc: int) -> dict:
    """Layer counters over the traced passes, from the REST job list
    (grouped by the job group each query phase ran under) and the
    stage metrics of those jobs. Builds the span tree as it goes."""
    traced = [r for r in res.runs if r.traced]
    jobs = [j for j in status.jobs() if j.get("jobGroup")]
    stages = status.stages()
    by_group: dict[str, list[dict]] = {}
    for j in jobs:
        by_group.setdefault(j["jobGroup"], []).append(j)

    run_span = tracer.add("run:lakehouse_batch", min(r.start for r in traced), max(r.end for r in traced))
    m = dict.fromkeys((
        "plans.build_s", "plans.exec_s", "plans.build_jobs", "plans.exec_jobs", "plans.stages",
        "plans.tasks", "plans.shuffle_read_bytes", "plans.shuffle_write_bytes", "plans.spill_bytes",
        "plans.failed_tasks", "sources.input_bytes", "sources.input_records", "sources.scan_run_s",
        "ext.train_build_s", "ext.train_jobs", "ext.python_exec_s", "ext.python_queries",
    ), 0.0)
    run_ms = 0.0
    for r in traced:
        q = tracer.add(f"query:{r.name}", r.start, r.end, run_span, ok=r.ok, error=r.error)
        for phase, s, e in (("build", r.start, r.built), ("exec", r.built, r.end)):
            ph = tracer.add(phase, s, e, q)
            m[f"plans.{phase}_s"] += e - s
            group_jobs = by_group.get(f"{r.pass_no}:{r.name}:{phase}", [])
            m[f"plans.{phase}_jobs"] += len(group_jobs)
            if phase == "build" and r.name in TRAINERS:
                m["ext.train_build_s"] += e - s
                m["ext.train_jobs"] += len(group_jobs)
            for j in group_jobs:
                if j.get("submissionTime") and j.get("completionTime"):
                    tracer.add(f"job:{j['jobId']}", parse_spark_time(j["submissionTime"]),
                               parse_spark_time(j["completionTime"]), ph, status=j["status"])
                for sid in j["stageIds"]:
                    st = stages.get(sid)
                    if st is None:
                        continue  # skipped stage: its output was reused
                    m["plans.stages"] += 1
                    m["plans.tasks"] += st["numTasks"]
                    m["plans.failed_tasks"] += st["numFailedTasks"]
                    m["plans.shuffle_read_bytes"] += st["shuffleReadBytes"]
                    m["plans.shuffle_write_bytes"] += st["shuffleWriteBytes"]
                    m["plans.spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                    run_ms += st["executorRunTime"]
                    if st["inputBytes"] > 0:
                        m["sources.input_bytes"] += st["inputBytes"]
                        m["sources.input_records"] += st["inputRecords"]
                        m["sources.scan_run_s"] += st["executorRunTime"] / 1000.0
        if r.python_plan:
            m["ext.python_queries"] += 1
            m["ext.python_exec_s"] += r.end - r.built
    traced_wall = sum(w for t, w in res.pass_walls if t)
    untraced_wall = median([w for t, w in res.pass_walls if not t])
    m["plans.task_busy_share"] = run_ms / 1000.0 / (traced_wall * nproc)
    m["ext.jobs_per_s"] = m["ext.train_jobs"] / m["ext.train_build_s"] if m["ext.train_build_s"] else 0.0
    m["bench.trace_overhead_s"] = median([w for t, w in res.pass_walls if t]) - untraced_wall
    return m
