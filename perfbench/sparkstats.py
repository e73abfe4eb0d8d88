"""Per-stage and per-task records from Spark's status store.

Reads the same headless ``AppStatusStore`` that
``lineage.executor_stage_totals`` reads (no web UI needed). A snapshot
before and after a call gives the stages that call ran.
"""

from __future__ import annotations

import statistics


def _opt(o):
    return o.get() if o.isDefined() else None


def _drain(spark) -> None:
    # the store is fed by the asynchronous listener bus
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)


def _store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def stage_keys(spark) -> set[tuple[int, int]]:
    _drain(spark)
    return {(s["stage"], s["attempt"]) for s in stages(spark)}


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def stages(spark, skip=frozenset(), graph: bool = False) -> list[dict]:
    """Stage records, less the (stage, attempt) keys in ``skip``. With
    ``graph`` each also holds the RDDs it ran (``rdds``) and the RDDs of
    earlier stages it reads through a shuffle (``from_rdds``, the
    incoming edges of its operation graph): the store keeps no stage
    parents, so these link a stage to the stages that fed it."""
    sc = spark.sparkContext
    jvm, gw = sc._jvm, sc._gateway
    store = _store(spark)
    lst = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    out = []
    for st in _seq(lst):
        if (st.stageId(), st.attemptId()) in skip:
            continue
        sub, done = _opt(st.submissionTime()), _opt(st.completionTime())
        rec = {
            "stage": st.stageId(),
            "attempt": st.attemptId(),
            "start": sub.getTime() / 1e3 if sub is not None else None,
            "end": done.getTime() / 1e3 if done is not None else None,
            "core_s": st.executorRunTime() / 1e3,
            "input_records": st.inputRecords(),
            "output_mb": st.outputBytes() / 1e6,
            "shuffle_read_mb": st.shuffleReadBytes() / 1e6,
            "shuffle_write_mb": st.shuffleWriteBytes() / 1e6,
            "tasks": st.numTasks(),
        }
        if graph:
            edges = store.operationGraphForStage(st.stageId()).incomingEdges()
            rec["rdds"] = _seq(st.rddIds())
            rec["from_rdds"] = [e.fromId() for e in _seq(edges)]
        out.append(rec)
    return out


def new_stages(spark, before: set[tuple[int, int]]) -> list[dict]:
    _drain(spark)
    got = stages(spark, skip=before, graph=True)
    return sorted(got, key=lambda s: (s["start"] or 0.0, s["stage"]))


def feeders(stage_recs: list[dict], consumers: list[dict]) -> list[dict]:
    """The stages whose shuffle output the ``consumers`` read."""
    wanted = {r for c in consumers for r in c["from_rdds"]}
    return [s for s in stage_recs if wanted & set(s["rdds"])]


def task_run_s(spark, stage: dict) -> list[float]:
    seq = _store(spark).taskList(stage["stage"], stage["attempt"], 100_000)
    out = []
    for i in range(seq.size()):
        m = _opt(seq.apply(i).taskMetrics())
        if m is not None:
            out.append(m.executorRunTime() / 1e3)
    return out


def task_skew(spark, stage: dict | None) -> float:
    """max ÷ median task run time of one stage (1.0 when even)."""
    runs = task_run_s(spark, stage) if stage is not None else []
    med = statistics.median(runs) if runs else 0.0
    return max(runs) / med if med > 0 else 0.0


def job_count(spark) -> int:
    _drain(spark)
    return _store(spark).jobsList(None).size()


def heap_used_mb(spark):
    """A probe for ``procstat.Sampler``: the driver JVM's used heap."""
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()

    def probe() -> float:
        return (rt.totalMemory() - rt.freeMemory()) / 1e6

    return probe
