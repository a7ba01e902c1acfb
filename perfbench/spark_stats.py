"""Numbers read from outside the engine: Spark's status store and the
JVM's /proc entry."""

from __future__ import annotations

from py4j.protocol import Py4JJavaError


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _opt(o):
    return o.get() if o.isDefined() else None


def drain_listeners(spark) -> None:
    """Wait until the status store has seen every finished stage."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def stage_totals(spark, groups: set[str] | None = None, after_stage: int = -1) -> dict[str, dict[str, float]]:
    """Sum completed-stage metrics per job group.

    Only stages with id > ``after_stage`` count; with ``groups`` given,
    only jobs in those groups. Stage metrics are summed over the stage
    ids each job lists, so a stage shared by two jobs counts once."""
    drain_listeners(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    jvm = spark._jvm
    empty = jvm.java.util.ArrayList()
    stage_group: dict[int, str] = {}
    jobs = store.jobsList(empty)
    for i in range(jobs.size()):
        job = jobs.apply(i)
        group = _opt(job.jobGroup()) or ""
        if groups is not None and group not in groups:
            continue
        ids = job.stageIds()
        for k in range(ids.size()):
            sid = int(ids.apply(k))
            if sid > after_stage:
                stage_group.setdefault(sid, group)
    out: dict[str, dict[str, float]] = {}
    for sid, group in sorted(stage_group.items()):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage AQE skipped is never attempted
            continue
        if str(st.status().toString()) != "COMPLETE":
            continue
        acc = out.setdefault(
            group,
            {"stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0},
        )
        acc["stages"] += 1
        acc["tasks"] += int(st.numCompleteTasks())
        acc["run_s"] += int(st.executorRunTime()) / 1e3
        acc["cpu_s"] += int(st.executorCpuTime()) / 1e9
        acc["shuffle_write_mb"] += int(st.shuffleWriteBytes()) / 1e6
        acc["spill_mb"] += (int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())) / 1e6
    return out


def last_stage_id(spark) -> int:
    """Highest stage id any job has used so far."""
    drain_listeners(spark)
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(spark._jvm.java.util.ArrayList())
    top = -1
    for i in range(jobs.size()):
        ids = jobs.apply(i).stageIds()
        for k in range(ids.size()):
            top = max(top, int(ids.apply(k)))
    return top

