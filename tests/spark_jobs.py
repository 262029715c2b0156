"""Test helpers that read what a block of code did to the SparkContext:
the jobs it started (from the status store) and the RDDs left persisted."""

from __future__ import annotations


def jobs_since(sc, first_job_id: int) -> list[tuple[int, str | None, str | None]]:
    """(job id, job group, description) of every job with id >= first_job_id,
    read from the status store once the listener bus has caught up."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()

    def opt(o):
        return o.get() if o.isDefined() else None

    listed = jsc.statusStore().jobsList(None)  # a Scala Seq
    jobs = (listed.apply(i) for i in range(listed.size()))
    return sorted(
        (j.jobId(), opt(j.jobGroup()), opt(j.description()))
        for j in jobs
        if j.jobId() >= first_job_id
    )


def next_job_id(sc) -> int:
    """The id the next job started on `sc` will get."""
    return max((j[0] for j in jobs_since(sc, 0)), default=-1) + 1


def persistent_rdd_ids(sc) -> set[int]:
    return set(sc._jsc.getPersistentRDDs().keys())
