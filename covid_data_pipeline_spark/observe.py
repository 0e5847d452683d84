"""The one Spark-job counter: how many jobs a call started.

Jobs are attributed by job tag, so a count is exact whatever else the
session runs before or after the call, and read back from the
AppStatusStore, the store the Spark UI and event logs are built from.
"""

from __future__ import annotations

import time
import uuid


def spark_jobs(spark, fn):
    """``(fn(), number of Spark jobs fn started)``.

    The jobs ``fn`` submits carry a fresh tag. After ``fn`` returns, the
    listener bus is drained (the store learns of jobs from it) and the
    store is walked newest job first, stopping at the first job
    submitted before the call.
    """
    sc = spark.sparkContext
    tag = f"spark_jobs-{uuid.uuid4().hex}"
    start_ms = int(time.time() * 1000)
    sc.addJobTag(tag)
    try:
        out = fn()
    finally:
        sc.removeJobTag(tag)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    n = 0
    for i in range(jobs.size()):
        job = jobs.apply(i)
        submitted = job.submissionTime()
        if submitted.isDefined() and submitted.get().getTime() < start_ms:
            break
        if job.jobTags().contains(tag):
            n += 1
    return out, n
