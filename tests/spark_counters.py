"""Counters for what building a plan costs on the driver: the Spark jobs
it starts and the py4j round trips it makes."""

from __future__ import annotations

import itertools
from contextlib import contextmanager

import py4j.java_gateway as jg
from py4j.protocol import MEMORY_COMMAND_NAME

_GROUPS = itertools.count()


@contextmanager
def jobs_started(spark):
    """Yields a list that holds, on exit, the ids of the Spark jobs
    started inside the block."""
    sc = spark.sparkContext
    group = f"spark-counters-{next(_GROUPS)}"
    jobs: list[int] = []
    sc.setJobGroup(group, group, False)
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events arrive asynchronously
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


@contextmanager
def py4j_round_trips():
    """Yields a list that gets one entry, the command text, per
    driver→JVM round trip made inside the block (one
    `GatewayClient.send_command` call each). Releases of JVM references
    (py4j memory commands) are left out: Python's garbage collector
    sends them when it frees objects, whatever code made them."""
    calls: list[str] = []
    send = jg.GatewayClient.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith(MEMORY_COMMAND_NAME):
            calls.append(command)
        return send(self, command, *args, **kwargs)

    jg.GatewayClient.send_command = counting
    try:
        yield calls
    finally:
        jg.GatewayClient.send_command = send
