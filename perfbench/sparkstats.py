"""Readings from Spark's own bookkeeping, taken from the driver.

Job ids come from the DAG scheduler's counter; stage metrics from the
application status store, which Spark keeps with the UI disabled. The
listener bus is drained before the store is read, so a job that has
returned is also complete in the store.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

#: physical-plan node names (first token of a tree line)
_PREFIX = r"^[\s:+\-|]*(?:\*\(\d+\)\s+)?"
_EXCHANGE = re.compile(_PREFIX + r"(?:Exchange|BroadcastExchange|ShuffleExchange)\b", re.M)
_SCAN = re.compile(
    _PREFIX + r"(?:FileScan|Scan|InMemoryTableScan|LocalTableScan|BatchScan)\b", re.M
)


class SparkProbe:
    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(60_000)

    def stage_totals(self, job_ids: range | list[int]) -> StageTotals:
        """Summed metrics of every stage attempt the given jobs ran."""
        store = self._sc.statusStore()
        out = StageTotals(jobs=len(job_ids))
        seen: set[int] = set()
        for jid in job_ids:
            it = store.job(jid).stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += st.numCompleteTasks()
                out.task_run_s += st.executorRunTime() / 1e3
                out.task_cpu_s += st.executorCpuTime() / 1e9
                out.gc_s += st.jvmGcTime() / 1e3
                out.shuffle_read_mb += st.shuffleReadBytes() / 2**20
                out.shuffle_write_mb += st.shuffleWriteBytes() / 2**20
                out.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        return out


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


def plan_counts(plan_text: str) -> tuple[int, int]:
    """(exchanges, scans) in a physical plan's tree string."""
    return len(_EXCHANGE.findall(plan_text)), len(_SCAN.findall(plan_text))
