"""Process counters read from outside the engine.

* JVM garbage-collection time and count: the JMX GC beans via ``spark._jvm``.
* Spark jobs, tasks and failed tasks per operation: the operation runs under
  a job group (``setJobGroup``) and ``statusTracker`` lists its jobs.
  A streaming drain runs its jobs under the query's run id instead.
* Peak memory: the JVM's ``VmHWM`` from ``/proc/<jvm pid>/status`` plus the
  Python driver's peak RSS.
"""

from __future__ import annotations

import os
import resource


def process_uptime_s() -> float:
    """Seconds since this process started (``/proc/self/stat`` start time;
    an ``exec`` keeps the pid and the start time)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def loadavg_1m() -> float:
    return os.getloadavg()[0]


class Counters:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        self.jobs = 0
        self.tasks = 0
        self.failed_tasks = 0

    def gc(self) -> tuple[float, int]:
        """(total GC seconds, total collections) over every JVM collector."""
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        ms = count = 0
        for b in beans:
            ms += max(int(b.getCollectionTime()), 0)
            count += max(int(b.getCollectionCount()), 0)
        return ms / 1000.0, count

    def peak_rss_mb(self) -> float:
        jvm_kb = 0
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    def job_group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def collect_group(self, name: str) -> tuple[int, int, int]:
        """Add the jobs, tasks and failed tasks of job group ``name`` to the
        running totals; returns this group's (jobs, tasks, failed)."""
        st = self.sc.statusTracker()
        jobs = tasks = failed = 0
        for jid in st.getJobIdsForGroup(name):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numTasks
                    failed += stage.numFailedTasks
        self.jobs += jobs
        self.tasks += tasks
        self.failed_tasks += failed
        return jobs, tasks, failed
