"""Starting the process under test: one JVM running perfbench.Launch."""

import json
import os
import subprocess
import time

# what spark-submit adds for Spark 4 on JDK 17 (the same list build.sbt forks with)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
# a fixed young generation keeps the collector from resizing the heap by
# pause timing, so peak RSS depends on the work rather than on the host
HEAP, YOUNG = "3g", "768m"
TIMEOUT_S = 150
_started = []


def cpus():
    return str(len(os.sched_getaffinity(0)))


def proc_cpu_s(pid):
    """CPU seconds a live process has used, all threads (utime + stime)."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def steal_s():
    """Seconds the host has held this machine's CPUs from it (all CPUs)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class Launch:
    """One finished launch: its report plus the spawn time (epoch ms)."""

    def __init__(self, spawn_ms, report, log):
        self.spawn_ms = spawn_ms
        self.report = report
        self.log = log

    @property
    def setup_wall_s(self):
        return (self.report["ready_ms"] - self.spawn_ms) / 1000.0

    @property
    def setup_cpu_s(self):
        return self.report["ready_cpu_ms"] / 1000.0

    @property
    def rss_mb(self):
        return self.report["rss_peak_kb"] / 1024.0


def start(classpath, work, args, trace, cpus_=None):
    """Spawn a launch; returns (Popen, spawn_ms, report path, log path)."""
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    report = os.path.join(work, "report.json")
    log = os.path.join(work, "launch.log")
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus_ or cpus(),
               SPARK_LOCAL_DIRS=tmp)
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    cmd = ["java", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", f"-Djava.io.tmpdir={tmp}",
           "-Dio.netty.tryReflectionSetAccessible=true",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    if trace:
        cmd += ["-Dspark.extraListeners=perfbench.TaskTrace",
                "-Dspark.sql.streaming.streamingQueryListeners=perfbench.QueryTrace"]
    cmd += ["-cp", ":".join(classpath), "perfbench.Launch", report] + args
    logf = open(log, "w")
    spawn_ms = time.time() * 1000.0
    proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, env=env)
    logf.close()
    _started.append(proc)
    return proc, spawn_ms, report, log


def stop_all():
    """Kill every launch still running and wait for it to end."""
    for proc in _started:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def finish(proc, spawn_ms, report, log, timeout=TIMEOUT_S):
    """Wait for the launch; raise with the log tail if it failed."""
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = "timeout"
    if rc != 0 or not os.path.exists(report):
        with open(log) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"launch failed ({rc}):\n{tail}")
    with open(report) as f:
        return Launch(spawn_ms, json.load(f), log)


def run(classpath, work, args, trace, cpus_=None):
    return finish(*start(classpath, work, args, trace, cpus_))
