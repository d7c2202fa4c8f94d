"""Run environment for one benchmark run: host-fitted Spark settings, a
private work directory inside the checkout, and the host probes
(JVM high-water RSS, free temp space, the CPU noise control)."""

from __future__ import annotations

import os
import shutil

GIB = 1 << 30


def nproc() -> int:
    """CPUs this process may run on (what `nproc` prints)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class RunDir:
    """A private directory under ``<checkout>/.perfbench_work`` holding
    everything one run writes: Spark local dirs (blockmgr-*), temp files,
    the event log, generated inputs and checkpoint warehouses. Removed
    when the run ends, so no run sees another run's leftovers.

    ``heap`` is the Spark heap for local mode (the engine's own default,
    32g, is larger than many hosts' RAM). It is committed and touched up
    front (-Xms, AlwaysPreTouch) so the JVM's resident high-water mark
    does not depend on when G1 chose to grow it (with a growable 3g heap
    it read 1.2-1.9 GB run to run)."""

    def __init__(self, checkout: str, workload: str, seed: int, heap: str):
        self.heap = heap
        base = os.path.join(checkout, ".perfbench_work")
        self.path = os.path.join(base, f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("local", "tmp", "events", "data"):
            os.makedirs(os.path.join(self.path, sub))

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def fit_env(self) -> None:
        """Point Spark and Python at this run's directories and size the
        session to the host. Must run before pyspark starts a JVM."""
        os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = self.heap
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("local")
        os.environ["TMPDIR"] = self.sub("tmp")
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    def spark_conf(self, trace: bool) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.sub("tmp", "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.sub('tmp')} -XX:-UsePerfData "
                f"-Xms{self.heap} -XX:+AlwaysPreTouch"
            ),
        }
        if trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + self.sub("events"),
            })
        return conf

    def event_log(self) -> str | None:
        names = sorted(os.listdir(self.sub("events")))
        return self.sub("events", names[-1]) if names else None

    def tmp_free_gb(self) -> float:
        return shutil.disk_usage(self.path).free / GIB

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        try:
            os.rmdir(parent)  # only when no other run is using it
        except OSError:
            pass


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int) -> float:
    """High-water resident memory of a process (VmHWM), in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all
    CPUs since boot (the `steal` column of /proc/stat). Its growth over a
    run shows a noisy-neighbour window that a single-threaded control can
    miss."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def cpu_control_s() -> float:
    """The frozen harness's machine-noise control (bench.py), imported,
    not copied, so both harnesses read the host the same way."""
    import bench

    return float(bench._cpu_control_sec())


def stop_jvm(spark) -> None:
    """Stop the session, then end the gateway JVM pyspark launched and
    wait for it: the run must leave no process behind."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
    if proc is None:
        return
    try:
        proc.stdin.close()  # the JVM exits when its stdin closes
    except Exception:
        pass
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
