"""Measurement plumbing shared by the workloads: the Spark session, the
closed-loop run record, the traced run's spans and Spark counters, and the
box record.

Everything here observes the system from outside. Times come from the
wall clock around calls into public entry points; job, stage and task
counts come from the public ``StatusTracker`` with one job group per
operation phase; shuffle bytes, executor run time and GC time come from
Spark's monitoring REST API (traced run only); CPU and RSS come from the
OS.
"""

from __future__ import annotations

import contextlib
import json
import os
import resource
import statistics
import sys
import time
import traceback
import urllib.request

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, traced: bool):
    """Build the system's session (``session.build_session``) as
    ``local[nproc]``, with every scratch path inside ``work``. Returns
    (spark, seconds taken)."""
    from d_sparq_spark.session import build_session

    spark_tmp = os.path.join(work, "spark")
    os.makedirs(spark_tmp, exist_ok=True)
    # the env var wins over spark.local.dir in local mode
    os.environ["SPARK_LOCAL_DIRS"] = spark_tmp
    # every JVM (spark-submit's launcher too) keeps its temp files in the
    # work dir and writes no hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={spark_tmp} -XX:-UsePerfData"
    conf = {
        "spark.local.dir": spark_tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        # the monitoring REST API is served by the UI; port 0 = any free port
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    t0 = time.perf_counter()
    spark = build_session(
        app_name="perfbench", master=f"local[{nproc()}]", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _proc_cpu_ms(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    # fields[11], fields[12] = utime, stime (stat fields 14 and 15)
    return (int(fields[11]) + int(fields[12])) * 1000.0 / _CLK_TCK


def _proc_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def driver_peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    return py + _proc_hwm_mb(jvm_pid(spark))


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def box_record(spark) -> dict:
    n = nproc()
    load = os.getloadavg()[0]
    return {
        "nproc": n,
        "_ticks0": _cpu_ticks(),
        "loadavg_1m_start": load,
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def finish_box(box: dict) -> dict:
    box["loadavg_1m_end"] = os.getloadavg()[0]
    steal0, total0 = box.pop("_ticks0")
    steal1, total1 = _cpu_ticks()
    # share of CPU time the hypervisor gave to other guests during the run
    box["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    half = box["nproc"] / 2
    box["loadavg_warning"] = max(box["loadavg_1m_start"], box["loadavg_1m_end"]) > half
    return box


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) of the data and metadata files under ``path``;
    Hadoop's hidden ``.crc`` side files are not counted."""
    files = nbytes = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith("."):
                continue
            files += 1
            nbytes += os.path.getsize(os.path.join(root, name))
    return files, nbytes


class Run:
    """What one closed-loop run measured: per-operation samples by kind,
    and the attempted/failed tally of every checked operation."""

    def __init__(self) -> None:
        self.samples: dict[str, list[dict]] = {}
        self.values: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def add(self, kind: str, **sample) -> None:
        self.samples.setdefault(kind, []).append(sample)

    def times(self, kind: str, key: str = "ms") -> list[float]:
        return [s[key] for s in self.samples.get(kind, [])]

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        """Count one checked operation; a wrong answer is reported on
        stderr and counted as failed, never dropped."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{what}: {detail}"[:500])
            print(f"perfbench: WRONG ANSWER {what}: {detail}"[:2000], file=sys.stderr)
        return ok

    def error(self, what: str) -> None:
        """Count one operation that raised; the traceback goes to stderr."""
        self.attempted += 1
        self.failed += 1
        self.failures.append(f"{what}: {traceback.format_exc().splitlines()[-1]}"[:500])
        print(f"perfbench: ERROR in {what}:\n{traceback.format_exc()}", file=sys.stderr)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class Tracer:
    """Spans and Spark counters for the traced run.

    Each span records its name, start, end, parent and attributes. Spans
    stay in memory and are written out by ``dump`` when the run ends. A
    phase that launches Spark work runs under its own job group, so the
    jobs it started can be read back from the StatusTracker afterwards.
    With ``enabled=False`` every method is a no-op and no job group is set.
    """

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._seq = 0
        self._load = None  # the open load_phases span, its open phase
        self._phase = None
        self._phase_cm = None
        self._pid = jvm_pid(spark) if enabled else None
        self._rest = None
        if enabled:
            url = self.sc.uiWebUrl
            if url:
                self._rest = f"{url}/api/v1/applications/{self.sc.applicationId}"

    # --- spans -----------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False, **attrs):
        """Open a span (child of the innermost open one). ``group=True``
        runs the span's Spark work under a job group of its own."""
        if not self.enabled:
            yield None
            return
        self._seq += 1
        sp = {
            "id": self._seq,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        if group:
            sp["group"] = f"perfbench-{self._seq}-{name}"
            self.sc.setJobGroup(sp["group"], name)
        sp["py_cpu0"] = time.process_time()
        sp["jvm_cpu0"] = _proc_cpu_ms(self._pid)
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            self._close(sp)

    def _close(self, sp: dict) -> None:
        sp["end"] = time.perf_counter()
        sp["py_cpu_ms"] = (time.process_time() - sp.pop("py_cpu0")) * 1000.0
        sp["jvm_cpu_ms"] = _proc_cpu_ms(self._pid) - sp.pop("jvm_cpu0")
        if self._stack and self._stack[-1] == sp["id"]:
            self._stack.pop()
        if "group" in sp:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            sp.update(self.spark_counts(sp["group"]))

    # --- load phases -----------------------------------------------------

    @contextlib.contextmanager
    def load_phases(self, name: str):
        """Span for one load call whose phases are attributed from
        outside: ``phase_entered`` (called by the wrapped load functions)
        closes the open phase and opens the next, each under its own job
        group, so the jobs a lazy phase's DataFrame triggers later are
        still counted in that phase."""
        if not self.enabled:
            yield None
            return
        with self.span(name) as load:
            load["phases"] = []
            self._load = load
            try:
                self.phase_entered("other")
                yield load
            finally:
                self._phase_cm.__exit__(None, None, None)
                self._load = self._phase = self._phase_cm = None

    def phase_entered(self, phase: str) -> None:
        if self._load is None or phase == self._phase:
            return
        if self._phase_cm is not None:
            self._phase_cm.__exit__(None, None, None)
        self._phase = phase
        self._phase_cm = self.span(f"{self._load['name']}.{phase}", group=True, phase=phase)
        sp = self._phase_cm.__enter__()
        self._load["phases"].append(sp["id"])

    # --- Spark counters ----------------------------------------------------

    def spark_counts(self, group: str) -> dict:
        """Jobs, stages and tasks of one job group from the StatusTracker,
        plus shuffle/run/GC totals from the REST API."""
        st = self.sc.statusTracker()
        jobs = sorted(st.getJobIdsForGroup(group))
        stage_ids: list[int] = []
        deadline = time.perf_counter() + 5.0
        for jid in jobs:
            # listener events arrive asynchronously: wait for the job's end
            while True:
                info = st.getJobInfo(jid)
                if info is None or info.status != "RUNNING" or time.perf_counter() > deadline:
                    break
                time.sleep(0.005)
            if info is not None:
                stage_ids.extend(info.stageIds)
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0,
               "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
               "executor_run_ms": 0, "gc_ms": 0}
        for sid in sorted(set(stage_ids)):
            info = st.getStageInfo(sid)
            if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
                continue  # skipped: its output was reused from an earlier job
            out["stages"] += 1
            out["tasks"] += info.numCompletedTasks
            out["failed_tasks"] += info.numFailedTasks
            for k, v in self._rest_stage(sid).items():
                out[k] += v
        return out

    def _rest_stage(self, sid: int) -> dict:
        if self._rest is None:
            return {}
        totals = {"shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                  "executor_run_ms": 0, "gc_ms": 0}
        deadline = time.perf_counter() + 5.0
        while True:
            with urllib.request.urlopen(f"{self._rest}/stages/{sid}", timeout=10) as r:
                attempts = json.load(r)
            if all(a.get("status") != "ACTIVE" for a in attempts) or time.perf_counter() > deadline:
                break
            time.sleep(0.01)
        for a in attempts:
            totals["shuffle_write_bytes"] += a.get("shuffleWriteBytes", 0)
            totals["shuffle_read_bytes"] += a.get("shuffleReadBytes", 0)
            totals["executor_run_ms"] += a.get("executorRunTime", 0)
            totals["gc_ms"] += a.get("jvmGcTime", 0)
        return totals

    # --- output ------------------------------------------------------------

    def self_times_ms(self) -> dict:
        """Total self time per span name: a span's duration minus the part
        of it its child spans cover."""
        child = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                child[sp["parent"]] = child.get(sp["parent"], 0.0) + (sp["end"] - sp["start"])
        out: dict[str, float] = {}
        for sp in self.spans:
            name = sp["name"]
            out[name] = out.get(name, 0.0) + 1000.0 * (
                sp["end"] - sp["start"] - child.get(sp["id"], 0.0)
            )
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


@contextlib.contextmanager
def wrapped_load_functions(tracer: Tracer):
    """Route the public functions load_pipeline calls through
    ``tracer.phase_entered`` for the duration of the block. Names imported
    into load_pipeline at module load are patched there; the ones it
    imports at call time are patched in their home modules."""
    if not tracer.enabled:
        yield
        return
    from d_sparq_spark import load_pipeline
    from d_sparq_spark.operators import dictionary
    from d_sparq_spark.sources import triple_store

    targets = [
        (load_pipeline, "parse_ntriples", "parse"),
        (load_pipeline, "build_dictionary", "dictionary"),
        (dictionary, "distinct_terms", "dictionary"),
        (dictionary, "extend_dictionary", "dictionary"),
        (load_pipeline, "encode_triples", "encode_write"),
        (triple_store, "write_vp", "encode_write"),
        (load_pipeline, "predicate_stats", "stats_layouts"),
    ]
    saved = []
    for mod, attr, phase in targets:
        fn = getattr(mod, attr)

        def wrapper(*a, _fn=fn, _phase=phase, **k):
            tracer.phase_entered(_phase)
            return _fn(*a, **k)

        saved.append((mod, attr, fn))
        setattr(mod, attr, wrapper)
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)
