"""Process plumbing shared by every workload: deployment settings, the
Spark session, the peak-RSS sampler, the span tracer and the Spark
event-log reader.

Nothing here imports pyspark at module load: ``Settings.export()`` must
set the environment (PYTHONPATH, SPARK_LOCAL_DIRS, TMPDIR, ...) before
the first pyspark import launches the driver JVM.
"""

from __future__ import annotations

import fnmatch
import glob
import json
import os
import statistics
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def program_present() -> bool:
    """The benchmark drives the program in its checkout; without it
    there is nothing to measure."""
    return os.path.isfile(
        os.path.join(ROOT, "edgar_crawler_spark", "session.py")
    ) and os.path.isfile(os.path.join(ROOT, "spark_submit_main.py"))


def machine_cpus() -> int:
    """Cores this process may run on (what ``nproc`` reports, without
    its OMP_NUM_THREADS override)."""
    return len(os.sched_getaffinity(0))


def physical_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def _mem_mb(spec: str) -> int:
    spec = spec.strip().lower()
    mult = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    if spec and spec[-1] in mult:
        return int(float(spec[:-1]) * mult[spec[-1]])
    return int(spec) // (1024 * 1024)  # bare number = bytes (JVM syntax)


class Settings:
    """Deployment settings, fitted to the machine at run time.

    * cores: ``SPARK_GRAFT_CPUS`` if set, clamped to the machine's cores;
      else every core (``local[nproc]``).
    * driver heap: ``SPARK_GRAFT_DRIVER_MEM`` if set, clamped to half of
      physical RAM; else 2g (the largest workload needs well under 1g).
    * scratch: ``SPARK_LOCAL_DIRS`` and TMPDIR point inside the
      benchmark's own work directory, so a run writes nothing outside
      its checkout.
    """

    def __init__(self, work: str):
        self.work = work
        n = machine_cpus()
        want = os.environ.get("SPARK_GRAFT_CPUS")
        self.cpus = max(1, min(int(want), n)) if want else n
        phys = physical_mem_mb()
        want_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        mem = _mem_mb(want_mem) if want_mem else 2048
        self.driver_mem_mb = max(512, min(mem, phys // 2))
        self.shuffle_partitions = 2 * self.cpus
        self.local_dirs = os.path.join(work, "spark-local")
        self.tmp = os.path.join(work, "tmp")

    def export(self) -> None:
        os.makedirs(self.local_dirs, exist_ok=True)
        os.makedirs(self.tmp, exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{self.driver_mem_mb}m"
        os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(self.shuffle_partitions)
        os.environ["SPARK_LOCAL_DIRS"] = self.local_dirs
        os.environ["TMPDIR"] = self.tmp
        # Python workers import the program from the checkout
        pp = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
        # numpy/BLAS inside workers: one thread each (Spark already runs
        # one worker per core)
        for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
            os.environ[var] = "1"

    def describe(self) -> dict:
        return {
            "master": f"local[{self.cpus}]",
            "machine_cpus": machine_cpus(),
            "driver_mem_mb": self.driver_mem_mb,
            "shuffle_partitions": self.shuffle_partitions,
        }


def start_session(settings: Settings, app: str, cpus: int | None = None, event_log: str | None = None):
    """The program's own session factory (``session.get_spark``) with the
    benchmark's deployment settings."""
    from edgar_crawler_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={settings.tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(settings.work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    n = cpus or settings.cpus
    return get_spark(app_name=app, master=f"local[{n}]", extra_conf=conf)


def stop_jvm() -> None:
    """Stop the driver JVM pyspark launched (it exits when its stdin
    closes) and wait for it, so no process outlives the run."""
    import sys

    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def median(xs):
    return statistics.median(xs) if xs else 0.0


# --------------------------------------------------------------------------
# peak resident memory of this process tree (driver Python, driver JVM,
# Python workers), sampled from /proc
# --------------------------------------------------------------------------


class RssSampler:
    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss(self) -> int:
        me = os.getpid()
        parent = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            # field 4 (ppid) follows the parenthesised command name
            parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree, frontier = {me}, [me]
        children: dict[int, list[int]] = {}
        for pid, pp in parent.items():
            children.setdefault(pp, []).append(pid)
        while frontier:
            p = frontier.pop()
            for c in children.get(p, ()):
                if c not in tree:
                    tree.add(c)
                    frontier.append(c)
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())
        return self.peak_bytes / (1024 * 1024)


# --------------------------------------------------------------------------
# span tracer: wraps public entry points of the program's modules for the
# duration of one traced job; each wrapped call also labels the Spark
# jobs it launches (job description), so the event log can attribute
# stage and task counters to layers
# --------------------------------------------------------------------------


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._next = 0

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self_):
                with tracer._lock:
                    self_.id = tracer._next
                    tracer._next += 1
                stack = tracer._stack()
                self_.parent = stack[-1] if stack else None
                stack.append(self_.id)
                sc = tracer.spark.sparkContext
                self_.prev_desc = sc.getLocalProperty("spark.job.description")
                sc.setJobDescription(name)
                self_.start = time.time()
                return self_

            def __exit__(self_, *exc):
                end = time.time()
                tracer._stack().pop()
                tracer.spark.sparkContext.setLocalProperty(
                    "spark.job.description", self_.prev_desc
                )
                with tracer._lock:
                    tracer.spans.append(
                        {
                            "id": self_.id,
                            "parent": self_.parent,
                            "name": name,
                            "start": self_.start,
                            "end": end,
                            "thread": threading.current_thread().name,
                        }
                    )
                return False

        return _Span()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until ``unwrap``."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        wrapped.__wrapped__ = orig
        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def span_cost(self, n: int = 200) -> float:
        """Seconds one span adds around a call: the median over ``n``
        empty spans (its job-description calls into the driver JVM
        included). The empty spans are not recorded."""
        keep, self.spans = self.spans, []
        costs = []
        for _ in range(n):
            t0 = time.perf_counter()
            with self.span("tracing.empty"):
                pass
            costs.append(time.perf_counter() - t0)
        self.spans = keep
        return statistics.median(costs)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f, indent=1)


# --------------------------------------------------------------------------
# Spark event log (written by the session when tracing; complete once the
# session has stopped)
# --------------------------------------------------------------------------


def _scope_names(stage_info: dict) -> set[str]:
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            try:
                names.add(json.loads(scope).get("name", ""))
            except ValueError:
                pass
    return names


class EventLog:
    """Per-stage facts from one application's event log: the job
    description that launched it, its operator scopes, wall time and the
    per-task counters."""

    def __init__(self, log_dir: str):
        files = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
        self.stages: dict[int, dict] = {}
        if not files:
            return
        stage_desc: dict[int, str | None] = {}
        with open(files[-1]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    for sid in ev.get("Stage IDs", []):
                        stage_desc[sid] = desc
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = self._stage(info["Stage ID"])
                    st["scopes"] = _scope_names(info)
                    sub, done = info.get("Submission Time"), info.get("Completion Time")
                    st["wall_s"] = (done - sub) / 1000.0 if sub and done else 0.0
                    st["submitted"] = (sub or 0) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    ti = ev.get("Task Info") or {}
                    st = self._stage(ev["Stage ID"])
                    st["tasks"].append(
                        {
                            "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                            "dur_s": (ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1000.0,
                            "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                            "shuffle_write": (tm.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            "spill": tm.get("Memory Bytes Spilled", 0)
                            + tm.get("Disk Bytes Spilled", 0),
                        }
                    )
        for sid, st in self.stages.items():
            st["desc"] = stage_desc.get(sid)

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(
            sid,
            {"id": sid, "tasks": [], "scopes": set(), "wall_s": 0.0, "submitted": 0.0, "desc": None},
        )

    def select(self, window: tuple[float, float]) -> list[dict]:
        """Stages submitted inside the wall-clock window of one job."""
        lo, hi = window
        return [st for st in self.stages.values() if lo <= st["submitted"] <= hi]

    @staticmethod
    def _stage_skews(stages: list[dict]) -> list[float]:
        """max/median task time of each stage with at least two tasks."""
        ratios = []
        for st in stages:
            ds = [t["dur_s"] for t in st["tasks"]]
            if len(ds) >= 2:
                med = statistics.median(ds)
                ratios.append(max(ds) / med if med > 0 else 1.0)
        return ratios

    @classmethod
    def task_skew(cls, stages: list[dict]) -> float:
        """Mean over stages (with ≥2 tasks) of max/median task time."""
        ratios = cls._stage_skews(stages)
        return statistics.mean(ratios) if ratios else 1.0

    @classmethod
    def counters(cls, stages: list[dict]) -> dict:
        tasks = [t for st in stages for t in st["tasks"]]
        per_stage = cls._stage_skews(stages)
        return {
            "spark.shuffle_write_bytes": float(sum(t["shuffle_write"] for t in tasks)),
            "spark.spill_bytes": float(sum(t["spill"] for t in tasks)),
            "spark.gc_s": sum(t["gc_s"] for t in tasks),
            "spark.tasks": float(len(tasks)),
            "spark.task_skew_max": max(per_stage) if per_stage else 1.0,
        }


def dir_stats(path: str, pattern: str = "*") -> tuple[int, int]:
    """(files, bytes) under ``path`` matching ``pattern`` (recursive)."""
    n = b = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if fnmatch.fnmatch(f, pattern):
                n += 1
                b += os.path.getsize(os.path.join(dirpath, f))
    return n, b
