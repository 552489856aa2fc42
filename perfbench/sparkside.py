"""Spark-side measurement: session set-up, process-tree memory, the
local status REST API, and spans around the pipeline's commit calls.

Nothing here changes what the program computes. The wrappers are
installed only for the traced job call and restored afterwards.
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager

CORES = 4
MASTER = f"local[{CORES}]"


def configure_env(work: str) -> None:
    """Pin the session to local[4], run its Python workers with this
    interpreter, and keep every scratch file Spark and its Python workers
    write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
              "SPARK_GRAFT_DRIVER_MEM", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(k, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # the Python workers run this interpreter, whose packages (pyarrow,
    # pandas, numpy) the job needs, whatever python3 PATH finds first
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: no hsperfdata file, which HotSpot puts in /tmp
    # whatever java.io.tmpdir says
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    )


def start_session():
    """``session.get_spark`` plus one pass that forks a Python worker per
    core and imports numpy and pandas in it: what every job launch pays
    before its first document. Returns (spark, get_spark_s, warmup_s)."""
    from pdf_parser_spark.session import get_spark

    # nested, so it is pickled by value: workers cannot import this file
    def warm(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from batches

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=MASTER)
    t1 = time.perf_counter()
    spark.range(0, CORES, 1, CORES).mapInPandas(warm, "id long").count()
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t1 - t0, t2 - t1


def stop_session(spark, timeout: float = 120.0) -> None:
    """Stop the session, end its JVM and wait until the JVM and every
    Python worker it started have exited. Closing the JVM's stdin is the
    gateway's exit signal; the workers exit when the JVM does."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    tree = descendants(jvm_pid())
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=timeout)
    SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in tree):
        if time.monotonic() > deadline:
            raise TimeoutError(f"processes still running: {tree}")
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2 :][:1] != b"Z"


# ------------------------------------------------------------------ memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # the command name may hold spaces: fields resume after ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children()
    out: list[int] = []
    todo = list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


def tree_memory_bytes(root: int, jvm: int) -> int:
    """Resident memory of ``root`` and its descendants. Python processes
    count their proportional set size, which splits the pages a forked
    Python worker shares with its parent instead of counting them once per
    worker. The JVM shares next to nothing, so its plain resident size is
    read instead (a proportional read walks its multi-GB heap, ~0.1 s)."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            total += _rss_bytes(pid) if pid == jvm else _pss_bytes(pid)
        except OSError:
            pass  # exited since the scan
    return total


class MemorySampler:
    """Samples the resident memory of this process and its descendants
    (the JVM ``jvm`` and its Python workers) every ``period`` seconds.
    ``take()`` returns the samples since the previous ``take()``."""

    def __init__(self, jvm: int, period: float = 0.1):
        self.jvm = jvm
        self.period = period
        self._samples: list[int] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        size = tree_memory_bytes(os.getpid(), self.jvm)
        with self._lock:
            self._samples.append(size)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def take(self) -> list[int]:
        self._sample()
        with self._lock:
            out, self._samples = self._samples, []
        return out

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid  # noqa: SLF001


# --------------------------------------------------------------- REST API

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3,
          "TiB": 1024**4, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(value: str) -> float:
    """A SQL metric value as bytes, seconds or a count: '161.0 MiB',
    '8.8 s', '4,000', or 'total (min, med, max ...)\\n22.4 s (...)'."""
    if value.startswith("total"):
        value = value.split("\n", 1)[1]
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", value)
    if m is None:
        raise ValueError(f"unparsed SQL metric {value!r}")
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1.0)


class Rest:
    """Reads the application's status REST API on the local UI port."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (
            f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        )

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def last_ids(self) -> tuple[int, int]:
        sql = self.get("sql?offset=0&length=100000")
        jobs = self.get("jobs")
        return (
            max((e["id"] for e in sql), default=-1),
            max((j["jobId"] for j in jobs), default=-1),
        )

    def since(self, marks: tuple[int, int]):
        """SQL executions and jobs started after ``marks``."""
        sql_mark, job_mark = marks
        sql = [
            e for e in self.get(
                "sql?details=true&planDescription=true&offset=0&length=100000"
            )
            if e["id"] > sql_mark
        ]
        jobs = [j for j in self.get("jobs") if j["jobId"] > job_mark]
        return sql, jobs


def _node_metrics(node) -> dict[str, float]:
    return {m["name"]: parse_metric(m["value"]) for m in node["metrics"]}


# SQL plan nodes of the execution that writes ``extracted`` (matched by
# name prefix) and the metrics read from each
_NODES = {
    "MapInPandas": ("time to run Python workers", "time to start Python workers",
                    "time to initialize Python workers",
                    "data sent to Python workers", "data returned from Python workers"),
    "Scan parquet": ("scan time", "size of files read"),
    "Exchange": ("data size", "shuffle records written"),
    "Execute InsertIntoHadoopFsRelationCommand": ("written output",
                                                  "number of written files"),
}


def spark_layers(rest: Rest, sql, jobs, wall_s: float) -> dict[str, float]:
    """Map one job call's SQL node metrics and stage data onto the
    ``operators.extract_stage``, ``sources.io`` and ``pipeline`` names.
    Raises if the call has no execution that wrote the ``extracted``
    table, or that execution lacks a node or metric read here: a renamed
    table or a changed plan must not read as zero cost."""
    out = {
        "operators.extract_stage.python_run_s": 0.0,
        "operators.extract_stage.python_start_s": 0.0,
        "operators.extract_stage.python_init_s": 0.0,
        "operators.extract_stage.sent_mb": 0.0,
        "operators.extract_stage.returned_mb": 0.0,
        "operators.extract_stage.gc_s": 0.0,
        "sources.io.scan_s": 0.0,
        "sources.io.scan_mb": 0.0,
        "sources.io.write_mb": 0.0,
        "sources.io.write_files": 0.0,
        "pipeline.exchange_mb": 0.0,
        "pipeline.exchange_records": 0.0,
        "pipeline.task_skew": 0.0,
        "pipeline.core_busy_frac": 0.0,
    }
    stage_jobs: set[int] = set()
    seen: set[str] = set()
    for e in sql:
        if written_dir(e) != "extracted":
            continue  # lineage read-backs and appends, curation stages
        seen.add("extracted")
        stage_jobs.update(e.get("successJobIds", []))
        for n in e.get("nodes", []):
            name = n["nodeName"]
            kind = next((k for k in _NODES if name.startswith(k)), None)
            if kind is None:
                continue
            m = _node_metrics(n)
            missing = [k for k in _NODES[kind] if k not in m]
            if missing:
                raise RuntimeError(f"{name} node has no metrics {missing}")
            seen.add(kind)
            if kind == "MapInPandas":
                out["operators.extract_stage.python_run_s"] += m["time to run Python workers"]
                out["operators.extract_stage.python_start_s"] += m["time to start Python workers"]
                out["operators.extract_stage.python_init_s"] += m["time to initialize Python workers"]
                out["operators.extract_stage.sent_mb"] += m["data sent to Python workers"] / 2**20
                out["operators.extract_stage.returned_mb"] += m["data returned from Python workers"] / 2**20
            elif kind == "Scan parquet":
                out["sources.io.scan_s"] += m["scan time"]
                out["sources.io.scan_mb"] += m["size of files read"] / 2**20
            elif kind == "Exchange":
                out["pipeline.exchange_mb"] += m["data size"] / 2**20
                out["pipeline.exchange_records"] += m["shuffle records written"]
            else:
                out["sources.io.write_mb"] += m["written output"] / 2**20
                out["sources.io.write_files"] += m["number of written files"]
    missing = sorted({"extracted", *_NODES} - seen)
    if missing:
        raise RuntimeError(f"the job call's SQL executions lack {missing}")

    stage_ids = {s for j in jobs for s in j["stageIds"]}
    run_ms = 0.0
    skew_stage = None
    for s in rest.get("stages"):
        if s["stageId"] not in stage_ids or s["status"] != "COMPLETE":
            continue
        run_ms += s["executorRunTime"]
        owner = [j for j in jobs if s["stageId"] in j["stageIds"]]
        if any(j["jobId"] in stage_jobs for j in owner) and s["outputBytes"] > 0:
            # the post-exchange stage that runs the Python kernels and
            # writes the files
            out["operators.extract_stage.gc_s"] += s["jvmGcTime"] / 1000
            if skew_stage is None or s["executorRunTime"] > skew_stage["executorRunTime"]:
                skew_stage = s
    if skew_stage is None:
        raise RuntimeError("no completed stage wrote the extracted table")
    q = rest.get(
        f"stages/{skew_stage['stageId']}/{skew_stage['attemptId']}"
        "/taskSummary?quantiles=0.5,1.0"
    )["executorRunTime"]
    out["pipeline.task_skew"] = q[1] / q[0] if q[0] > 0 else 0.0
    out["pipeline.core_busy_frac"] = run_ms / 1000 / (wall_s * CORES)
    return out


_WRITE_PATH = re.compile(
    r"\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n"
    r"Input: [^\n]*\nArguments: file:([^,\n]+),"
)


def written_dir(execution) -> str | None:
    """Base name of the directory a SQL execution wrote, if it wrote one."""
    m = _WRITE_PATH.search(execution.get("planDescription", ""))
    return os.path.basename(m.group(1).rstrip("/")) if m else None


def write_seconds_by_dir(sql) -> dict[str, float]:
    """Duration of the SQL executions that wrote each parquet directory,
    keyed by the directory's base name."""
    out: dict[str, float] = {}
    for e in sql:
        name = written_dir(e)
        if name is not None:
            out[name] = out.get(name, 0.0) + e["duration"] / 1000
    return out


# ------------------------------------------------------- pipeline spans


@contextmanager
def commit_spans():
    """Time ``TableIO.overwrite_partitions`` (a wave's data commit),
    ``TableIO.append`` (its lineage rows) and ``pipeline.done_parts`` (the
    resume anti-join's input) while the block runs. Yields the span list:
    (name, start, end)."""
    from pdf_parser_spark import pipeline
    from pdf_parser_spark.sources import io

    spans: list[tuple[str, float, float]] = []

    def timed(name, fn):
        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                spans.append((name, t0, time.perf_counter()))

        return wrapper

    saved = (io.TableIO.overwrite_partitions, io.TableIO.append,
             pipeline.done_parts)
    io.TableIO.overwrite_partitions = timed("overwrite", saved[0])
    io.TableIO.append = timed("append", saved[1])
    pipeline.done_parts = timed("done_parts", saved[2])
    try:
        yield spans
    finally:
        (io.TableIO.overwrite_partitions, io.TableIO.append,
         pipeline.done_parts) = saved


def commit_layers(spans) -> dict[str, float]:
    """pipeline.waves / wave_s (data commits), lineage_s (from each
    commit's end to the end of its lineage append: read-back, collect and
    append), done_parts_s, and sources.io.append_s."""
    def total(name):
        return sum(e - s for n, s, e in spans if n == name)

    commits = [e for n, s, e in spans if n == "overwrite"]
    appends = [e for n, s, e in spans if n == "append"]
    return {
        "pipeline.waves": float(len(commits)),
        "pipeline.wave_s": total("overwrite"),
        "pipeline.lineage_s": sum(a - c for c, a in zip(commits, appends)),
        "pipeline.done_parts_s": total("done_parts"),
        "sources.io.append_s": total("append"),
    }
