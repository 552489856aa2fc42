"""Extraction-engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload pdf_tables --seed 3 --seconds 10 --trace 0

Run from the repository root. The seed picks the input documents (see
corpus.py); the program under test only reads the generated parquet.
Load model: a closed loop with one client. This benchmark process submits a
job, waits for it, checks every url of its output outside the timed span,
and submits the next, until ``--seconds`` of job wall time have been
measured (at least one job). The Spark session runs at local[4].

``--trace 0`` reports the end-to-end metrics:

- docs_per_s: input documents committed per second of job wall time,
  with the session warm and the input already on disk (median over the
  run's job calls);
- setup_s: ``session.get_spark`` plus a pass that forks the Python
  workers and imports numpy and pandas in them, what every job launch
  pays. The run sets up SETUPS sessions, each in a fresh JVM, and reports
  the median; the last one runs the jobs. The session's first (cold) job,
  one untimed call of the workload, is neither set-up nor throughput: it
  is the per-layer ``session.first_job_s``;
- rss_mb: resident memory of the process tree (this process, the JVM
  and its Python workers, see ``sparkside.tree_memory_bytes``) while
  jobs run: the median of 10 Hz samples over the run's job calls, each
  call started after an untimed full JVM collection (``full_gc``). The
  peak is too unsteady to bound: over ten html_curate seeds on a 4-vCPU
  VM the per-call peak read 2.2-3.4 GB with the collection (2.5-4.4 GB
  over five without), as the JVM grows its heap by how long its
  collections take. It is the per-layer ``peak_rss_mb`` of the traced
  call.

``--trace 1`` reports the per-layer split of the same workload: a
Spark-free kernel replay (tracer.py), then the status-API metrics and
commit spans of one extra, traced job call (sparkside.py), and the
tracing overhead against the untraced calls.

Human-readable lines go first; the last stdout line is one JSON object
with the keys correct, attempted, failed and metrics. Scratch files go
to ``.perfbench_work/`` under the current directory.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = os.path.join(ROOT, "pdf_parser_spark")

END_TO_END = {"docs_per_s": "docs/s", "setup_s": "s", "rss_mb": "MB"}
SETUPS = 2


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(path, "*.parquet")))


def full_gc(spark) -> None:
    """A full JVM collection before each measured call (untimed), so a
    call's peak does not depend on how much garbage earlier calls left in
    the heap and when the JVM last collected it."""
    spark.sparkContext._jvm.System.gc()  # noqa: SLF001


class Extraction:
    """``pipeline.run_extraction`` (one wave) over a seeded crawl table;
    every committed url is checked against the oracle digests."""

    def __init__(self, run: "Run", kinds: str, docs: int,
                 duplicates: bool = False):
        self.run = run
        self.kinds = kinds
        self.docs = docs
        self.duplicates = duplicates

    def prepare(self) -> int:
        """Write (or reuse) the seed's input table and its oracle digests;
        return its row count."""
        import corpus
        from digests import oracle_digests, source_hash

        r = self.run
        name = f"{r.workload}-s{r.seed}-n{self.docs}"
        self.path = os.path.join(r.work, "corpus", name)
        corpus.write_crawl(self.path, r.seed, self.kinds, self.docs, self.duplicates)
        cache = os.path.join(r.work, "digests", f"{name}-{source_hash(PKG)}.json")
        self.expected = oracle_digests(cache, self.path)
        return len(self.expected)

    def replay(self) -> dict[str, float]:
        import pyarrow.parquet as pq

        import tracer

        t = pq.read_table(self.path, columns=["url", "html"])
        docs = list(zip(t["url"].to_pylist(), t["html"].to_pylist()))
        del t
        tr, plain_s, mismatches = tracer.replay(docs)
        self.run.count(len(docs), mismatches)
        tr.write(os.path.join(self.run.work, f"spans-{self.run.workload}.jsonl"))
        return tracer.layers(tr, plain_s)

    def _extract(self, spark, src: str, out: str) -> None:
        from pdf_parser_spark.pipeline import run_extraction

        t0 = time.perf_counter()
        run_extraction(spark, spark.read.parquet(src), out, run_id="bench")
        self.extract_s = time.perf_counter() - t0

    def check(self, out: str) -> int:
        """Count the committed table's failed urls; return the committed
        input docs."""
        from digests import check, read_committed

        got, failed = check(self.expected,
                            read_committed(os.path.join(out, "extracted")))
        self.run.count(len(self.expected), failed)
        return got

    def first_job(self, spark, out: str) -> None:
        # the Python workers import the kernels, and the JVM loads and
        # compiles the job's code paths and grows its heap to the job's
        # size: a smaller first job left the next call ~15% slower
        self.call(spark, out)
        self.check(out)

    def call(self, spark, out: str) -> None:
        self._extract(spark, self.path, out)

    def traced_layers(self, spark, rest, sql, jobs, spans, wall, out) -> dict[str, float]:
        import sparkside
        from pdf_parser_spark.operators import extract_stage
        from pdf_parser_spark.pipeline import DEFAULT_N_PARTS, with_part_id

        m = sparkside.spark_layers(rest, sql, jobs, wall)
        m.update(sparkside.commit_layers(spans))
        # the fused stage alone, behind the same exchange the pipeline uses
        tasks = int(spark.conf.get("spark.sql.shuffle.partitions"))
        df = with_part_id(spark.read.parquet(self.path), DEFAULT_N_PARTS)
        t0 = time.perf_counter()
        extract_stage(
            df.select("url", "html", "part_id").repartition(tasks, "part_id")
        ).count()
        m["operators.extract_stage.stage_s"] = time.perf_counter() - t0
        m["pipeline.overhead_s"] = self.extract_s - m["operators.extract_stage.stage_s"]
        # this workload runs no curation
        m.update({f"functions.curate.{s}_s": 0.0 for s in CURATE_STAGES})
        m["functions.dedup.candidate_pairs"] = 0.0
        return m


CURATE_ARGS = dict(rates={"en": 50, "fr": 25, "de": 10}, default_pct=5,
                   strata_col="lang", threshold=0.2)  # jobs/curate.py defaults
CURATE_STAGES = ("quality", "pii", "redacted", "pairs", "clusters", "curated")


class CrawlCurate(Extraction):
    """Extraction of an HTML crawl, then ``functions.curate`` over the
    committed text with every stage materialized. Extraction is checked
    against the oracle digests; the curated table of the session's first
    (untimed) call is the reference each timed call must reproduce row for
    row, and a reference cached by an earlier run with the same seed and
    sources must agree with it."""

    def prepare(self) -> int:
        from digests import source_hash

        n = super().prepare()
        self.ref_path = os.path.join(
            self.run.work, "digests",
            f"{self.run.workload}-s{self.run.seed}-n{self.docs}-{source_hash(PKG)}"
            "-curated.json",
        )
        return n

    def call(self, spark, out: str) -> None:
        from pyspark.sql import functions as F

        from pdf_parser_spark.functions import curate

        self._extract(spark, self.path, out)
        crawl = spark.read.parquet(self.path).select("url", "lang")
        docs = (
            spark.read.parquet(os.path.join(out, "extracted"))
            .filter(F.col("error").isNull())
            .join(crawl, "url")
            .select(F.xxhash64("url").alias("doc_id"), "url",
                    F.col("extracted_text").alias("text"), "lang")
        )
        curate(docs, materialize_dir=os.path.join(out, "curate"),
               input_fingerprint=out, **CURATE_ARGS)

    def _curated(self, out: str) -> dict[str, str]:
        import pyarrow.parquet as pq

        from digests import digest

        rows = pq.read_table(os.path.join(out, "curate", "curated")).to_pylist()
        return {str(r["doc_id"]): digest(sorted(r.items())) for r in rows}

    def _compare(self, want: dict[str, str], got: dict[str, str]) -> None:
        ids = set(want) | set(got)
        self.run.count(len(ids), sum(1 for i in ids if want.get(i) != got.get(i)))

    def first_job(self, spark, out: str) -> None:
        self.call(spark, out)
        super().check(out)
        self.reference = self._curated(out)
        if os.path.exists(self.ref_path):
            with open(self.ref_path) as f:
                self._compare(json.load(f), self.reference)
        else:
            os.makedirs(os.path.dirname(self.ref_path), exist_ok=True)
            tmp = f"{self.ref_path}.tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(self.reference, f)
            os.replace(tmp, self.ref_path)

    def check(self, out: str) -> int:
        self._compare(self.reference, self._curated(out))
        return super().check(out)

    def traced_layers(self, spark, rest, sql, jobs, spans, wall, out) -> dict[str, float]:
        import sparkside

        m = super().traced_layers(spark, rest, sql, jobs, spans, wall, out)
        by_dir = sparkside.write_seconds_by_dir(sql)
        missing = [s for s in CURATE_STAGES if s not in by_dir]
        if missing:
            raise RuntimeError(f"no SQL execution wrote curate stages {missing}")
        m.update({f"functions.curate.{s}_s": by_dir[s] for s in CURATE_STAGES})
        m["functions.dedup.candidate_pairs"] = float(
            parquet_rows(os.path.join(out, "curate", "pairs"))
        )
        return m


# Workloads. Each stresses a different layer, so a change to one layer
# should move its own workload and leave the other unchanged. A job call
# costs ~6 s (pdf_tables) and ~10 s (html_curate) whatever its size on a
# 4-vCPU VM, so each workload is as large as fits a run of about a minute
# (two set-ups, a cold first call, then the timed calls).
WORKLOADS = {
    # PDF-like raster docs only (~1 MB each, half of them with a table
    # page): the table kernel is ~90% of extraction CPU, so kernel work
    # shows here
    "pdf_tables": lambda r: Extraction(r, "pdf", docs=96),
    # HTML pages and the small adversarial rows (~2 KB each), with exact
    # and near duplicates at the repository's curate-corpus rates (see
    # corpus.EXACT_EVERY), extracted and then curated:
    # the cheap html_extract kernel leaves scan, Arrow transfer, exchange
    # and commit to dominate extraction, then the functions layer
    # (quality, PII, MinHash-LSH, clusters, sampling) runs on the text.
    # The table kernel never runs, so a kernel change should not move it
    "html_curate": lambda r: CrawlCurate(r, "html", docs=600, duplicates=True),
}


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(os.getcwd(), ".perfbench_work")
        self.attempted = 0
        self.failed = 0
        self.info: dict[str, float] = {}
        self._n_out = 0
        self._t0 = time.perf_counter()

    def count(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed

    def phase(self, name: str) -> None:
        print(f"[{time.perf_counter() - self._t0:7.2f}s] {name}",
              file=sys.stderr, flush=True)

    def out_dir(self) -> str:
        self._n_out += 1
        path = os.path.join(self.work, "out", f"{os.getpid()}-{self._n_out}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def timed(self, wl, spark, mem) -> tuple[list[float], list[float], list[int]]:
        """Closed loop: call, check (untimed), repeat until ``seconds`` of
        job wall time have been measured. Returns each call's wall time and
        docs per second, and the memory samples taken during the calls."""
        walls: list[float] = []
        rates: list[float] = []
        samples: list[int] = []
        while not walls or sum(walls) < self.seconds:
            out = self.out_dir()
            full_gc(spark)
            mem.take()
            t0 = time.perf_counter()
            wl.call(spark, out)
            walls.append(time.perf_counter() - t0)
            call_samples = mem.take()
            samples += call_samples
            rates.append(wl.check(out) / walls[-1])
            shutil.rmtree(out)
            self.phase(f"job call {len(walls)}: {walls[-1]:.2f} s, "
                       f"{rates[-1]:.2f} docs/s, "
                       f"{max(call_samples) / 2**20:.0f} MB peak")
        return walls, rates, samples

    def traced_call(self, wl, spark, mem, plain_s: float) -> dict[str, float]:
        import sparkside

        rest = sparkside.Rest(spark)
        marks = rest.last_ids()
        out = self.out_dir()
        full_gc(spark)
        mem.take()
        with sparkside.commit_spans() as spans:
            t0 = time.perf_counter()
            wl.call(spark, out)
            wall = time.perf_counter() - t0
        peak = max(mem.take())
        wl.check(out)
        sql, jobs = rest.since(marks)
        m = wl.traced_layers(spark, rest, sql, jobs, spans, wall, out)
        shutil.rmtree(out)
        m["peak_rss_mb"] = peak / 2**20
        m["trace.job_overhead_frac"] = wall / plain_s - 1
        return m

    def set_up(self) -> tuple:
        """Set up SETUPS sessions, each in a fresh JVM, and keep the last.
        Returns it and each set-up's get_spark and warm-up seconds."""
        import sparkside

        get_spark_s: list[float] = []
        warmup_s: list[float] = []
        for k in range(SETUPS):
            spark, g, w = sparkside.start_session()
            get_spark_s.append(g)
            warmup_s.append(w)
            self.phase(f"set-up {k + 1}: get_spark {g:.2f} s, warm-up {w:.2f} s")
            if k < SETUPS - 1:
                sparkside.stop_session(spark)
        return spark, get_spark_s, warmup_s

    def run(self) -> dict:
        import sparkside

        sparkside.configure_env(self.work)
        wl = WORKLOADS[self.workload](self)
        self.info["input_docs"] = wl.prepare()
        self.phase("inputs and oracle results ready")
        layers = wl.replay() if self.trace else {}
        spark, get_spark_s, warmup_s = self.set_up()
        try:
            t0 = time.perf_counter()
            out = self.out_dir()
            wl.first_job(spark, out)
            first_job_s = time.perf_counter() - t0
            shutil.rmtree(out)
            self.phase("first job done")
            with sparkside.MemorySampler(sparkside.jvm_pid()) as mem:
                walls, rates, samples = self.timed(wl, spark, mem)
                if self.trace:
                    layers.update(self.traced_call(
                        wl, spark, mem, statistics.median(walls)))
        finally:
            sparkside.stop_session(spark)
        layers["session.get_spark_s"] = statistics.median(get_spark_s)
        layers["session.worker_warmup_s"] = statistics.median(warmup_s)
        layers["session.first_job_s"] = first_job_s
        e2e = {
            "docs_per_s": statistics.median(rates),
            "setup_s": statistics.median(
                g + w for g, w in zip(get_spark_s, warmup_s)),
            "rss_mb": statistics.median(samples) / 2**20,
        }
        self.info["job_calls"] = len(walls)
        self.info["job_s_median"] = statistics.median(walls)

        for k, u in END_TO_END.items():
            print(f"{k} {e2e[k]:.4f} {u}")
        for k, v in sorted(self.info.items()):
            print(f"info.{k} {v:g}")
        if self.trace:
            with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
                units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
            missing = sorted(set(units) - set(layers))
            if missing:
                raise RuntimeError(f"the traced run measured no {missing}")
            metrics = {k: {"value": layers[k], "unit": u}
                       for k, u in units.items()}
            for k, m in metrics.items():
                print(f"{k} {m['value']:.6g} {m['unit']}")
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        print(f"failed {self.failed} of {self.attempted} operations")
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(PKG):
        print(f"no pdf_parser_spark/ next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    result = Run(args.workload, args.seed, args.seconds, bool(args.trace)).run()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
