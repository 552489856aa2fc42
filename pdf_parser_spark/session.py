"""SparkSession factory with the engine's scale-oriented defaults.

Every knob is chosen for the 100 TB design point and merely *works* at
local[32] (SURVEY.md §4):

- AQE on: runtime shuffle coalescing + skew-join splitting;
- Arrow on + BYTE-capped record batches: pages are MB-scale fat rows;
  round 1 fixed the batch at 8 ROWS to keep JVM-side ArrowWriter
  vectors small enough to dodge humongous-allocation GC churn (measured:
  batch=8 was 2x faster than batch=64 at local[32] on the mixed
  corpus). Spark 4's arrow.maxBytesPerBatch expresses that constraint
  directly: fat rows still get few-row batches (16 MB cap ~ the old
  8x2MB), while slim rows (embeddings, fingerprints, media features)
  batch thousands at a time instead of paying a Python round-trip every
  8 rows. Verified: 64 KB rows -> 4-row batches under a 256 KB cap,
  3-byte rows -> one batch per partition;
- python worker reuse: the UDF stages are called per batch, fork cost
  must amortize;
- shuffle partitions sized for the local harness's relational queries;
  a cluster submit overrides via --conf. Python stages are sized by
  task slots instead (pipeline.run_extraction runs one task per core
  per wave), because each Python task has a fixed set-up cost.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ARROW_BATCH_ROWS = 2048
ARROW_BATCH_BYTES = 16 * 1024 * 1024
# the --py-files / addPyFile archive of this package
PACKAGE_ZIP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "dist",
    "pdf_parser_spark.zip",
)


def tune_for_fat_binary_scan(spark: SparkSession) -> None:
    """Session settings for reading tables with MB-scale binary columns
    (the crawl input table). The parquet vectorized reader sizes its
    column batches in ROWS (default 4096) — with ~1-3 MB ``html`` values
    that is multi-GB of contiguous vector per task, which OOMs or
    GC-thrashes a 32-task executor. 32-row reader batches cap per-task
    scan memory at ~100 MB. Thin relational tables keep the default
    (a 32-row batch costs ~3x on pure-scan throughput there)."""
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "32")


def get_spark(
    app_name: str = "pdf-parser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[32]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and master.startswith("local"):
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
        )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_BATCH_ROWS),
        )
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            str(ARROW_BATCH_BYTES),
        )
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # fat binary rows: keep scan partitions small enough to fit
        .config("spark.sql.files.maxPartitionBytes", "64m")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = b.getOrCreate()
    _ship_package(spark)
    return spark


def package_zip_stale(zip_path: str) -> bool:
    """True when the deploy zip is missing or any package .py is newer
    than it — a stale committed zip silently ships old code to executors
    (and to spark-submit --py-files users)."""
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    if not os.path.exists(zip_path):
        return True
    zmt = os.path.getmtime(zip_path)
    for dirpath, _d, files in os.walk(pkg_root):
        if "__pycache__" in dirpath:
            continue
        for fn in files:
            if fn.endswith(".py") and os.path.getmtime(
                os.path.join(dirpath, fn)
            ) > zmt:
                return True
    return False


def build_package_zip() -> str:
    """Zip every package .py under its repo-relative path
    (``pdf_parser_spark/...``) into PACKAGE_ZIP: the archive that
    addPyFile ships and spark-submit --py-files takes."""
    import zipfile

    pkg_root = os.path.dirname(os.path.abspath(__file__))
    repo = os.path.dirname(pkg_root)
    os.makedirs(os.path.dirname(PACKAGE_ZIP), exist_ok=True)
    with zipfile.ZipFile(PACKAGE_ZIP, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _d, files in os.walk(pkg_root):
            if "__pycache__" in dirpath:
                continue
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, repo))
    return PACKAGE_ZIP


def _ship_package(spark: SparkSession) -> None:
    """Make pdf_parser_spark importable on executor python workers
    regardless of the launch cwd: zip the package and addPyFile once per
    session. Workers only inherit the driver's CWD (not its sys.path),
    so running any entry point from outside the repo root would
    otherwise fail to unpickle mapInPandas closures."""
    sc = spark.sparkContext
    if getattr(sc, "_pps_pkg_added", False):
        return
    try:
        if package_zip_stale(PACKAGE_ZIP):
            build_package_zip()
        sc.addPyFile(PACKAGE_ZIP)
    except Exception:
        # read-only checkout or non-local deployment: spark-submit
        # --py-files remains the documented path
        pass
    sc._pps_pkg_added = True  # noqa: SLF001
