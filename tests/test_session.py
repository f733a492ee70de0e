"""The session factory's generated-code cache holds a long-lived session's
working set: a second, identical round of plans runs the classes the first
round compiled instead of compiling them again.

The rounds run in a fresh JVM (this file run as a script). The suite's own
session has already compiled and cached the plans of earlier tests, so there
the first round would not show the working set's size.
"""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the catalog_mix benchmark's queries: three marts and an iterative graph
QUERIES = ["fact_ltv_daily", "mart_customer_rfm", "cdc_apply_changes", "supply_pagerank_directed"]
# Spark's default cache size; a first round that compiles more than this
# evicts its own classes from a cache of the default size
SPARK_DEFAULT_ENTRIES = 100
# AQE numbers whole-stage-codegen stages as it re-plans them, which depends on
# the order in which stages finish; a variant that differs only in that number
# is a new class. Measured second rounds compiled 0-16 such variants (later
# rounds 0-20) at local[1]..local[4]; a cache of Spark's default size
# recompiles ~118.
MAX_SECOND_ROUND = 30


def compiles_per_round(sf_dir: str) -> list[int]:
    """Janino compilations of each of two rounds of QUERIES through the noop sink,
    in a session started by ``get_spark``."""
    from aws_glue_cdc_metrics_job_spark.plans import catalog
    from aws_glue_cdc_metrics_job_spark.session import get_spark

    catalog.load_all()
    spark = get_spark(app_name="codegen-cache", shuffle_partitions=4)
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    counts = []
    for _ in range(2):
        before = compiled.getCount()
        for name in QUERIES:
            catalog.QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        counts.append(compiled.getCount() - before)
    spark.stop()
    return counts


def test_second_round_reuses_compiled_code(tmp_path):
    from tools.make_testdata import generate

    sf_dir = str(tmp_path / "data")
    generate(sf_dir, scale=1)
    # a small heap: this JVM runs next to the suite's own
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "2g"}
    done = subprocess.run(
        [sys.executable, os.path.abspath(__file__), sf_dir],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=900,
    )
    assert done.returncode == 0, done.stderr[-4000:]
    first, second = json.loads(done.stdout.splitlines()[-1])
    assert first > SPARK_DEFAULT_ENTRIES, (first, second)
    assert second <= MAX_SECOND_ROUND, (first, second)


def test_default_driver_memory_is_half_the_machine_up_to_24g(monkeypatch):
    """With SPARK_DRIVER_MEMORY unset, get_spark asks for half of physical
    memory, capped at the 24g a large machine gets."""
    from aws_glue_cdc_metrics_job_spark import session

    page = 4096
    for phys_gb, want in ((15, "7680m"), (48, "24576m"), (128, "24576m")):
        pages = phys_gb * 1024**3 // page
        sizes = {"SC_PHYS_PAGES": pages, "SC_PAGE_SIZE": page}
        monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
        assert session.default_driver_memory() == want, phys_gb


def test_default_parallelism_is_the_cpus_this_process_may_use(monkeypatch):
    """With SPARK_GRAFT_CPUS unset, get_spark runs one task thread per CPU
    in the process's affinity mask; the variable still overrides it."""
    from aws_glue_cdc_metrics_job_spark import session

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert session.default_parallelism() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    assert session.default_parallelism() == 2


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    print(json.dumps(compiles_per_round(sys.argv[1])))
