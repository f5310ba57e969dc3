"""Session defaults: generated classes are compiled once per JVM, the
default driver heap follows the host's RAM and the default thread count
its cores, and adaptive execution is on (which makes a lazy
localCheckpoint run jobs when it is called)."""

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from batch_geocode_spark.session import default_cpus, default_driver_memory


def _compilations(spark) -> int:
    """Janino compilations so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _compiles_per_pass(spark, run, passes: int) -> list[int]:
    counts = []
    for _ in range(passes):
        before = _compilations(spark)
        run()
        counts.append(_compilations(spark) - before)
    return counts


def test_codegen_cache_holds_more_than_100_plans(spark):
    """150 plans that differ only in a literal need 150+ classes, more
    than Spark's default cache of 100; a second pass must hit for all."""

    def run():
        for i in range(150):
            spark.range(10).select((F.col("id") * 7 + i).alias("x")).collect()

    first, second = _compiles_per_pass(spark, run, 2)
    assert first >= 150
    assert second == 0


def test_geo_queries_recompile_nothing_when_warm(spark, sf_dir):
    """The geo backbone queries repeat on a warm JVM without compiling a
    single class again.

    Generated class names carry the codegen stage id, and adaptive
    execution numbers stages in the order it re-plans them, which
    depends on which stages finish first. So a warm pass can, rarely,
    meet a renumbered variant of a plan and compile its few classes
    once; with a cache of 100 every warm pass recompiles ~100. Of two
    warm passes, at least one must compile nothing."""
    qs = entry_mod.queries()
    names = ("g05_admin_pip", "g06_admin_rollup", "g08_knn_within_image",
             "g18_spatial_clusters")

    def run():
        for name in names:
            qs[name](spark, sf_dir).collect()

    _, *warm = _compiles_per_pass(spark, run, 3)
    assert min(warm) == 0, warm


def test_default_driver_memory_is_half_of_ram_capped():
    assert default_driver_memory(16456384) == "8035m"  # 16 GB host
    assert default_driver_memory(4 << 20) == "2048m"
    assert default_driver_memory(256 << 20) == "16384m"
    assert default_driver_memory(None) == "16384m"


def test_default_cpus_is_env_else_host_cores(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    monkeypatch.setattr("os.cpu_count", lambda: 6)
    assert default_cpus() == 6


def test_lazy_local_checkpoint_runs_stages_at_call_under_aqe(spark):
    """With adaptive execution on, ``localCheckpoint(eager=False)`` builds
    the adaptive plan's RDD when it is called, and that runs the plan's
    shuffle and broadcast stages as jobs there and then. A lazy
    checkpoint is therefore not jobless; audits of checkpoint costs
    must count these jobs."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    keys = spark.range(1000).select((F.col("id") % 7).alias("k"), "id")
    counts = keys.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    plan = keys.join(counts, "k")  # one shuffle (groupBy) + one broadcast

    sc = spark.sparkContext
    sc.setJobGroup("lazy-checkpoint-probe", "lazy localCheckpoint call")
    try:
        plan.localCheckpoint(eager=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("lazy-checkpoint-probe")
    assert len(jobs) > 0
