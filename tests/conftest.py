import pytest

from autoprepad_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # Tests read stage data back from the status store (operation graphs
    # in test_suite_jobs, stage metrics in test_stream_pipeline). Past
    # spark.ui.retainedStages (1000) stages the store evicts in batches
    # of 100, skipped stages first, so whether a job's skipped stages
    # are still there would depend on how many stages earlier tests ran.
    s = get_spark("autoprepad-tests", cores=8, shuffle_partitions=8,
                  extra_conf={"spark.ui.retainedStages": "100000"})
    yield s


@pytest.fixture(scope="session")
def tokens_df(spark):
    from autoprepad_spark.datagen import generate_tokens

    return generate_tokens(spark, 40_000, seed=42, n_parts=8).cache()


@pytest.fixture(scope="session")
def dim_df(spark):
    from autoprepad_spark.datagen import source_dim

    return source_dim(spark)


def codegen_compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far: count them around
    a call to see whether it planned any code the cache did not hold."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def plan_nodes(df):
    """The physical plan nodes of ``df`` as AQE first plans it (Exchanges
    placed, no stage run yet), depth first."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        children = node.children()
        stack.extend(children.apply(i) for i in reversed(range(children.size())))


def plan_shape(df) -> dict[str, int]:
    """Counts of the nodes that cost a shuffle, a Python worker round trip
    or a row multiplication in ``df``'s plan: ``Exchange`` (shuffle and
    broadcast), ``Python`` (ArrowEvalPython, MapInArrow) and ``Generate``."""
    shape = {"Exchange": 0, "Python": 0, "Generate": 0}
    for node in plan_nodes(df):
        name = node.nodeName()
        if name.endswith("Exchange"):
            shape["Exchange"] += 1
        elif name in ("ArrowEvalPython", "MapInArrow"):
            shape["Python"] += 1
        elif name == "Generate":
            shape["Generate"] += 1
    return shape


def output_names(node) -> list[str]:
    """Column names of a plan node's output."""
    out = node.output()
    return [out.apply(i).name() for i in range(out.size())]
