import pytest

from warp_spark import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("warp-spark-tests", cpus=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def sql_plans(spark):
    """``sql_plans(build)`` returns ``build()``'s result and the physical
    plans (explain's formatted mode) of the SQL executions run while it
    built, read from the session's SQL status store. A prefix scan
    (warp_spark/prefix.py) pins its range partitioning with a local
    checkpoint when its frame is built, so the range exchange and
    everything under it show in the pin's plan, not in the final one."""
    store = spark._jsparkSession.sharedState().statusStore()

    def ids():
        ex = store.executionsList()
        return {ex.apply(i).executionId(): ex.apply(i) for i in range(ex.size())}

    def run(build):
        before = set(ids())
        out = build()
        ran = [e.physicalPlanDescription() for i, e in ids().items() if i not in before]
        return out, "\n".join(ran)

    return run
