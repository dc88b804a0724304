from contextlib import contextmanager

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


@pytest.fixture
def jobs_of(spark):
    """``jobs_of(fn)`` returns ``fn()``'s result and the number of Spark
    jobs it launched, counted under a job group of its own."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        tag = f"jobs_of_{uuid.uuid4().hex}"
        sc.setJobGroup(tag, tag)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(tag))

    return run


@pytest.fixture
def memo_schema(spark):
    """``memo_schema(path)``: the schema the session's read memo holds
    for the current file version of the parquet directory ``path``, or
    None (warp_spark.sources.parquet)."""
    from warp_spark.sources.parquet import _local_stamp, _sql_conf, session_reads

    def get(path):
        hit = session_reads(spark).schemas.get(("parquet", path, _sql_conf(spark)))
        return hit[1] if hit is not None and hit[0] == _local_stamp(path) else None

    return get


@pytest.fixture
def plain_reads(monkeypatch):
    """``with plain_reads():`` previews fold their chain over
    ``read_source(path).limit(n)``: no sample, so no prefix memo either
    (warp_spark.sources.parquet, warp_spark.plans.chain)."""
    import warp_spark.sources as sources

    @contextmanager
    def plain():
        with monkeypatch.context() as m:
            m.setattr(
                sources,
                "preview_source",
                lambda spark, path, rows, fmt="parquet", options=None: sources.read_source(
                    spark, path, fmt, options
                ).limit(rows),
            )
            m.setattr(sources, "current_sample", lambda *a, **kw: None)
            yield

    return plain


@pytest.fixture
def memo_cuts(monkeypatch):
    """The ``n`` of every preview cut from a prefix memo
    (warp_spark.plans.chain)."""
    import warp_spark.plans.chain as chain_module

    cuts = []
    frame = chain_module._Prefix.frame

    def spy(self, spark, n=None):
        if n is not None:
            cuts.append(n)
        return frame(self, spark, n)

    monkeypatch.setattr(chain_module._Prefix, "frame", spy)
    return cuts
