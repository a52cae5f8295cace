"""The DAG executor (``plans.runner.run_dag``) that runs the models, the
schema tests and the streamed gold commits concurrently, and the parquet
footer row counts (``Warehouse.row_count``) the runner reports."""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import functions as F

from ecommerce_analytics_platform_spark.fixtures.generator import generate_fixture
from ecommerce_analytics_platform_spark.operators.incremental import merge_delete_insert
from ecommerce_analytics_platform_spark.plans.runner import (
    MODELS,
    ModelSpec,
    build,
    run_dag,
    run_models,
    run_tests,
)
from ecommerce_analytics_platform_spark.sources.ndjson import (
    enrich_clickstream,
    enrich_orders,
    read_clickstream_raw,
    read_orders_raw,
    write_ndjson_fixture,
)
from ecommerce_analytics_platform_spark.sources.warehouse import Warehouse


def test_task_starts_only_after_its_dependencies_finish(spark):
    """``c`` waits for ``a`` and ``b``, ``d`` for ``c``; ``a`` and ``b``
    have no dependencies and run at the same time."""
    spans: dict[str, tuple[float, float]] = {}
    lock = threading.Lock()

    def task(name, secs):
        def run():
            start = time.monotonic()
            time.sleep(secs)
            with lock:
                spans[name] = (start, time.monotonic())
            return name.upper()

        return run

    out = run_dag(
        spark, "t",
        {"d": task("d", 0.05), "c": task("c", 0.1), "a": task("a", 0.4), "b": task("b", 0.2)},
        {"c": ["a", "b"], "d": ["c"]},
    )
    assert out == {"a": "A", "b": "B", "c": "C", "d": "D"}
    assert spans["c"][0] >= max(spans["a"][1], spans["b"][1])
    assert spans["d"][0] >= spans["c"][1]
    assert spans["b"][0] < spans["a"][1]  # independent tasks overlap


def test_many_small_tasks_run_once_after_their_dependencies(spark):
    """60 tasks on a random DAG with frequent thread switches: each runs
    exactly once, after all of its dependencies."""
    import random
    import sys

    rng = random.Random(7)
    deps = {f"t{i}": [f"t{j}" for j in rng.sample(range(i), min(i, 3))] for i in range(60)}
    finished: list[str] = []
    lock = threading.Lock()

    def task(name):
        def run():
            with lock:
                assert all(d in finished for d in deps[name]), name
                finished.append(name)
            return name

        return run

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        # submitted last-first: only the dependencies order the run
        out = run_dag(spark, "t", {n: task(n) for n in reversed(deps)}, deps)
    finally:
        sys.setswitchinterval(interval)
    assert out == {n: n for n in deps}
    assert sorted(finished) == sorted(deps)


def test_cycle_raises_and_names_it(spark, tmp_path):
    called = []

    def never(*_):
        called.append(1)
        raise AssertionError("a model in a cycle must not be built")

    specs = [
        ModelSpec("marts.a", ["marts.c"], never),
        ModelSpec("marts.b", ["marts.a"], never),
        ModelSpec("marts.c", ["marts.b"], never),
    ]
    with pytest.raises(ValueError, match=r"cycle: marts\.a -> marts\.c -> marts\.b -> marts\.a"):
        run_models(Warehouse(spark, str(tmp_path)), specs=specs)
    assert called == []


def test_select_treats_deps_outside_the_selection_as_built(spark, tmp_path):
    """``dbt run --select``: a dependency outside the selection is read as
    it exists and is not rebuilt."""
    wh = Warehouse(spark, str(tmp_path))
    wh.overwrite(spark.createDataFrame([(1,), (2,), (3,)], "id int"), "staging.a")

    def not_selected(*_):
        raise AssertionError("a model outside the selection was built")

    specs = [
        ModelSpec("staging.a", [], not_selected),
        ModelSpec("marts.b", ["staging.a"], lambda a: a.filter(F.col("id") > 1)),
    ]
    assert run_models(wh, specs=specs, select=["marts.b"]) == {"marts.b": 2}
    assert sorted(r["id"] for r in wh.read("marts.b").collect()) == [2, 3]


class Boom(Exception):
    pass


def test_failing_model_raises_its_own_error_and_no_dependent_runs(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    wh.overwrite(spark.createDataFrame([(1,)], "id int"), "bronze.src")
    called = []

    def bad(_src):
        raise Boom("bad model")

    def child(parent):
        called.append("child")
        return parent

    specs = [
        ModelSpec("staging.bad", ["bronze.src"], bad),
        ModelSpec("marts.child", ["staging.bad"], child),
        ModelSpec("marts.grandchild", ["marts.child"], child),
    ]
    with pytest.raises(Boom, match="bad model"):
        run_models(wh, specs=specs)
    assert called == []
    assert not wh.exists("marts.child")


def test_failure_cancels_running_siblings(spark):
    """A sibling's long job is cancelled by tag when another task fails;
    the failing task's own exception is raised."""

    def slow():
        def nap(rows):
            time.sleep(120)
            yield from rows

        return spark.range(1, numPartitions=1).mapInPandas(nap, "id long").count()

    def fail():
        time.sleep(3)  # the sibling's job is running by now
        raise Boom("first failure")

    t = time.monotonic()
    with pytest.raises(Boom, match="first failure"):
        run_dag(spark, "cancel", {"slow": slow, "fail": fail})
    assert time.monotonic() - t < 60


@pytest.fixture(scope="module")
def pipeline_wh(spark, tmp_path_factory):
    """``tests/test_pipeline.py``'s fixture loaded to bronze, then the full
    refresh and the schema tests."""
    root = tmp_path_factory.mktemp("runner")
    events, orders = generate_fixture(seed=42, n_sessions=60, bad_ts_rate=0.08)
    write_ndjson_fixture(events, str(root / "raw/clickstream/batch_1.json"))
    write_ndjson_fixture(orders, str(root / "raw/orders/batch_1.json"))
    wh = Warehouse(spark, str(root / "warehouse"))
    now = {"bronze_ingested_at": F.current_timestamp()}
    wh.append_new_dates(
        enrich_clickstream(read_clickstream_raw(spark, str(root / "raw/clickstream"))),
        "bronze.clickstream", enrich=now,
    )
    wh.append_new_dates(
        enrich_orders(read_orders_raw(spark, str(root / "raw/orders"))),
        "bronze.orders", enrich=now,
    )
    counts = run_models(wh, full_refresh=True)
    return wh, counts, run_tests(wh)


def _canon(df):
    cols = sorted(df.columns)
    return sorted(
        (tuple(round(v, 6) if isinstance(v, float) else v for v in r)
         for r in df.select(*cols).collect()),
        key=str,
    )


def test_concurrent_run_equals_serial_builds(spark, pipeline_wh):
    """Every table the concurrent run writes equals the model built
    serially from the same bronze tables, and the contract is green."""
    wh, counts, tests = pipeline_wh
    assert list(counts) == [s.name for s in MODELS]
    inputs = {t: wh.read(t) for t in ("bronze.clickstream", "bronze.orders")}
    for s in MODELS:
        want = _canon(build(s.name, inputs))
        assert counts[s.name] == len(want) > 0, s.name
        assert _canon(wh.read(s.name)) == want, s.name
    assert len(tests) == 25
    assert {k: v for k, v in tests.items() if v} == {}


def test_row_count_partitioned_and_unpartitioned(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(i, f"k{i % 3}", i % 2) for i in range(20)], "id int, k string, _p int"
    )
    wh.overwrite(df, "s.flat")
    # a partition column whose directories start with "_" holds "=": listed
    wh.overwrite(df, "s.parts", partition_by=["k", "_p"])
    for t in ("s.flat", "s.parts"):
        assert wh.row_count(t) == wh.read(t).count() == 20, t


def test_row_count_after_incremental_merge(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    df = spark.createDataFrame([(i, f"d{i % 4}") for i in range(12)], "id int, d string")
    wh.overwrite(df, "s.t", partition_by=["d"])
    batch = spark.createDataFrame([(0, "d0"), (5, "d1"), (40, "d9")], "id int, d string")
    merge_delete_insert(spark, wh.path("s.t"), batch, ["id"], ["d"])
    assert wh.row_count("s.t") == wh.read("s.t").count() == 13


def test_row_count_of_an_empty_write(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    empty = spark.createDataFrame([], "id int, d string")
    wh.overwrite(empty, "s.flat")
    wh.overwrite(empty, "s.parts", partition_by=["d"])
    for t in ("s.flat", "s.parts"):
        assert wh.row_count(t) == wh.read(t).count() == 0, t
