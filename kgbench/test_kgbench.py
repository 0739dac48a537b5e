"""Self-tests of the benchmark's own parts.

    python3 -m pytest kgbench/test_kgbench.py -q -p no:cacheprovider
"""

import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import eventlog  # noqa: E402
import gen  # noqa: E402
from workloads import rows_hash  # noqa: E402


def test_generator_is_deterministic_per_seed_and_differs_across_seeds():
    pages_a, gold_a, comp_a = gen.generate(3, 40)
    pages_b, gold_b, comp_b = gen.generate(3, 40)
    pages_c, gold_c, _ = gen.generate(4, 40)
    assert pages_a.equals(pages_b) and gold_a.equals(gold_b)
    assert comp_a.equals(comp_b)
    assert not set(pages_a.url) & set(pages_c.url)
    assert list(pages_a.text) != list(pages_c.text)
    assert len(gold_a) and len(gold_c)


def test_rows_hash_ignores_row_order_and_array_order():
    import pandas as pd

    a = pd.DataFrame({"k": ["x", "y"], "ids": [["b", "a"], ["c"]],
                      "s": [0.1 + 0.2, 1.0]})
    b = pd.DataFrame({"k": ["y", "x"], "ids": [["c"], ["a", "b"]],
                      "s": [1.0, 0.3]})
    assert rows_hash(a) == rows_hash(b)
    assert rows_hash(a) != rows_hash(a.assign(s=[0.3, 2.0]))


def test_event_log_reports_python_time_and_bytes(tmp_path):
    from finance_sc_relations_spark.session import build_session
    import procs

    log_dir = tmp_path / "events"
    log_dir.mkdir()
    spark = build_session(
        app_name="kgbench-selftest", master="local[1]",
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    try:
        def double(batches):
            for pdf in batches:
                yield pdf.assign(id=pdf.id * 2)

        spark.sparkContext.setJobGroup("probe.double", "probe")
        watch = procs.Stopwatch(spark)
        watch.start()
        (spark.range(5000, numPartitions=2).mapInPandas(double, "id long")
         .write.format("noop").mode("overwrite").save())
        wall, cpu, stolen = watch.stop()
    finally:
        procs.stop_session(spark)
    groups = eventlog.parse(eventlog.event_log_file(log_dir))
    probe = groups["probe.double"]
    assert probe.jobs >= 1 and probe.task_ms > 0
    assert probe.python_ms > 0
    assert probe.to_python_bytes > 0 and probe.from_python_bytes > 0
    # the JVM and the Python workers it started did work during the job
    assert wall > 0 and cpu > 0 and stolen >= 0
