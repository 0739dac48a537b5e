"""Table catalog (partition overwrite + incremental ingest) and streaming."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from finance_sc_relations_spark.sources.catalog import TableCatalog
from finance_sc_relations_spark.streaming.incremental import (
    stream_event_rollup,
    stream_extract_triples,
)
from finance_sc_relations_spark.fixtures import generate_corpus
from finance_sc_relations_spark.plans.pipeline import PipelineConfig


def test_catalog_roundtrip_and_partition_overwrite(spark, tmp_path):
    cat = TableCatalog(spark, tmp_path / "wh")
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)], "id long, part string, v long"
    )
    cat.create_or_replace(df, "t", partition_by=["part"])
    assert cat.read("t").count() == 3

    # dynamic partition overwrite: only partition 'a' replaced
    upd = spark.createDataFrame([(9, "a", 99)], "id long, part string, v long")
    cat.overwrite_partitions(upd, "t", partition_by=["part"])
    got = cat.read("t").toPandas().sort_values("id")
    assert set(got["id"]) == {3, 9}  # 'b' partition survived


def test_incremental_ingest_anti_join(spark, tmp_path):
    cat = TableCatalog(spark, tmp_path / "wh2")
    first = spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string")
    assert cat.incremental_ingest(first, "inc", key="id") == 2
    # overlapping batch: only id=3 is new
    second = spark.createDataFrame([(2, "y"), (3, "z")], "id long, v string")
    assert cat.incremental_ingest(second, "inc", key="id") == 1
    assert cat.read("inc").count() == 3
    # idempotent replay ingests nothing
    assert cat.incremental_ingest(second, "inc", key="id") == 0


def test_stream_event_rollup_matches_batch(spark, tmp_path):
    events = spark.createDataFrame(
        pd.DataFrame(
            {
                "ts": pd.to_datetime(
                    ["2024-01-01 02:00", "2024-01-01 14:00", "2024-01-02 03:00"]
                ),
                "event_type": ["click", "click", "view"],
                "value": [1.0, 2.0, 5.0],
            }
        )
    )
    src = tmp_path / "events_src"
    events.write.parquet(str(src))
    stream = (
        spark.readStream.schema(events.schema).parquet(str(src))
    )
    rolled = stream_event_rollup(stream, window="1 day", watermark="2 days")
    q = (
        rolled.writeStream.format("memory")
        .queryName("rollup_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM rollup_test").toPandas()
    clicks = got[got.event_type == "click"]
    assert int(clicks["n"].iloc[0]) == 2
    assert int(clicks["total_value_cents"].iloc[0]) == 300


def test_stream_extract_triples_end_to_end(spark, tmp_path):
    """File-stream ingest of pages -> triples parquet, exactly-once via
    checkpoint: re-running with availableNow processes nothing new."""
    pages_pdf, gold_pdf, companies_pdf = generate_corpus(40)
    pages_pdf["warc_ts"] = pages_pdf["warc_ts"].astype("datetime64[us, UTC]")
    src = tmp_path / "pages_stream"
    src.mkdir()
    pages_pdf.iloc[:20].to_parquet(src / "part-0.parquet", index=False)
    pages_pdf.iloc[20:].to_parquet(src / "part-1.parquet", index=False)

    out_dir = str(tmp_path / "triples_out")
    ckpt = str(tmp_path / "stream_ckpt")
    cfg = PipelineConfig()
    writer = stream_extract_triples(
        spark, str(src), companies_pdf, out_dir, ckpt, config=cfg
    )
    q = writer.start()
    q.awaitTermination(300)
    got = spark.read.parquet(out_dir)
    n1 = got.count()
    assert n1 > 0
    # the stream pins its linking tier on a copy, not the caller's config
    assert cfg.distributed_linking is None

    # replay: checkpoint prevents reprocessing
    q2 = stream_extract_triples(
        spark, str(src), companies_pdf, out_dir, ckpt
    ).start()
    q2.awaitTermination(300)
    assert spark.read.parquet(out_dir).count() == n1


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key join without an Exchange on
    either side (co-located join; SURVEY §4 bucketing)."""
    from finance_sc_relations_spark.sources.catalog import TableCatalog

    cat = TableCatalog(spark, tmp_path / "whb")
    a = spark.range(0, 1000).withColumnRenamed("id", "k")
    b = spark.range(0, 1000).withColumnRenamed("id", "k")
    cat.write_bucketed(a, "bucketed_a", "k", n_buckets=8)
    cat.write_bucketed(b, "bucketed_b", "k", n_buckets=8)
    joined = cat.read_table("bucketed_a").join(cat.read_table("bucketed_b"), "k")
    plan = joined._sc._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "formatted"
    )
    assert joined.count() == 1000
    assert "+- Exchange" not in plan  # bucketed scan feeds the join directly
    spark.sql("DROP TABLE IF EXISTS bucketed_a")
    spark.sql("DROP TABLE IF EXISTS bucketed_b")


def test_streaming_stateful_dedup(spark, tmp_path):
    """applyInPandasWithState cross-batch dedup: a fingerprint arriving in a
    later micro-batch is suppressed by state."""
    import pandas as pd
    from finance_sc_relations_spark.streaming.stateful_dedup import (
        streaming_exact_dedup,
    )

    src = tmp_path / "docs_src"
    src.mkdir()
    pd.DataFrame({"doc_id": [1, 2], "text": ["alpha text", "beta text"]}).to_parquet(
        src / "b0.parquet", index=False
    )
    pd.DataFrame({"doc_id": [3, 4], "text": ["alpha text", "gamma text"]}).to_parquet(
        src / "b1.parquet", index=False
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_state_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT * FROM dedup_state_test").toPandas()
    # 'alpha text' emitted exactly once, for its first doc_id
    assert len(got) == 3
    assert set(got["doc_id"]) == {1, 2, 4} or set(got["doc_id"]) == {2, 3, 4}


def test_stream_sink_idempotent_on_replay(spark, tmp_path):
    """Losing the streaming checkpoint (or a crash between sink write and
    checkpoint commit) replays batches with the same batch ids; the
    partition-overwrite sink must replace, not duplicate."""
    pages_pdf, _, companies_pdf = generate_corpus(20)
    pages_pdf["warc_ts"] = pages_pdf["warc_ts"].astype("datetime64[us, UTC]")
    src = tmp_path / "pages_stream2"
    src.mkdir()
    pages_pdf.to_parquet(src / "part-0.parquet", index=False)

    out_dir = str(tmp_path / "triples_out2")
    for ckpt in ("ck_a", "ck_b"):  # second run = full replay, same batch ids
        q = stream_extract_triples(
            spark, str(src), companies_pdf, out_dir, str(tmp_path / ckpt)
        ).start()
        q.awaitTermination(300)
        if ckpt == "ck_a":
            n1 = spark.read.parquet(out_dir).count()
    got = spark.read.parquet(out_dir)
    assert got.count() == n1  # replaced, not appended
    assert got.select("_batch_id").distinct().count() == 1


def test_streaming_entity_ids_stable_across_batches(spark, tmp_path):
    """The same dictionary-unknown company arriving in two different
    micro-batches must canonicalize to the SAME entity id (SF: ids derive
    from normalized surface forms, matched ids from the dictionary — both
    batch-independent)."""
    import pandas as pd
    from datetime import datetime, timezone

    from finance_sc_relations_spark.fixtures import company_universe

    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    page = lambda i: dict(
        url=f"https://news.example{i}.com/a/{i}",
        warc_ts=ts,
        html=b"",
        text="Zorblatt Industries Inc supplies components to Sonexa Inc.",
        lang="en",
    )
    src = tmp_path / "pages_stream3"
    src.mkdir()
    for b in (0, 1):
        pdf = pd.DataFrame([page(b)])
        pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us, UTC]")
        pdf.to_parquet(src / f"b{b}.parquet", index=False)

    out_dir = str(tmp_path / "triples_out3")
    q = stream_extract_triples(
        spark, str(src), company_universe(), out_dir,
        str(tmp_path / "ck_stable"),
    ).start()
    q.awaitTermination(300)
    got = spark.read.parquet(out_dir).select("_batch_id", "subj_id", "obj_id").toPandas()
    assert got["_batch_id"].nunique() >= 1
    assert got["subj_id"].nunique() == 1  # same SF: id in every batch
    assert got["subj_id"].iloc[0].startswith("SF:zorblatt")
    assert got["obj_id"].nunique() == 1 and got["obj_id"].iloc[0].startswith("LEI")


def test_stream_sessionize_matches_batch_sessions(spark, tmp_path):
    """Native session_window streaming sessions agree with the batch
    operator on (user, n_events, value_cents) for a closed stream."""
    from finance_sc_relations_spark.operators.sessions import sessionize
    from finance_sc_relations_spark.streaming.incremental import (
        stream_sessionize,
    )

    rows = pd.DataFrame(
        {
            "event_id": range(6),
            "ts": pd.to_datetime(
                [
                    "2024-01-01 00:00", "2024-01-01 00:10",  # u1 session A
                    "2024-01-01 01:00", "2024-01-01 01:05",  # u1 session B
                    "2024-01-01 00:00", "2024-01-01 02:00",  # u2 two sessions
                ]
            ),
            "user_id": [1, 1, 1, 1, 2, 2],
            "event_type": ["click"] * 6,
            "value": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
            "props": ["{}"] * 6,
        }
    )
    ev = spark.createDataFrame(rows)
    src = tmp_path / "sess_src"
    ev.write.parquet(str(src))
    stream = spark.readStream.schema(ev.schema).parquet(str(src))
    q = (
        stream_sessionize(stream, gap="30 minutes")
        .writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT user_id, n_events, value_cents FROM sess_test"
    ).toPandas()
    batch = sessionize(ev, gap_minutes=30).toPandas()
    key = lambda df: sorted(
        map(tuple, df[["user_id", "n_events", "value_cents"]].itertuples(index=False))
    )
    assert key(got) == key(batch)
    assert len(got) == 4
