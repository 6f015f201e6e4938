"""Incremental corpus ingestion with cross-batch dedup — the pattern a
100 TB training-data pipeline actually runs: new documents arrive
continuously, and each micro-batch must be deduplicated BOTH within itself
and against everything ever ingested, without re-deduplicating the corpus.

Composition of existing engine pieces:

  stream of docs ──foreachBatch──▶ in-batch exact dedup (min doc_id per
  fingerprint) ──▶ anti-join against the persisted FINGERPRINT INDEX
  (32-byte SHA-256 keys only — the historical corpus text never reloads)
  ──▶ exactly-once append of surviving docs to a versioned table
  ──▶ append the new fingerprints to the index

Crash safety: the doc append is idempotent via the (queryId, batchId) txn
guard (sinks/versioned.append_snapshot_idempotent); the fingerprint index
is updated AFTER the doc commit, so a crash between the two re-runs the
batch, finds the txn already applied, and only repairs the index — new
fingerprints are re-derived from the batch, and re-appending them is
harmless (the index is a set; the anti-join tolerates duplicates).

Scale: per batch, work is O(batch) + one equi-join of batch fingerprints
against the hash-partitioned index — never O(corpus). The reference ETL's
analogue is its insert_id idempotence at the sink (utils.js:74); here the
dedup key is content-derived and the "sink" is the lakehouse table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sinks.versioned import append_snapshot_idempotent


def ingest_batch(
    batch_docs: DataFrame, table_path: str, index_path: str, txn_id: str
) -> int:
    """Process one batch: in-batch dedup, historical anti-join, exactly-once
    append, index update. Returns the number of NEW documents admitted."""
    spark = batch_docs.sparkSession
    deduped = (
        batch_docs.withColumn("fingerprint", F.sha2(F.col("text"), 256))
        .groupBy("fingerprint")
        .agg(F.min(F.struct(*batch_docs.columns)).alias("_doc"))
        .select("fingerprint", "_doc.*")
    )
    if os.path.exists(index_path):
        index = spark.read.parquet(index_path)
        fresh = deduped.join(index, "fingerprint", "left_anti")
    else:
        fresh = deduped
    fresh = fresh.localCheckpoint(eager=True)  # stable across the two writes
    n_new = fresh.count()
    if n_new:
        append_snapshot_idempotent(fresh.drop("fingerprint"), table_path, txn_id)
        # ALWAYS record the fingerprints when any survived the anti-join:
        # `fresh` is non-empty precisely when the index lacks them — either
        # this is a first run, or a replay repairing a crash that landed the
        # doc commit but lost the index write. (A replay whose index write
        # DID land sees fresh empty and never reaches here, so no bloat.)
        fresh.select("fingerprint").write.mode("append").parquet(index_path)
    return n_new


def dedup_ingest_stream(stream_docs: DataFrame, table_path: str, index_path: str):
    """Start the streaming ingestion: each micro-batch runs ingest_batch
    under a (queryId, batchId) transaction id. Checkpoint-restart replays
    at most the last uncommitted batch, which the txn guard absorbs."""

    checkpoint = table_path + "_ingest_ckpt"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # query-scoped tag (real queryId local property, or checkpoint hash)
        # — see sinks/versioned.streaming_txn_tag for why conf.get won't do
        from ..sinks.versioned import streaming_txn_tag

        qid = streaming_txn_tag(batch_df, checkpoint)
        ingest_batch(batch_df, table_path, index_path, f"{qid}-{batch_id}")
    return (
        stream_docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def ingest_batch_neardup(
    batch_docs: DataFrame,
    table_path: str,
    index_path: str,
    txn_id: str,
    k: int = 64,
    bands: int = 8,
    threshold: float = 0.8,
) -> int:
    """Near-dup-aware ingestion: one batch is admitted only where each doc is
    neither an exact NOR an approximate (MinHash-estimated Jaccard >=
    ``threshold``) duplicate of anything previously ingested, or of an
    earlier-keyed doc in the same batch.

    The persisted index is the LSH decomposition of every admitted doc,
    both roles in one ``_kind``-partitioned dir (columns of the other role
    are null):

        <index>/parts/_kind=bands/  (fingerprint, band, bhash)
            band keys ONLY — the join side; 8 small rows per doc
        <index>/parts/_kind=sigs/   (fingerprint, sig)
            one 64-long signature per doc — fetched only for
            band-colliding candidates

    An index in the older ``<index>/{bands,sigs}/`` layout (no ``parts/``)
    is refused with a RuntimeError: reading it as "no history" would
    re-admit every near-dup it already holds.

    Per batch the history check is: batch bands ⋈ index bands on
    (band, bhash) → candidate pairs (expected O(near-dup pairs), never
    O(corpus)) → join candidates' signatures → component-agreement Jaccard
    estimate → reject at ``threshold``. Exact duplicates collide on EVERY
    band with estimate 1.0, so the exact guarantee is subsumed — but the
    in-batch exact groupBy still runs first because it is cheaper than
    signing duplicate text twice.

    In-batch near-dups use the same banding and component-agreement
    estimate as minhash_lsh_pairs, but computed from ONE materialized
    signature pass shared with the history check and the index write (the
    MinHash fold is the batch's dominant cost — signing once instead of
    three times); of each candidate pair the larger doc key is dropped
    (greedy keep-lowest — the cheap standard policy; full transitive
    clustering is operators/dedup.connected_components if a consumer
    wants it).

    Crash safety mirrors ingest_batch: the doc append is idempotent via the
    txn guard; index appends run AFTER the doc commit; a replay re-derives
    and re-appends signatures, and the candidate join tolerates duplicate
    index rows (dropDuplicates on the pair key).

    Returns the number of admitted documents."""
    from ..operators.dedup import (
        band_hashes,
        minhash_signature,
        shingles_col,
    )

    parts_dir = os.path.join(index_path, "parts")
    legacy = [
        d for d in ("bands", "sigs") if os.path.exists(os.path.join(index_path, d))
    ]
    if legacy and not os.path.exists(parts_dir):
        raise RuntimeError(
            f"near-dup index {index_path} has the legacy layout "
            f"({', '.join(d + '/' for d in legacy)}) but no parts/ dir; only "
            "parts/_kind={bands,sigs} is read — rebuild the index by "
            "re-ingesting the admitted documents into a fresh index path"
        )
    spark = batch_docs.sparkSession
    id_col = batch_docs.columns[0]

    # 1. in-batch exact dedup (min key per fingerprint)
    deduped = (
        batch_docs.withColumn("fingerprint", F.sha2(F.col("text"), 256))
        .groupBy("fingerprint")
        .agg(F.min(F.struct(*batch_docs.columns)).alias("_doc"))
        .select("fingerprint", "_doc.*")
    )

    # 2. sign ONCE and materialize: the MinHash fold is the batch's
    # expensive step, and three consumers need it (in-batch banding, the
    # history banding, the admitted-rows index write) — without the
    # checkpoint each anti-join leg re-evaluates the signature expression
    signed_all = deduped.withColumn(
        "_sig", minhash_signature(shingles_col(F.col("text")), k)
    ).localCheckpoint(eager=True)
    all_bands = signed_all.select(
        id_col,
        "fingerprint",
        "_sig",
        F.posexplode(band_hashes(F.col("_sig"), k, bands)).alias(
            "band", "bhash"
        ),
    )

    # 3. in-batch near-dup from the SHARED signatures (same banding +
    # component-agreement estimate as minhash_lsh_pairs, which would
    # otherwise re-sign every doc): greedy keep-lowest per candidate pair
    agree = (
        F.size(
            F.filter(
                F.zip_with("_siga", "_sigb", lambda a, b: a == b), lambda x: x
            )
        ).cast("double")
        / F.lit(float(k))
    )
    pairs = (
        all_bands.alias("l")
        .join(
            all_bands.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bhash") == F.col("r.bhash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("_a"),
            F.col(f"r.{id_col}").alias("_b"),
            F.col("l._sig").alias("_siga"),
            F.col("r._sig").alias("_sigb"),
        )
    )
    # NO pair-level dropDuplicates by default: a pair colliding in several
    # bands re-evaluates the (cheap, inline) agreement estimate to the
    # same verdict, and the trailing single-column distinct dedups the
    # losers anyway — while dropDuplicates exchanged the two 64-long
    # signature arrays per pair just to save those re-evaluations
    # (narrower shuffle, one less exchange; guide §2.3). The HISTORY
    # path keeps its pair dedup because there duplicates would multiply
    # a subsequent signature-fetch join, not an inline expression.
    losers = (
        pairs
        .filter(agree >= threshold)
        .select(F.col("_b").alias(id_col))
        .distinct()
    )
    signed = signed_all.join(losers, id_col, "left_anti")

    # 4. vs history: band-bucket candidates, then signature re-estimate.
    # Both index roles live under ONE _kind-partitioned dir so the
    # per-batch index update is a single write job (was two writes of the
    # same checkpointed frame); readers scan one role's subdir with the
    # other role's null columns pruned at the columnar scan.
    bands_dir = os.path.join(parts_dir, "_kind=bands")
    sigs_dir = os.path.join(parts_dir, "_kind=sigs")
    if os.path.exists(bands_dir):
        batch_bands = all_bands.join(losers, id_col, "left_anti").select(
            "fingerprint", "_sig", "band", "bhash"
        )
        hist_bands = spark.read.parquet(bands_dir).select(
            "fingerprint", "band", "bhash"
        )
        cand = (
            batch_bands.alias("b")
            .join(hist_bands.alias("h"), ["band", "bhash"])
            .select(
                F.col("b.fingerprint").alias("fingerprint"),
                F.col("b._sig").alias("_sig"),
                F.col("h.fingerprint").alias("_hfp"),
            )
            .dropDuplicates(["fingerprint", "_hfp"])
        )
        hist_sigs = spark.read.parquet(sigs_dir).select(
            F.col("fingerprint").alias("_hfp"), F.col("sig").alias("_hsig")
        )
        est = (
            F.size(
                F.filter(
                    F.zip_with("_sig", "_hsig", lambda a, b: a == b), lambda x: x
                )
            ).cast("double")
            / F.lit(float(k))
        )
        near_hist = (
            cand.join(hist_sigs, "_hfp")
            .withColumn("_est", est)
            .filter(F.col("_est") >= threshold)
            .select("fingerprint")
            .distinct()
        )
        fresh = signed.join(near_hist, "fingerprint", "left_anti")
    else:
        fresh = signed

    fresh = fresh.localCheckpoint(eager=True)  # stable across the writes
    n_new = fresh.count()
    if n_new:
        append_snapshot_idempotent(
            fresh.drop("fingerprint", "_sig"), table_path, txn_id
        )
        # index updates AFTER the doc commit (crash -> replay repairs; the
        # candidate join tolerates re-appended rows). Band keys and
        # signatures land in ONE _kind-partitioned append over the
        # checkpointed frame — one job, two roles.
        band_rows = fresh.select(
            "fingerprint",
            F.posexplode(band_hashes(F.col("_sig"), k, bands)).alias(
                "band", "bhash"
            ),
            F.lit(None).cast("array<bigint>").alias("sig"),
            F.lit("bands").alias("_kind"),
        )
        sig_rows = fresh.select(
            "fingerprint",
            F.lit(None).cast("int").alias("band"),
            F.lit(None).cast("bigint").alias("bhash"),
            F.col("_sig").cast("array<bigint>").alias("sig"),
            F.lit("sigs").alias("_kind"),
        )
        band_rows.unionByName(sig_rows).write.mode("append").partitionBy(
            "_kind"
        ).parquet(parts_dir)
    return n_new


def neardup_ingest_stream(
    stream_docs: DataFrame,
    table_path: str,
    index_path: str,
    k: int = 64,
    bands: int = 8,
    threshold: float = 0.8,
):
    """Streaming wrapper for ingest_batch_neardup — each micro-batch runs
    under a (queryId, batchId) transaction id, same contract as
    dedup_ingest_stream."""

    checkpoint = table_path + "_ingest_ckpt"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from ..sinks.versioned import streaming_txn_tag

        qid = streaming_txn_tag(batch_df, checkpoint)
        ingest_batch_neardup(
            batch_df, table_path, index_path, f"{qid}-{batch_id}",
            k=k, bands=bands, threshold=threshold,
        )

    return (
        stream_docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .start()
    )
