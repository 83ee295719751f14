"""Streaming near-duplicate detection (SURVEY.md §2k × the dedup
north-star): MinHash-LSH candidates for NEWLY ARRIVING documents
against everything already ingested — without ever re-running the
all-corpus LSH join.

`streaming/dedup.py` suppresses EXACT re-arrivals; this module covers
near-duplicates (re-uploads with edits, boilerplate clones), the case
batch `minhash_lsh_pairs` handles offline. The streaming form keeps a
persistent **bucket table** on parquet — one row per (doc, band) with
the band key and the full signature — and per micro-batch:

1. signatures + band keys for the batch's docs (the same
   ``banded_wide``/``band_explode`` kernels the batch path uses, so
   stream and batch agree on what a candidate is);
2. re-arrival suppression: ids already in the bucket table are
   skipped (their pairs were emitted when first seen). This is
   ID-keyed: it assumes ids are content-addressed upstream (the
   chunk/document ids here are md5-of-content, ``functions/text.py``),
   so a re-used id implies identical text. For mutable-id sources,
   key the table on the content fingerprint instead
   (``streaming/dedup.py::content_fingerprint``);
3. candidates = batch×batch (intra) ∪ batch×table (cross) on exact
   (band index, band key) — the arriving doc only ever joins the
   buckets it lands in, never the whole corpus;
4. estimated-Jaccard filter, emitted to the pairs sink (per-batch
   ``batch_id=<n>`` partition, overwrite-on-replay = exactly-once —
   ``streaming.drive.write_batch``) with ``id_a < id_b`` normalized;
5. the batch's band rows land in the bucket table the same way.

Union over batches of the emitted pairs == the offline
``minhash_lsh_pairs`` over the union of all docs (batch-parity
tested): an (a, b) pair is found either intra-batch or when the later
of the two arrives.

At 100 TB: the bucket table is the big side and arriving batches are
small — Spark broadcasts the batch's band keys, so each micro-batch
costs a pruned scan of the bucket table (partition the table by a
band-key prefix to make that scan narrow) plus O(batch) work. State
is one row per (doc, band) — disk-resident parquet, not executor
memory, surviving restarts by construction.

Reference parity: the reference re-embeds and upserts uploads with no
near-dup screening (`app/api/routes.py:314-334`); this is a
north-star extension.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.dedup import (
    band_explode,
    banded_wide,
    est_jaccard_column,
    minhash_signatures,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.drive import (
    read_batches,
    start,
    write_batch,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.streaming import StreamingQuery

DOC_STREAM_SCHEMA = "doc_id long, ts timestamp, text string, source string"


def _bucket_schema(id_type: str, n_hashes: int) -> str:
    """The bucket table's row: ``band_explode`` output."""
    sig = ", ".join(f"h{i} string" for i in range(n_hashes))
    return f"id {id_type}, {sig}, b int, bk string"


def neardup_batch(
    batch: DataFrame,
    bucket_table: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_est: float = 0.25,
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch step: returns ``(pairs, new_bucket_rows)``.

    ``pairs``: (id_a, id_b, est_jaccard) with id_a < id_b — intra-batch
    and batch-vs-table candidates above ``min_est``. ``new_bucket_rows``:
    the batch's (id, h0.., b, bk) rows to append to the bucket table
    (re-arrived ids excluded from both). ``bucket_table`` may be
    empty (first batch)."""
    sig = minhash_signatures(
        batch, id_col, text_col, n_hashes, shingle_n
    ).localCheckpoint(eager=True)
    wide = banded_wide(sig, n_hashes, bands)
    seen = bucket_table.select("id").distinct()
    wide = wide.join(seen, "id", "left_anti").localCheckpoint(eager=True)
    blong = band_explode(wide, n_hashes, bands)

    new_keys = blong.select("id", "b", "bk")
    # intra-batch candidates
    a = new_keys.select(F.col("id").alias("id_a"), "b", "bk")
    c = new_keys.select(F.col("id").alias("id_b"), "b", "bk")
    intra = a.join(c, ["b", "bk"]).filter(F.col("id_a") < F.col("id_b"))
    # batch-vs-table: the arriving doc joins only its buckets; the
    # batch side is broadcast so the table is never shuffled
    old_keys = bucket_table.select(F.col("id").alias("id_o"), "b", "bk")
    cross = old_keys.join(F.broadcast(new_keys), ["b", "bk"]).select(
        F.least("id", "id_o").alias("id_a"),
        F.greatest("id", "id_o").alias("id_b"),
    )
    cand = intra.select("id_a", "id_b").unionByName(cross).distinct()

    # signature lookup: new docs from the batch, old docs from the table
    hs = [f"h{i}" for i in range(n_hashes)]
    all_sig = wide.select("id", *hs).unionByName(
        bucket_table.select("id", *hs).dropDuplicates(["id"])
    )
    sa = all_sig.select(
        F.col("id").alias("id_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(n_hashes)],
    )
    sb = all_sig.select(
        F.col("id").alias("id_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(n_hashes)],
    )
    pairs = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", est_jaccard_column(n_hashes))
        .filter(F.col("est_jaccard") >= min_est)
        .select("id_a", "id_b", "est_jaccard")
    )
    return pairs, blong


def start_neardup_stream(
    spark: SparkSession,
    landing_glob: str,
    bucket_dir: str,
    pairs_sink: str,
    checkpoint_dir: str,
    schema: str = DOC_STREAM_SCHEMA,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_est: float = 0.25,
) -> "StreamingQuery":
    """File-stream wrapper: documents drop into ``landing_glob``;
    near-dup pairs land in ``pairs_sink``; the bucket table grows in
    ``bucket_dir`` (``streaming.drive``).

    Exactly-once: both sinks are per-batch ``write_batch`` partitions
    — a replayed batch (same batch_id) overwrites its own torn
    partitions instead of duplicating rows — and the bucket-table read
    excludes the current batch's partition, so the replay pairs
    against the table exactly as it stood before the first attempt
    (otherwise it would self-suppress: its ids already present). The
    batch must still pair against the PRE-batch table, never itself
    through the table; the exclusion guarantees that on replay and the
    read-before-write ordering guarantees it on first attempt."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        id_type = batch.schema[id_col].dataType.simpleString()
        table = read_batches(
            s, bucket_dir, _bucket_schema(id_type, n_hashes), batch_id
        ).drop("batch_id")
        pairs, new_rows = neardup_batch(
            batch, table, id_col, text_col, n_hashes, bands, shingle_n, min_est
        )
        # pairs first (they reference the pre-batch table); new_rows is
        # localCheckpoint'd so the write below cannot change the pairing
        write_batch(pairs, pairs_sink, batch_id)
        write_batch(new_rows, bucket_dir, batch_id)

    return start(
        spark.readStream.schema(schema).parquet(landing_glob),
        checkpoint_dir,
        each_batch=_process,
    )


def delete_bucket_table_ids(
    spark: SparkSession, bucket_dir: str, ids: DataFrame | list[int]
) -> dict:
    """Right-to-be-forgotten on the near-dup bucket table: the table
    persists one (id, signature, band-key) row per (doc, band) — a
    doc's minhash signature is derived personal data and must be
    purged with the doc. Rewrites ONLY the ``batch_id=<n>`` partitions
    holding the victim ids (column-pruned discovery scan, anti-join
    rewrite, marker-fenced swap — the touched-partition discipline of
    every other layout). Deleting absent ids is a no-op, so replayed
    takedown batches converge (idempotent, like all layout hooks).

    Side effect by design: a forgotten id that re-arrives later is no
    longer suppressed and will re-pair — correct, the engine has no
    memory of a forgotten document.

    Returns ``{"n_deleted": rows_removed, "touched": [batch_ids]}``.
    """
    import os

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.layout import (
        check_not_torn,
        delete_keys,
    )

    if isinstance(ids, (list, tuple)):
        ids = spark.createDataFrame([(int(i),) for i in ids], "id long")
    idf = (
        ids.select(F.col(ids.columns[0]).cast("long").alias("id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if not os.path.exists(bucket_dir):
        return {"n_deleted": 0, "touched": []}
    check_not_torn(bucket_dir)
    try:
        t = spark.read.parquet(bucket_dir)
    except AnalysisException:
        return {"n_deleted": 0, "touched": []}
    n_deleted, touched = delete_keys(t, bucket_dir, "batch_id", idf, "id")
    return {"n_deleted": n_deleted, "touched": touched}
