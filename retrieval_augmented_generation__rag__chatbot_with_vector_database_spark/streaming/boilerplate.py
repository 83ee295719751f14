"""Streaming common-line boilerplate scrub (SURVEY.md §2k × the
corpus-line-dedup north-star): the RefinedWeb/Falcon boilerplate
killer (``operators/dedup.py::common_lines`` / ``strip_common_lines``)
as continuous operation — arriving documents are scrubbed against a
line blocklist that GROWS with the corpus, without ever re-counting
the whole corpus per batch.

State = a persisted **line-occurrence table**: per-batch
``batch_id=<n>`` parquet dirs of DISTINCT ``(line, doc_id)`` rows
(trimmed non-empty lines). Occurrences are IDEMPOTENT by key — the
current blocklist is ``count(*) >= K`` over the DISTINCT union of
dirs — which is what makes replays converge even when a
checkpoint-loss replay RE-BATCHES the landing files: a rewritten wave
dir may overlap an older one, and the distinct-union absorbs the
overlap exactly (additive per-batch COUNT partials would double-count
there — caught by the crash-replay test). Same discipline as the
near-dup bucket table (``streaming/neardup.py``); compaction-friendly
(folding preserves rows) and fenced reads throughout.

Per micro-batch: (1) the batch's distinct line occurrences are
computed once; (2) the blocklist = table occurrences (excluding the
batch's own dir) UNION the batch's, distinct-counted and thresholded
— so a line that crosses K *within* the arriving batch is already
scrubbed from it; (3) the batch's docs are stripped and land in the
scrubbed sink (``batch_id=<n>``, overwrite); (4) the occurrences land
in the table LAST (crash ordering: a replay recomputes the blocklist
from the same inputs and the overwrites converge).

Semantics contract — deliberately NOT batch-equal: a stream scrubs
each document against the blocklist AS OF its arrival. A line that
only crosses K in batch 9 stays in batches 1–8's output (they were
clean by everything known then); retro-cleaning history is a batch
rewrite job (run ``strip_common_lines`` over the stored corpus with
the current blocklist), not a streaming concern. This is the honest
production shape: the alternative — reprocessing all history per
batch — is exactly what incremental operation exists to avoid.

At 100 TB: per batch the big side is the occurrence table; it
aggregates on the line key (AQE-sized) and only the thresholded
blocklist — boilerplate is by definition the heavy-hitter tail, tiny
next to the corpus — reaches the strip's anti-join as a broadcast.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.dedup import (
    strip_common_lines,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.layout import (
    check_not_torn,
    delete_keys,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.streaming import StreamingQuery

DOC_STREAM_SCHEMA = "doc_id long, text string"
LINE_OCCURRENCE_SCHEMA = "line string, doc_id long"


def read_line_occurrences(
    spark: SparkSession, counts_dir: str, exclude_batch: int | None = None
) -> DataFrame:
    """The persisted per-batch ``(line, doc_id)`` occurrence rows
    (module doc); fenced against torn compactions, optionally
    excluding one batch's own dir (the replay guard). May contain
    duplicates ACROSS dirs after a re-batched replay — consumers
    must distinct (``line_blocklist`` does)."""
    if os.path.isdir(counts_dir):
        check_not_torn(counts_dir)
        dirs = [
            f"{counts_dir}/{e.name}"
            for e in os.scandir(counts_dir)
            if e.name.startswith("batch_id=")
            and (exclude_batch is None or e.name != f"batch_id={exclude_batch}")
        ]
        if dirs:
            return spark.read.schema(LINE_OCCURRENCE_SCHEMA).parquet(*dirs)
    return spark.createDataFrame([], LINE_OCCURRENCE_SCHEMA)


def line_blocklist(occurrences: DataFrame, min_count: int) -> DataFrame:
    """Occurrence rows → the current blocklist: distinct
    ``(line, doc_id)`` then ``count >= min_count``. Doc-id keying
    makes re-arrivals of the same doc idempotent by construction
    (content-addressed ids upstream — ``streaming/dedup.py`` — make
    a re-used id imply identical text, the neardup table's contract)."""
    return (
        occurrences.distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_count)
        .select("line", "n_docs")
    )


def _batch_occurrences(docs: DataFrame, text_col: str = "text") -> DataFrame:
    line = F.trim(F.col("_line"))
    return (
        docs.select(
            "doc_id", F.explode(F.split(F.col(text_col), "\n")).alias("_line")
        )
        .select(line.alias("line"), "doc_id")
        .filter(F.col("line") != "")
        .distinct()
    )


def start_boilerplate_stream(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    counts_dir: str,
    checkpoint_dir: str,
    min_count: int = 10,
    available_now: bool = True,
) -> "StreamingQuery":
    """Scrub arriving docs (parquet files of ``DOC_STREAM_SCHEMA``)
    against the growing blocklist (module doc for state, ordering,
    and the as-of-arrival semantics contract). Scrubbed docs land in
    ``out_dir/batch_id=<n>`` with the per-doc audit counts
    ``n_lines_before``/``n_lines_after``."""
    stream = spark.readStream.schema(DOC_STREAM_SCHEMA).parquet(landing_dir)

    def _process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        docs = batch.localCheckpoint(eager=True)
        occ = _batch_occurrences(docs).localCheckpoint(eager=True)
        known = read_line_occurrences(spark, counts_dir, exclude_batch=batch_id)
        bl = line_blocklist(known.unionByName(occ), min_count)
        out = strip_common_lines(docs, bl)
        out.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
        # occurrences LAST (crash ordering, module doc)
        occ.write.mode("overwrite").parquet(
            f"{counts_dir}/batch_id={batch_id}"
        )

    return (
        stream.writeStream.option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_process)
        .trigger(availableNow=True)
        .start()
        if available_now
        else stream.writeStream.option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_process)
        .start()
    )


def read_scrubbed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Every scrubbed doc written so far — ONE row per doc_id. A
    checkpoint-loss replay that re-batches the landing files can
    overwrite ``batch_id=0`` with all docs while older ``batch_id=N``
    dirs from the first run persist, so the raw dir union may hold a
    doc twice; the latest batch dir wins (scrub output is monotone —
    a later batch scrubbed against a blocklist at least as large), the
    same dedup discipline as ``frontier_admit.pending_fetch_list``."""
    if os.path.isdir(out_dir):
        dirs = [
            f"{out_dir}/{e.name}"
            for e in os.scandir(out_dir)
            if e.name.startswith("batch_id=")
        ]
        if dirs:
            from pyspark.sql import Window

            df = spark.read.option("basePath", out_dir).parquet(*dirs)
            w = Window.partitionBy("doc_id").orderBy(F.col("batch_id").desc())
            return (
                df.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") == 1)
                .drop("_rk", "batch_id")
            )
    return spark.createDataFrame(
        [], "doc_id long, text string, n_lines_before long, n_lines_after long"
    )


def delete_line_occurrences(
    spark: SparkSession, counts_dir: str, ids: DataFrame | list[int]
) -> dict:
    """Right-to-be-forgotten on the line-occurrence table: a doc's
    lines are derived personal data exactly like its minhash
    signature (``streaming/neardup.py``) — forgetting the doc must
    forget its ``(line, doc_id)`` rows, or the engine retains
    fragments of the text. Touched-partition discipline: discovery
    scan finds the ``batch_id=<n>`` dirs holding the ids, an
    anti-join rewrites ONLY those, marker-fenced swap, idempotent.
    The blocklist may SHRINK as a result (a line dropping below K) —
    correct by design: counts must reflect only retained documents.
    Returns ``{"n_deleted": ..., "touched": [...]}``."""
    if isinstance(ids, (list, tuple)):
        ids = spark.createDataFrame([(int(i),) for i in ids], "doc_id long")
    victims = ids.select(
        F.col(ids.columns[0]).cast("long").alias("doc_id")
    ).distinct().localCheckpoint(eager=True)
    if not os.path.isdir(counts_dir) or not any(
        e.name.startswith("batch_id=") for e in os.scandir(counts_dir)
    ):
        return {"n_deleted": 0, "touched": []}
    check_not_torn(counts_dir)
    t = spark.read.schema(LINE_OCCURRENCE_SCHEMA).option(
        "basePath", counts_dir
    ).parquet(f"{counts_dir}/batch_id=*")
    n_deleted, touched = delete_keys(
        t, counts_dir, "batch_id", victims, "doc_id"
    )
    return {"n_deleted": n_deleted, "touched": touched}
