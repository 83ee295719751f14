"""Search-path dispatcher — the single front door over the engine's
three batch-retrieval strategies, so callers say WHAT (queries, k,
metric) and the router picks HOW from what exists on disk. The
reference's analog is the argmax index-selection probe before querying
(`app/api/routes.py:78-116` picks the index, then
`pinecone_service.py:148-182` runs one fixed search path); here the
decision space is the engine's real strategy ladder:

| path        | when                                            | executor |
|-------------|-------------------------------------------------|----------|
| ``ivfpq``   | layout dir carries ``_ivfpq_meta.json`` AND the metric matches the layout's transform: raw→euclidean, ``normalize``→cosine, ``mips``→dotproduct (a transformed layout serves exactly its own metric) | driver or Spark, by the bytes rule |
| ``ivf``     | layout dir carries ``_ivf_meta.json`` AND the metric is the one the layout was assigned under | driver or Spark, by the bytes rule |
| ``exact_gemm`` | no layout: Arrow GEMM exact scan             | Spark |

The bytes rule: the data files of the probed ``centroid_id=<c>``
directories (only those are listed) hold at most
:data:`DRIVER_PROBE_BYTES` → the driver runs the probe's kernel, one
call per probed bucket over a pyarrow read, ranks with
``topk.rank_top_k_arrays`` and returns a local frame, so the probe
starts no Spark job; otherwise the same kernel runs in one
``mapInArrow`` stage followed by ``topk.rank_top_k``. The preparation
(query matrix, layout space, probe plan, bound kernel: ``ann.Probe``)
is computed once, before the choice. Per bucket, the driver's
candidates are each (query, bucket) ADC top-``fetch_k``; a Spark task
that reads several buckets cuts their union instead, so the driver's
set is equal (one bucket per task) or a superset.

Rationale: a persisted inverted-file layout always beats rescanning
(partition-pruned probe reads nprobe bucket dirs); with both quantized
and float layouts available the quantized one wins (16 B/row scan,
full-precision rerank restores quality); without any layout the Arrow
GEMM kernel scores at ~100x less per-score CPU than the interpreted
HOF fold (``topk.topk_search`` stays the bit-exact reference).

``route()`` is a pure function of (layout sidecar, metric) and is what
tests pin; ``search()`` dispatches on its answer. Routing reads NO
data — sidecar JSON only. A metric outside ``functions.vector.METRICS``
raises on every path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

#: dotproduct-over-IVFPQ over-fetches at least this FRACTION of the
#: layout's ``rows_at_build``: MIPS is the hardest metric for
#: reconstruction-optimal PQ (the sqrt coordinate concentrates the
#: inner-product signal; SCALE.md: recall 0.037 at fetch-100 vs ≥0.9
#: at ~1% over-fetch on the 500k hard case). Only ever raises
#: ``fetch_k``, so full-coverage results are unchanged.
MIPS_FETCH_FLOOR = 0.01

#: a centroid-layout probe whose probed buckets hold at most this many
#: bytes of data files runs on the driver, larger ones on Spark. The
#: rule reads only the listing, never the workload. The value is not a
#: speed crossover (on a 4-core host, over a 300k-row 64-d layout, the
#: driver was faster at every probe size measured, 9 to 148 MiB); it
#: bounds the driver's memory per request and is kept below Spark's
#: ``spark.sql.execution.arrow.localRelationThreshold`` (48 MiB), under
#: which a pre_filter's local frame of the probed rows stays a
#: driver-side ``LocalRelation`` that Spark folds the filter into. The
#: bound is on compressed on-disk bytes and that threshold on Arrow
#: bytes in memory, so this is not a guarantee: a frame past the
#: threshold costs one more job, not other rows.
DRIVER_PROBE_BYTES = 32 << 20


def _arrow_schemas():
    import pyarrow as pa

    scored = pa.schema([
        ("query_id", pa.int64()), ("vec_id", pa.int64()), ("score", pa.float64()),
    ])
    # row_number() is never null: the same schema as rank_top_k's
    return scored, scored.append(pa.field("rank", pa.int32(), nullable=False))


def route(layout_path: str | None = None, metric: str = "cosine") -> dict:
    """Pick the search path. Returns {"path": ..., "reason": ...,
    "meta": the parsed layout sidecar, None without a layout}; raises
    on an unknown metric and on contradictions (an IVFPQ layout's ADC
    is squared-L2, so it serves exactly the metric its build flags
    define — see ``pq.check_layout_metric``; an IVF layout's buckets
    are nearest-centroid cells under its build metric, so probing them
    in another metric's centroid order would prune the wrong cells)."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.functions.vector import (
        check_metric,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
        IVF_META,
        ivf_meta,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.pq import (
        IVFPQ_META,
        check_layout_metric,
        load_ivfpq_meta,
    )

    check_metric(metric)
    if layout_path is None:
        return {
            "path": "exact_gemm",
            "reason": "no layout: Arrow GEMM exact scan",
            "meta": None,
        }
    if os.path.exists(os.path.join(layout_path, IVFPQ_META)):
        meta = load_ivfpq_meta(layout_path)
        check_layout_metric(metric, meta)
        reason = {
            "euclidean": f"{IVFPQ_META} present: 16 B/row pruned probe + rerank",
            "cosine": f"{IVFPQ_META} present, normalized: ADC order "
            "≡ cosine order on unit vectors + cosine rerank",
            "dotproduct": f"{IVFPQ_META} present, MIPS-augmented: ADC "
            "order ≡ dot-product order + dotproduct rerank",
        }[metric]
        return {"path": "ivfpq", "reason": reason, "meta": meta}
    if os.path.exists(os.path.join(layout_path, IVF_META)):
        meta = ivf_meta(layout_path)
        if meta["metric"] != metric:
            raise ValueError(
                f"IVF layout at {layout_path!r} was assigned under "
                f"{meta['metric']!r}; it cannot serve metric={metric!r}"
            )
        return {
            "path": "ivf",
            "reason": f"{IVF_META} present: partition-pruned nprobe probe",
            "meta": meta,
        }
    raise ValueError(
        f"layout_path {layout_path!r} has neither {IVFPQ_META} nor "
        f"{IVF_META} — not a persisted vector layout"
    )


def search(
    queries: DataFrame,
    index: DataFrame | None = None,
    k: int = 5,
    metric: str = "cosine",
    layout_path: str | None = None,
    nprobe: int = 4,
    fetch_k: int = 50,
    pre_filter=None,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Dispatching batch top-k: (query_id, vec_id, score, rank) from
    whichever strategy :func:`route` picks. ``index`` is the
    full-precision frame the exact path scans; the layout paths read
    only ``layout_path`` (an IVFPQ layout stores the raw vectors its
    rerank needs next to the codes) and ignore it. Dotproduct over
    IVFPQ raises ``fetch_k`` to :data:`MIPS_FETCH_FLOOR` of the
    layout's rows.

    ``pre_filter``: a static metadata predicate (Column over index/
    layout columns — compose one from a Pinecone-style dict with
    ``functions.filter_dsl.filter_dict_to_column``, the reference's
    query-filter argument). Every strategy applies it BEFORE scoring —
    the exact path filters the scan, the IVF probe filters inside the
    pruned buckets, and the IVFPQ probe needs the layout built with
    ``meta_cols`` carrying the filtered columns (single-stage
    filtering: the top-k is the filtered corpus's own)."""
    r = route(layout_path, metric)
    path, meta = r["path"], r["meta"]

    if path == "ivfpq":
        from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.pq import (
            ivfpq_probe,
        )

        if metric == "dotproduct":
            import math

            built = int(meta.get("rows_at_build", 0) or 0)
            fetch_k = max(fetch_k, math.ceil(MIPS_FETCH_FLOOR * built))
        probe = ivfpq_probe(
            queries, meta, k, nprobe, fetch_k, query_id_col, query_vec_col,
            id_col, vec_col,
        )
        return _run_probe(queries.sparkSession, layout_path, probe, pre_filter)
    if path == "ivf":
        from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
            ivf_probe,
            sidecar_centroids,
        )

        probe = ivf_probe(
            queries, sidecar_centroids(meta), k, nprobe, metric,
            meta.get("compression") == "int8", query_id_col, query_vec_col,
            id_col, vec_col,
        )
        return _run_probe(queries.sparkSession, layout_path, probe, pre_filter)
    if index is None:
        raise ValueError("exact search needs an index frame")
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
        topk_search_gemm,
    )

    return topk_search_gemm(
        queries,
        index,
        k=k,
        metric=metric,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        id_col=id_col,
        vec_col=vec_col,
        pre_filter=pre_filter,
    )


def _run_probe(spark, layout_path: str, probe, pre_filter) -> DataFrame:
    """Run a prepared centroid-layout probe (``ann.Probe``) with the
    executor the bytes rule picks: the probed buckets' data files are
    listed (only their directories, behind the torn-swap fence), and a
    probe of at most :data:`DRIVER_PROBE_BYTES` runs on the driver,
    anything larger on Spark. A file that disappears between the
    listing and the driver read, or while the probed directories are
    listed (a concurrent swap), re-lists once."""
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.ann import (
        probe_on_spark,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.layout import (
        partition_files,
        read_parquet,
    )

    for attempt in (0, 1):
        try:
            files = partition_files(layout_path, "centroid_id", probe.probed)
            if sum(n for fs in files.values() for _, n in fs) > DRIVER_PROBE_BYTES:
                break
            return _probe_on_driver(spark, files, probe, pre_filter)
        except FileNotFoundError:
            if attempt:
                raise
    return probe_on_spark(read_parquet(spark, layout_path), probe, pre_filter)


def _probe_on_driver(spark, files: dict, probe, pre_filter) -> DataFrame:
    """The driver executor: each probed bucket read with pyarrow and
    handed to the probe's kernel in its own call, the per-query top-k
    window in numpy (``topk.rank_top_k_arrays``), and the rows returned
    as a local frame (a ``LocalRelation``: scanning or broadcasting it
    starts no job).

    ``pre_filter`` keeps Spark's semantics: it runs over a local frame
    of the probed rows (every column, with ``centroid_id``), and only
    the rows it keeps reach the kernel. A deterministic predicate
    without a Python UDF folds into the local relation and starts no
    job."""
    import pyarrow as pa

    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.topk import (
        rank_top_k_arrays,
    )
    from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.sources.layout import (
        read_partitions,
    )

    layout_cols = list(dict.fromkeys(
        c for c in probe.columns.values() if c != "centroid_id"
    ))
    scored_schema, ranked_schema = _arrow_schemas()
    tables = read_partitions(
        files, "centroid_id", layout_cols, all_columns=pre_filter is not None
    )
    if pre_filter is not None and tables:
        tables = _driver_filter(spark, tables, pre_filter)
    names, sources = list(probe.columns), list(probe.columns.values())
    out = [
        b
        for t in tables.values()
        if t.num_rows
        for b in probe.kernel(
            t.select(sources).rename_columns(names).combine_chunks().to_batches()
        )
    ]
    scored = (
        pa.Table.from_batches(out, schema=scored_schema)
        if out
        else scored_schema.empty_table()
    )
    qid = scored.column("query_id").to_numpy()
    vid = scored.column("vec_id").to_numpy()
    score = scored.column("score").to_numpy()
    rows, rank = rank_top_k_arrays(qid, vid, score, probe.k, probe.metric)
    return spark.createDataFrame(
        pa.Table.from_arrays(
            [pa.array(qid[rows]), pa.array(vid[rows]), pa.array(score[rows]),
             pa.array(rank)],
            schema=ranked_schema,
        )
    )


def _driver_filter(spark, tables: dict, pre_filter) -> dict:
    """``tables`` cut to the rows ``pre_filter`` keeps, evaluated by
    Spark over a local frame of every column of the probed rows, so a
    predicate may name any column the Spark executor's scan has."""
    import numpy as np
    import pyarrow as pa

    whole = pa.concat_tables(tables.values())
    local = whole.append_column("__row", pa.array(np.arange(whole.num_rows)))
    kept = np.zeros(whole.num_rows, dtype=bool)
    rows = [r[0] for r in spark.createDataFrame(local).filter(pre_filter)
            .select("__row").collect()]
    kept[np.array(rows, dtype=np.int64)] = True
    out, at = {}, 0
    for c, t in tables.items():
        out[c] = t.filter(pa.array(kept[at:at + t.num_rows]))
        at += t.num_rows
    return out
