"""Streaming NB scoring (streaming/classify.py): stream scores are
hash-identical to the batch path over the same rows, token-less docs
are emitted (NULL prediction) rather than dropped, and a concurrent
update_nb_model fold takes effect on the next drained batch without a
stream restart."""

import pytest
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.classifier import (
    nb_classify,
    save_nb_model,
    update_nb_model,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.classify import (
    CLASSIFY_STREAM_SCHEMA,
    start_classify_stream,
)

_TRAIN = [
    (0, "spam", "buy free click offer buy free"),
    (1, "ham", "meeting report quarter review notes"),
    (2, "spam", "winner cash deal now click"),
    (3, "ham", "schedule team plan review report"),
]
_ARRIVING = [
    (10, "spam", "free cash offer now"),
    (11, "ham", "team meeting schedule plan"),
    (12, "ham", ""),  # token-less: emitted with NULL prediction
]


@pytest.fixture()
def model_path(spark, tmp_path):
    train = spark.createDataFrame(_TRAIN, "doc_id long, lang string, text string")
    p = str(tmp_path / "nb_model")
    save_nb_model(train, p)
    return p


def _drain(spark, landing, model_path, sink, ckpt):
    q = start_classify_stream(
        spark, landing, model_path, sink, ckpt
    )
    q.awaitTermination(120)


def test_stream_scores_match_batch_and_keep_tokenless(spark, tmp_path, model_path):
    landing, sink, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
    )
    docs = spark.createDataFrame(_ARRIVING, CLASSIFY_STREAM_SCHEMA)
    docs.write.parquet(landing)
    _drain(spark, landing, model_path, sink, ckpt)
    got = {
        r["doc_id"]: (r["pred_lang"], r["score"], r["is_correct"])
        for r in spark.read.parquet(sink).collect()
    }
    assert set(got) == {10, 11, 12}  # every row emitted incl. token-less
    assert got[12] == (None, None, None)
    train = spark.createDataFrame(_TRAIN, "doc_id long, lang string, text string")
    want = {
        r["doc_id"]: (r["pred_lang"], r["score"], r["is_correct"])
        for r in nb_classify(train, docs).collect()
    }
    for d, row in want.items():
        assert got[d] == row


def test_model_update_applies_to_next_batch_without_restart(
    spark, tmp_path, model_path
):
    """After update_nb_model folds new labeled data into the layout,
    the NEXT drained batch scores under the updated model — no stream
    restart, same checkpoint."""
    landing, sink, ckpt = (
        str(tmp_path / "in2"),
        str(tmp_path / "out2"),
        str(tmp_path / "ck2"),
    )
    probe = [(20, "ham", "zebra zebra zebra")]  # OOV under model v1
    spark.createDataFrame(probe, CLASSIFY_STREAM_SCHEMA).write.parquet(landing)
    _drain(spark, landing, model_path, sink, ckpt)
    v1 = {r["doc_id"]: r["score"] for r in spark.read.parquet(sink).collect()}

    # fold labeled docs that make 'zebra' a strong ham token
    update_nb_model(
        spark.createDataFrame(
            [(100, "ham", "zebra zebra zebra zebra")],
            "doc_id long, lang string, text string",
        ),
        model_path,
    )
    spark.createDataFrame(
        [(21, "ham", "zebra zebra zebra")], CLASSIFY_STREAM_SCHEMA
    ).write.mode("append").parquet(landing)
    _drain(spark, landing, model_path, sink, ckpt)
    rows = {r["doc_id"]: r for r in spark.read.parquet(sink).collect()}
    assert set(rows) == {20, 21}
    # same text, updated model -> different (better) ham score and a
    # confident ham prediction
    assert rows[21]["pred_lang"] == "ham"
    assert rows[21]["score"] != v1[20]


def test_classify_stream_torn_batch_replay_is_exactly_once(
    spark, tmp_path, model_path, tear_last_commit
):
    """Crash replay: with the checkpoint's last commit removed, the
    restarted stream re-runs that micro-batch under the SAME batch_id.
    The sink must still hold each doc once, with unchanged scores."""
    landing, sink, ckpt = (
        str(tmp_path / "in3"),
        str(tmp_path / "out3"),
        str(tmp_path / "ck3"),
    )
    spark.createDataFrame(_ARRIVING, CLASSIFY_STREAM_SCHEMA).write.parquet(landing)

    def snapshot():
        rows = spark.read.parquet(sink).collect()
        return len(rows), {r["doc_id"]: r["score"] for r in rows}

    _drain(spark, landing, model_path, sink, ckpt)
    before = snapshot()
    assert before[0] == len(_ARRIVING)
    tear_last_commit(ckpt)
    _drain(spark, landing, model_path, sink, ckpt)
    assert snapshot() == before
