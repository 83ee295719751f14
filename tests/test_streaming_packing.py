"""Streaming sequence packing: stream == batch parity (append
stability), replay idempotence, append-only contract enforcement."""

import pytest
from pyspark.sql import functions as F

from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.operators.packing import (
    pack_sequences,
)
from retrieval_augmented_generation__rag__chatbot_with_vector_database_spark.streaming.packing import (
    STATE_SCHEMA,
    pack_batch,
    read_pack_state,
    start_packing_stream,
)

SCHEMA = "doc_id long, n_tokens long"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _no_state(spark):
    return spark.createDataFrame([], STATE_SCHEMA)


def _slots(df):
    return {
        r.doc_id: (r.shard, r.seq, r.offset) for r in df.collect()
    }


def test_pack_batch_matches_batch_packer_across_arrivals(spark):
    """Three arrivals (ids increasing) == one batch run, slot for slot
    — the append-stability claim cashed out."""
    rows = [(i, (i * 7) % 40 + 1) for i in range(60)]
    batches = [rows[:20], rows[20:45], rows[45:]]
    state = _no_state(spark)
    streamed = {}
    for chunk in batches:
        asg, new_state = pack_batch(
            _df(spark, chunk), state, budget=64, shards=4
        )
        streamed.update(_slots(asg))
        # merge updated shards over prior state (what the state table
        # + latest-batch-wins read does)
        untouched = state.join(
            new_state.select("shard"), "shard", "left_anti"
        )
        state = untouched.unionByName(new_state).localCheckpoint(eager=True)
    offline = _slots(
        pack_sequences(_df(spark, rows), budget=64, shards=4)
    )
    assert streamed == offline


def test_pack_batch_rejects_out_of_order_arrival(spark):
    asg, state = pack_batch(
        _df(spark, [(8, 5)]), _no_state(spark), budget=10, shards=1
    )
    state = state.localCheckpoint(eager=True)
    asg.collect()
    with pytest.raises(Exception, match="append-only contract"):
        pack_batch(_df(spark, [(4, 3)]), state, budget=10, shards=1)[0].collect()


def test_pack_batch_open_bin_continuation_vs_fresh_shard(spark):
    # state: open bin seq=2 fill=6 of budget 10 -> size-5 doc overflows
    state = spark.createDataFrame(
        [(0, 2, 6, 100)], "shard int, seq long, fill long, max_id long"
    )
    asg, _ = pack_batch(_df(spark, [(101, 5)]), state, budget=10, shards=1)
    r = asg.collect()[0]
    assert (r.seq, r.offset) == (3, 0)
    # same doc, fitting size continues the open bin
    asg2, _ = pack_batch(_df(spark, [(101, 4)]), state, budget=10, shards=1)
    r2 = asg2.collect()[0]
    assert (r2.seq, r2.offset) == (2, 6)
    # fresh shard (no state): oversized doc still takes bin 0
    asg3, _ = pack_batch(
        _df(spark, [(7, 99)]), _no_state(spark), budget=10, shards=1
    )
    r3 = asg3.collect()[0]
    assert (r3.seq, r3.offset) == (0, 0)


def test_packing_stream_end_to_end_and_idempotent_redrain(spark, tmp_path):
    landing = tmp_path / "pk_landing"
    landing.mkdir()
    sink = str(tmp_path / "pk_out")
    state_dir = str(tmp_path / "pk_state")
    ckpt = str(tmp_path / "pk_ckpt")

    rows = [(i, (i * 3) % 20 + 1) for i in range(40)]

    def drop(chunk, name):
        _df(spark, chunk).write.parquet(str(landing / name))

    def drain():
        q = start_packing_stream(
            spark, str(landing) + "/*", sink, state_dir, ckpt,
            budget=32, shards=4,
        )
        q.awaitTermination(120)

    drop(rows[:25], "b1")
    drain()
    drop(rows[25:], "b2")
    drain()

    streamed = _slots(spark.read.parquet(sink))
    offline = _slots(pack_sequences(_df(spark, rows), budget=32, shards=4))
    assert streamed == offline

    # re-drain with no new files: nothing changes (checkpoint replay
    # adds nothing, state table stays latest-batch-wins)
    drain()
    assert _slots(spark.read.parquet(sink)) == offline
    st = read_pack_state(spark, state_dir)
    assert st.count() == 4  # one open-bin row per shard
    # high-water mark per shard is the max id of that shard
    hw = {r.shard: r.max_id for r in st.collect()}
    for shard in range(4):
        assert hw[shard] == max(i for i, _ in rows if i % 4 == shard)


def test_packing_stream_state_excludes_current_batch_on_replay(spark, tmp_path):
    """A replayed batch must resume from the PRE-batch state: feeding
    batch_id equal to the one that wrote the state row must not
    self-chain (which would double-advance seq/fill)."""
    b1, _ = pack_batch(
        _df(spark, [(0, 5)]), _no_state(spark), budget=10, shards=1
    )
    state_dir = str(tmp_path / "rp_state")
    _, st = pack_batch(
        _df(spark, [(0, 5)]), _no_state(spark), budget=10, shards=1
    )
    st.write.mode("overwrite").parquet(f"{state_dir}/batch_id=7")
    # replaying batch 7: exclusion yields no state -> fresh shard
    assert read_pack_state(spark, state_dir, exclude_batch_id=7).count() == 0
    # a later batch sees it
    later = read_pack_state(spark, state_dir, exclude_batch_id=8)
    assert later.collect()[0].fill == 5
