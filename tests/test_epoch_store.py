"""The three shared mechanisms behind every streaming sink and store, driven
in batch (no ``readStream``, so they sit in the fast tier):

- ``epoch_write`` — the epoch-keyed dynamic-overwrite commit;
- ``read_store`` — an epoch store's history, or ``None`` while it has no
  data yet;
- ``sketch.mg_compress`` — the Misra-Gries rank+threshold compress.
"""

from __future__ import annotations

import glob
import os

import pytest

from pulsar_message_filter_spark.operators.dedup import minhash_dedup_incremental
from pulsar_message_filter_spark.operators.sketch import mg_compress
from pulsar_message_filter_spark.streaming.pipeline import (
    epoch_write,
    read_store,
    write_verdict_epoch,
)

_MSG_SCHEMA = (
    "event_id bigint, user_id bigint, event_type string, value double, props string"
)


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_epoch_write_replay_rewrites_only_its_own_partition(spark, tmp_path):
    path = str(tmp_path / "store")
    epoch_write(spark.createDataFrame([(1,), (2,)], "x long"), 0, path)
    epoch_write(spark.createDataFrame([(10,)], "x long"), 1, path)
    # a replay of epoch 0 (here with different rows, to show what it replaced)
    epoch_write(spark.createDataFrame([(3,)], "x long"), 0, path)
    assert _rows(spark.read.parquet(path), "epoch_id", "x") == [(0, 3), (1, 10)]
    assert sorted(d for d in os.listdir(path) if not d.startswith(("_", "."))) == [
        "epoch_id=0", "epoch_id=1",
    ]


def test_epoch_write_custom_epoch_column(spark, tmp_path):
    path = str(tmp_path / "sigs")
    epoch_write(spark.createDataFrame([(1,)], "x long"), 4, path, epoch_col="ingest_epoch")
    epoch_write(spark.createDataFrame([(2,)], "x long"), 4, path, epoch_col="ingest_epoch")
    assert _rows(spark.read.parquet(path), "ingest_epoch", "x") == [(4, 2)]
    assert os.path.isdir(os.path.join(path, "ingest_epoch=4"))


def test_verdict_epoch_layout_and_replay(spark, tmp_path):
    """The routed sink is partitioned ``epoch_id=N/verdict=V``; replaying
    an epoch leaves exactly one copy of each of its rows and does not touch
    the other epoch."""
    out = str(tmp_path / "out")
    batch0 = spark.createDataFrame(
        [(1, 1, "purchase", 10.0, '{"k": 90}'),
         (2, 1, "view", 10.0, '{"k": 90}'),
         (3, 1, "view", 500.0, '{"k": 1}')],
        _MSG_SCHEMA,
    )
    batch1 = spark.createDataFrame([(4, 2, "purchase", 99.0, '{"k": 80}')], _MSG_SCHEMA)
    accept = "props.k > 50 AND event_type = 'purchase'"
    write_verdict_epoch(batch0, 0, out, accept, reschedule="value >= 150")
    write_verdict_epoch(batch1, 1, out, accept, reschedule="value >= 150")
    write_verdict_epoch(batch0, 0, out, accept, reschedule="value >= 150")

    layout = sorted(
        os.path.relpath(d, out) for d in glob.glob(os.path.join(out, "*", "*"))
        if os.path.isdir(d)
    )
    assert layout == [
        "epoch_id=0/verdict=ACCEPT",
        "epoch_id=0/verdict=REJECT",
        "epoch_id=0/verdict=RESCHEDULE",
        "epoch_id=1/verdict=ACCEPT",
    ]
    assert _rows(spark.read.parquet(out), "epoch_id", "verdict", "event_id") == [
        (0, "ACCEPT", 1), (0, "REJECT", 2), (0, "RESCHEDULE", 3), (1, "ACCEPT", 4),
    ]


def test_read_store_none_on_missing_and_all_empty_store(spark, tmp_path):
    assert read_store(spark, str(tmp_path / "never_written")) is None
    empty = str(tmp_path / "empty")
    for e in range(2):  # every epoch committed so far wrote 0 rows
        epoch_write(spark.createDataFrame([], "x long"), e, empty)
    assert os.path.isdir(empty)
    assert read_store(spark, empty) is None
    epoch_write(spark.createDataFrame([(5,)], "x long"), 2, empty)
    assert _rows(read_store(spark, empty), "epoch_id", "x") == [(2, 5)]


def _corrupt_store(spark, path: str) -> None:
    epoch_write(spark.range(5).toDF("doc"), 0, path)
    parts = glob.glob(os.path.join(path, "epoch_id=0", "*.parquet"))
    assert parts
    for part in parts:
        with open(part, "wb") as f:
            f.write(b"not a parquet file" * 4)


def test_read_store_raises_on_corrupt_part_file(spark, tmp_path):
    path = str(tmp_path / "corrupt")
    _corrupt_store(spark, path)
    with pytest.raises(Exception):
        read_store(spark, path)


def test_incremental_dedup_fails_on_unreadable_signature_store(spark, tmp_path):
    """An unreadable signature store must fail the batch, not read as "no
    history" and let every duplicate through."""
    sig_dir = str(tmp_path / "sigs")
    _corrupt_store(spark, sig_dir)
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], "doc_id long, text string"
    )
    with pytest.raises(Exception):
        minhash_dedup_incremental(docs, sig_dir, epoch_id=1).collect()


def test_mg_compress_matches_hand_computed_summary(spark):
    df = spark.createDataFrame(
        [("a", 5), ("b", 4), ("c", 3), ("d", 1)], "key string, w long"
    )
    # k=2: the 3rd-largest weight (c: 3) is subtracted, non-positives drop
    assert _rows(mg_compress(df, "key", "w", 2), "key", "w") == [("a", 2), ("b", 1)]
    # fewer than k+1 keys: threshold 0, every counter kept as is
    assert _rows(mg_compress(df, "key", "w", 4), "key", "w") == [
        ("a", 5), ("b", 4), ("c", 3), ("d", 1),
    ]
    assert mg_compress(df, "key", "w", 2).columns == ["key", "w"]


def test_mg_compress_per_group(spark):
    df = spark.createDataFrame(
        [(0, "a", 3), (0, "b", 3), (0, "c", 3), (0, "d", 1),
         (1, "x", 7), (1, "y", 2), (1, "z", 2)],
        "salt int, key string, w long",
    )
    got = mg_compress(df, "key", "w", 2, by=("salt",))
    assert got.columns == ["salt", "key", "w"]
    # salt 0: a, b tie with the threshold row c (rank 3 by key) -> all drop;
    # salt 1: threshold z=2 (rank 3 after y by key) -> x keeps 5, y drops
    assert _rows(got, "salt", "key", "w") == [(1, "x", 5)]
