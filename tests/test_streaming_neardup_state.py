"""Streaming incremental NEARDUP pipeline state (r17): micro-batches
folded through training_data_neardup_apply via the checkpointed sink
must leave the output identical to the full batch chain over the union
at the state's frozen banding — including a same-id redelivery
(dropped by the survivor anti-join), an exact-text re-crawl under a
new id (dropped by the digest anti-join), a near-dup variant (loses
the rep race), and per-fold compaction (zero-union table-scan state
with the retry-safe swap order)."""

from __future__ import annotations

import pyspark.sql.types as T

from tests.test_incremental_state_skew import _corpus, _doc, _rows

SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
)


def test_neardup_stream_equals_batch_with_redelivery_and_compaction(
    spark, tmp_path
):
    from build_datawarehouse_demo_spark.plans.training_data import (
        prepare_training_data_neardup,
        training_data_neardup_state,
    )
    from build_datawarehouse_demo_spark.streaming.sinks import (
        stream_training_data_state_append,
    )

    old_rows = [(i, _doc(i)) for i in range(6)]
    # near-dup of old doc 3: same 40-word stream with a 2-word new tail
    near3 = " ".join(_doc(3).split()[:38] + ["zzn1", "zzn2"])
    b1 = [(50, _doc(50)), (51, _doc(51))]
    b2 = [
        (60, near3),          # near-dup under frozen banding
        (61, _doc(2)),        # exact re-crawl, NEW id -> digest anti-join
        (51, _doc(51)),       # same-id redelivery -> survivor anti-join
        (62, _doc(62)),
    ]

    old = _corpus(spark, old_rows)
    holder = {
        "state": training_data_neardup_state(old, corpus_n=len(old_rows))
    }
    holder["state"]["n_survivors"] = holder["state"]["survivors"].count()

    feed = str(tmp_path / "feed")
    for i, b in enumerate((b1, b2)):
        mode = "overwrite" if i == 0 else "append"
        spark.createDataFrame(b, "doc_id long, text string").coalesce(
            1
        ).write.mode(mode).parquet(feed)
    q = stream_training_data_state_append(
        spark.readStream.format("parquet")
        .schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .load(feed),
        holder,
        checkpoint_dir=str(tmp_path / "ckpt"),
        compact_every=1,
        compact_to="nd_strm_test",
        compact_path=str(tmp_path / "cmp"),
        migrate_banding=True,  # no-op at this corpus size — the
        # trigger + counter path is what's exercised
    )
    assert q.awaitTermination(240)
    state = holder["state"]

    # incremental survivor counter tracks the frame through folds,
    # migration no-ops and compaction passthrough
    assert state["n_survivors"] == state["survivors"].count()

    # every fold compacted (compact_every=1): zero-union table scans
    for key in ("survivors", "text_digests", "rep_ids", "rep_grams", "output"):
        p = state[key]._jdf.queryExecution().analyzed().toString()
        assert "Union" not in p and "LogicalRDD" not in p, key

    # stream ≡ batch at the frozen banding: the union's distinct-text
    # new docs (the exact re-crawl 61 and the redelivered 51 dedupe
    # either way)
    distinct_new = b1 + [b2[0], b2[1], b2[3]]
    full = prepare_training_data_neardup(
        _corpus(spark, old_rows + distinct_new), corpus_n=len(old_rows)
    )
    assert _rows(state["output"]) == _rows(full)
    ids = {r[0] for r in _rows(state["output"])}
    # redelivery and exact re-crawl appear exactly once / not at all
    assert 51 in ids and 62 in ids and 61 not in ids


def test_neardup_stream_compact_every_requires_prefix(spark):
    import pytest

    from build_datawarehouse_demo_spark.streaming.sinks import (
        stream_training_data_state_append,
    )

    with pytest.raises(ValueError, match="compact_to"):
        stream_training_data_state_append(
            spark.readStream.format("rate").load(),
            {"state": {}},
            checkpoint_dir="/tmp/never",
            compact_every=2,
        )


def test_neardup_stream_migration_rebands_at_boundary(spark, tmp_path):
    """migrate_banding=True across a minhash_auto_params boundary: the
    survivor count stays under 100 after batch 1 (the migration hook
    is a no-op) and crosses it in batch 2, which also carries a
    near-dup of a stored doc. The stream must end re-banded to the
    final corpus size, with the incremental survivor counter exact and
    the output equal to the full neardup chain over old ∪ new at the
    NEW params (span stage included)."""
    from build_datawarehouse_demo_spark.operators.dedup import minhash_auto_params
    from build_datawarehouse_demo_spark.plans.training_data import (
        prepare_training_data_neardup,
        training_data_neardup_state,
    )
    from build_datawarehouse_demo_spark.streaming.sinks import (
        stream_training_data_state_append,
    )

    old_rows = [(i, _doc(i)) for i in range(80)]
    b1 = [(100 + i, _doc(100 + i)) for i in range(15)]
    b2 = [(200 + i, _doc(200 + i)) for i in range(14)]
    # near-dup of old doc 10: same 40-word stream with a 2-word new tail
    b2.append((250, " ".join(_doc(10).split()[:38] + ["zzm1", "zzm2"])))

    holder = {
        "state": training_data_neardup_state(
            _corpus(spark, old_rows), corpus_n=len(old_rows)
        )
    }
    feed = str(tmp_path / "feed")
    for i, b in enumerate((b1, b2)):
        mode = "overwrite" if i == 0 else "append"
        spark.createDataFrame(b, "doc_id long, text string").coalesce(
            1
        ).write.mode(mode).parquet(feed)
    q = stream_training_data_state_append(
        spark.readStream.format("parquet")
        .schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .load(feed),
        holder,
        checkpoint_dir=str(tmp_path / "ckpt"),
        migrate_banding=True,
    )
    assert q.awaitTermination(240)
    state = holder["state"]

    n_final = state["survivors"].count()
    assert n_final == 110
    assert state["n_survivors"] == n_final
    # after batch 1 (95 survivors) the banding is still the build's
    assert minhash_auto_params(95) == minhash_auto_params(80)
    assert (state["bands"], state["rows"]) == minhash_auto_params(n_final)
    assert (state["bands"], state["rows"]) != minhash_auto_params(len(old_rows))
    full = prepare_training_data_neardup(
        _corpus(spark, old_rows + b1 + b2), corpus_n=n_final
    )
    assert _rows(state["output"]) == _rows(full)
    ids = {r[0] for r in _rows(state["output"])}
    # the near-dup lost the rep race to the stored doc
    assert 10 in ids and 250 not in ids
