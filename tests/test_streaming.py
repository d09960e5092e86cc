"""Incremental/streaming dedup tests: state-store joins + availableNow stream."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from spaczz_spark.plans.config import DedupConfig
from spaczz_spark.sources.corpus import generate_corpus
from spaczz_spark.streaming.incremental import IncrementalDedup


@pytest.fixture(scope="module")
def split_corpus():
    bundle = generate_corpus(n_files=60, seed=7)
    files = bundle.files
    # first half seeds the store; second half arrives as "new" batches and
    # includes duplicates of first-half files (generator interleaves dups)
    mid = len(files) // 2
    return files.iloc[:mid], files.iloc[mid:]


def test_process_batch_finds_cross_batch_dups(spark, split_corpus, tmp_path):
    seed, incoming = split_corpus
    inc = IncrementalDedup(spark, DedupConfig(), str(tmp_path / "store"))
    first = inc.process_batch(spark.createDataFrame(seed))
    n_first = first.count()
    second = inc.process_batch(spark.createDataFrame(incoming))
    n_second = second.count()
    assert n_second > 0  # dups of seed files arrive in batch 2
    # state accumulated: signature store holds both batches
    sigs = spark.read.parquet(os.path.join(str(tmp_path / "store"), "signatures"))
    assert sigs.count() == len(seed) + len(incoming)
    # verified pairs appended across batches
    pairs = spark.read.parquet(
        os.path.join(str(tmp_path / "store"), "verified_pairs")
    )
    assert pairs.count() == n_first + n_second


def test_unreadable_store_raises(spark, split_corpus, tmp_path):
    """A committed store (``_SUCCESS`` present) that cannot be read fails
    the batch instead of deduplicating it against an empty store."""
    store = tmp_path / "store_corrupt"
    sig_dir = store / "signatures"
    sig_dir.mkdir(parents=True)
    (sig_dir / "_SUCCESS").write_bytes(b"")
    (sig_dir / "part-00000.snappy.parquet").write_bytes(b"not parquet")
    inc = IncrementalDedup(spark, DedupConfig(), str(store))
    seed, _ = split_corpus
    with pytest.raises(Exception, match="is not a Parquet file"):
        inc.process_batch(spark.createDataFrame(seed.iloc[:4]))
    assert not (store / "verified_pairs").exists()


def test_streaming_available_now(spark, split_corpus, tmp_path):
    seed, incoming = split_corpus
    inp = str(tmp_path / "in")
    os.makedirs(inp)
    spark.createDataFrame(seed).coalesce(1).write.mode("append").parquet(inp)
    spark.createDataFrame(incoming).coalesce(1).write.mode("append").parquet(inp)

    inc = IncrementalDedup(spark, DedupConfig(), str(tmp_path / "store2"))
    schema = spark.read.parquet(inp).schema
    q = inc.start(inp, schema, str(tmp_path / "ckpt"), maxFilesPerTrigger=1)
    q.awaitTermination(300)
    pairs = spark.read.parquet(
        os.path.join(str(tmp_path / "store2"), "verified_pairs")
    )
    assert pairs.count() > 0
    sigs = spark.read.parquet(os.path.join(str(tmp_path / "store2"), "signatures"))
    assert sigs.count() == len(seed) + len(incoming)
    # dedup semantics: every pair references stored signatures
    ids = {r["file_id"] for r in sigs.select("file_id").collect()}
    for r in pairs.select("a_id", "b_id").collect():
        assert r["a_id"] in ids and r["b_id"] in ids


def test_windowed_counts_with_watermark(spark, tmp_path):
    """Watermarked tumbling windows over a file stream (availableNow):
    emitted rows equal the batch group-by restricted to windows the final
    watermark closed (append-mode contract)."""
    import pandas as pd

    from spaczz_spark.streaming.windows import (
        run_windowed_counts,
        windowed_event_counts,
    )

    rng_rows = []
    base = pd.Timestamp("2026-01-01 00:00:00")
    for i in range(500):
        rng_rows.append(
            {
                "ts": base + pd.Timedelta(minutes=(i * 7) % (48 * 60)),
                "event_type": ["click", "view", "buy"][i % 3],
                "value": float(i % 50) / 7,
            }
        )
    pdf = pd.DataFrame(rng_rows)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # Spark rejects NANOS parquet
    inp = tmp_path / "events_in"
    inp.mkdir()
    pdf.iloc[:300].to_parquet(str(inp / "a.parquet"), index=False)
    pdf.iloc[300:].to_parquet(str(inp / "b.parquet"), index=False)

    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    q = run_windowed_counts(
        spark, str(inp), out, ck, window="1 hour", watermark="0 seconds"
    )
    q.awaitTermination(120)

    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.read.parquet(out).collect()
    }
    batch = windowed_event_counts(spark.createDataFrame(pdf), window="1 hour")
    max_ts = pdf["ts"].max()
    want = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in batch.collect()
        if r["window_end"] <= max_ts.to_pydatetime()
    }
    assert got == want and len(want) > 50


def test_stateful_sessionization(spark, tmp_path):
    """applyInPandasWithState sessionizer: open sessions survive across
    micro-batches; a gap closes and emits the session exactly once."""
    import pandas as pd

    from spaczz_spark.streaming.sessions import sessionize_stream

    base = pd.Timestamp("2026-01-01 00:00:00")
    def rows(spec):
        return pd.DataFrame(
            [{"user_id": u, "ts": (base + pd.Timedelta(minutes=m))}
             for u, m in spec]
        ).astype({"ts": "datetime64[us]"})

    inp = tmp_path / "sess_in"; inp.mkdir()
    # batch 1: u1 two events 10 min apart (one open session);
    #          u2 one event
    rows([("u1", 0), ("u1", 10), ("u2", 5)]).to_parquet(
        str(inp / "b1.parquet"), index=False)

    out = str(tmp_path / "sess_out"); ck = str(tmp_path / "sess_ck")

    def run():
        schema = spark.read.parquet(str(inp)).schema
        stream = spark.readStream.schema(schema).parquet(str(inp))
        q = (
            sessionize_stream(stream, gap_seconds=1800)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert spark.read.parquet(out).count() == 0  # nothing closed yet

    # batch 2: u1 event 2h later -> closes u1's first session (2 events);
    #          u2 event 10 min later -> still open
    rows([("u1", 130), ("u2", 15)]).to_parquet(
        str(inp / "b2.parquet"), index=False)
    run()
    got = [
        (r["user_id"], r["n_events"],
         (r["session_end"] - r["session_start"]) / 60.0)
        for r in spark.read.parquet(out).collect()
    ]
    assert got == [("u1", 2, 10.0)], got

    # batch 3: u2 event 3h later -> closes u2's 2-event session
    rows([("u2", 200)]).to_parquet(str(inp / "b3.parquet"), index=False)
    run()
    got = sorted(
        (r["user_id"], r["n_events"]) for r in spark.read.parquet(out).collect()
    )
    assert got == [("u1", 2), ("u2", 2)], got


def test_sessionizer_event_time_timeout_closes_tails(spark, tmp_path):
    """Round-3: with close_tails=True, a stream that ends mid-session emits
    the open tail once the event-time watermark passes last_ts + gap —
    no later batch from the same user needed."""
    import pandas as pd

    from spaczz_spark.streaming.sessions import sessionize_stream

    base = pd.Timestamp("2026-01-01 00:00:00")

    def rows(spec):
        return pd.DataFrame(
            [{"user_id": u, "ts": (base + pd.Timedelta(minutes=m))}
             for u, m in spec]
        ).astype({"ts": "datetime64[us]"})

    inp = tmp_path / "tmo_in"; inp.mkdir()
    out = str(tmp_path / "tmo_out"); ck = str(tmp_path / "tmo_ck")

    def run():
        schema = spark.read.parquet(str(inp)).schema
        stream = spark.readStream.schema(schema).parquet(str(inp))
        q = (
            sessionize_stream(
                stream, gap_seconds=1800, close_tails=True,
                watermark_delay="5 minutes",
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: u1 has two events 10 min apart -> one OPEN session
    rows([("u1", 0), ("u1", 10)]).to_parquet(str(inp / "b1.parquet"), index=False)
    run()
    assert spark.read.parquet(out).count() == 0  # open, not yet timed out

    # batch 2: only an unrelated user far in the future; the watermark
    # advances past u1.last + gap -> u1's tail must be emitted by TIMEOUT
    rows([("zz", 600)]).to_parquet(str(inp / "b2.parquet"), index=False)
    run()
    # one more empty-advance batch: availableNow runs may evaluate timeouts
    # on the batch after the watermark update
    rows([("zz", 700)]).to_parquet(str(inp / "b3.parquet"), index=False)
    run()
    got = sorted(
        (r["user_id"], r["n_events"],
         (r["session_end"] - r["session_start"]) / 60.0)
        for r in spark.read.parquet(out).collect()
        if r["user_id"] == "u1"
    )
    assert got == [("u1", 2, 10.0)], got


def test_process_batch_appends_few_pair_files(spark, tmp_path):
    """The kernel stage is sized by its band rows, so one batch appends a
    few verified-pair files, not one per ``4 * defaultParallelism`` kernel
    tasks plus the decided pairs' file."""
    files = generate_corpus(n_files=500, seed=7).files
    store = tmp_path / "store_files"
    inc = IncrementalDedup(spark, DedupConfig(), str(store))
    verified = inc.process_batch(spark.createDataFrame(files))
    dp = spark.sparkContext.defaultParallelism
    # enough kernel-verified rows to fill every task of a fixed 4*dp spread
    assert verified.where(F.col("verified_by") == "edit_ratio").count() > 4 * dp
    written = glob.glob(str(store / "verified_pairs" / "*.parquet"))
    assert len(written) < 4 * dp + 1, len(written)
