"""Catch-up over landed page files: keyed rows and candidate pairs.

A catch-up is a batch delta over the page files no committed catch-up has
read, keyed with the batch path's expressions (content hashes, so catch-up
and batch agree byte for byte).  ``run_incremental`` appends the keyed
rows; ``run_incremental_pairs`` (and ``run_incremental_neardup``, over
MinHash band keys) appends the candidate pairs the new pages unlock, a
Catalyst join of their keys against the key table in ``checkpoint_dir``.
A url is keyed once (its first landing wins); a new key row ranked below
the ``max_state_ids`` cap pairs with the rows ranked below it, and each
pair is written once.  Output files carry the batch number and a marker
listing the input files commits each batch, so a rerun replaces an
uncommitted batch.  docs/DESIGN.md §9 has the layout, the rules and the
exactly-once argument; paths are local, like ``tables.SnapshotTable``.

``streaming_sessions`` stays a Structured Streaming operator: its
event-time session state outlives a catch-up.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import blocking, normalize
from .tables import PAGES_SCHEMA

KEY_TABLE_SCHEMA = "doc_id string, block_key string, batch int, rank int"


def _batch_of(name: str) -> int:
    """Batch number of a ``batch-<n>-*`` file, else -1."""
    parts = name.split("-")
    return int(parts[1]) if parts[0] == "batch" and parts[1:2] and parts[1].isdigit() else -1


def _open_delta(spark: SparkSession, input_dir: str, output_dir: str,
                checkpoint_dir: str) -> Tuple[int, List[str]]:
    """(this catch-up's batch number, the input files no committed catch-up
    has read), after deleting the files of uncommitted batches."""
    if os.path.isdir(os.path.join(checkpoint_dir, "offsets")):
        raise ValueError(f"{checkpoint_dir} is a Structured Streaming checkpoint; "
                         "start catch-ups on a new checkpoint_dir and output_dir")
    if os.path.isdir(os.path.join(output_dir, "_spark_metadata")):
        raise ValueError(f"{output_dir} is a streaming file sink: its readers see only "
                         "the files in its metadata log; use a new output_dir")
    log = os.path.join(checkpoint_dir, "commits")
    names = sorted(n for n in os.listdir(log) if n.endswith(".json")) \
        if os.path.isdir(log) else []
    if [int(n[:-5]) for n in names] != list(range(len(names))):
        raise ValueError(f"{log}: commit markers {names} are not batches 0..n-1")
    read = set()
    for n in names:
        with open(os.path.join(log, n)) as f:
            read.update(json.load(f)["files"])
    batch = len(names)
    for d in (output_dir, os.path.join(checkpoint_dir, "keys")):
        for n in os.listdir(d) if os.path.isdir(d) else ():
            if _batch_of(n) >= batch:
                p = os.path.join(d, n)
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    landed = spark.read.schema(PAGES_SCHEMA).parquet(input_dir).inputFiles()
    return batch, sorted(set(landed) - read)


def _commit(checkpoint_dir: str, batch: int, files: List[str]) -> int:
    log = os.path.join(checkpoint_dir, "commits")
    os.makedirs(log, exist_ok=True)
    tmp = os.path.join(log, f".{batch:06d}.json.tmp")
    with open(tmp, "w") as f:
        json.dump({"batch": batch, "files": files}, f)
    os.replace(tmp, os.path.join(log, f"{batch:06d}.json"))
    return batch


def _publish(df: DataFrame, directory: str, batch: int) -> None:
    """Write ``df`` as the ``batch-<batch>-part-*`` files of ``directory``."""
    # hidden from readers; a rerun's write overwrites a crashed one's
    stage = os.path.join(directory, f"_batch-{batch:06d}")
    df.write.mode("overwrite").parquet(stage)
    for n in sorted(os.listdir(stage)):
        if n.startswith("part-"):
            os.replace(os.path.join(stage, n),
                       os.path.join(directory, f"batch-{batch:06d}-{n}"))
    shutil.rmtree(stage)


def _read_batches(spark: SparkSession, directory: str, schema: str) -> Optional[DataFrame]:
    """The committed files of ``directory``, or None before the first (a
    given schema spares the footer-reading job of schema inference)."""
    if os.path.isdir(directory) and any(_batch_of(n) >= 0 for n in os.listdir(directory)):
        return spark.read.schema(schema).parquet(directory)
    return None


def _first_landings(spark: SparkSession, files: List[str], id_col: str,
                    keyed: Optional[DataFrame]) -> DataFrame:
    """The pages of ``files``: one landing per id (earliest ``warc_ts``,
    then smallest text), minus the ids already in ``keyed.doc_id``."""
    first = Window.partitionBy(id_col).orderBy("warc_ts", "text")
    pages = spark.read.schema(PAGES_SCHEMA).parquet(*files) \
        .where(F.col(id_col).isNotNull()) \
        .withColumn("_n", F.row_number().over(first)).where(F.col("_n") == 1).drop("_n")
    if keyed is None:
        return pages
    return pages.join(keyed.select(F.col("doc_id").alias("_keyed")),
                      F.col(id_col).cast("string") == F.col("_keyed"), "left_anti")


def run_incremental(spark: SparkSession, input_dir: str, output_dir: str,
                    checkpoint_dir: str) -> Optional[int]:
    """Catch-up ingest: append the (doc_id, block_pass, block_key, warc_ts)
    rows of the new pages to ``output_dir``.  Returns the committed batch
    number, or None when no file is new."""
    batch, files = _open_delta(spark, input_dir, output_dir, checkpoint_dir)
    if not files:
        return None
    pages = normalize.with_normalized(
        _first_landings(spark, files, "url", _read_batches(spark, output_dir, "doc_id string")))
    keyed = blocking.add_block_keys(pages, id_col="url")
    _publish(keyed.join(pages.select(F.col("url").alias("doc_id"), "warc_ts"), "doc_id"),
             output_dir, batch)
    return _commit(checkpoint_dir, batch, files)


def _emit_pairs(spark: SparkSession, input_dir: str, output_dir: str,
                checkpoint_dir: str, id_col: str,
                block_keys: Callable[[DataFrame], DataFrame],
                max_state_ids: int) -> Optional[int]:
    """The pair catch-up of :func:`run_incremental_pairs` over any
    ``block_keys(pages) -> (doc_id, block_key, ...)`` keying."""
    batch, files = _open_delta(spark, input_dir, output_dir, checkpoint_dir)
    if not files:
        return None
    key_dir = os.path.join(checkpoint_dir, "keys")
    keyed = _read_batches(spark, key_dir, KEY_TABLE_SCHEMA)
    # (doc_id, block_key) is unique: a pass yields one key per doc, and
    # band keys carry their band index
    rows = block_keys(_first_landings(spark, files, id_col, keyed)) \
        .select("doc_id", "block_key", F.lit(batch).alias("batch"))
    if keyed is not None:
        rows = keyed.drop("rank").unionByName(rows)
    by_arrival = Window.partitionBy("block_key").orderBy("batch", "doc_id")
    rows = rows.withColumn("rank", (F.row_number().over(by_arrival) - 1).cast("int"))
    _publish(rows.where(F.col("batch") == batch), key_dir, batch)

    admitted = spark.read.schema(KEY_TABLE_SCHEMA).parquet(key_dir) \
        .where(F.col("rank") < max_state_ids)
    n, s = admitted.where(F.col("batch") == batch).alias("n"), admitted.alias("s")
    pairs = n.join(s, (F.col("n.block_key") == F.col("s.block_key"))
                   & (F.col("s.rank") < F.col("n.rank")))
    _publish(pairs.groupBy(F.least("n.doc_id", "s.doc_id").alias("id_a"),
                           F.greatest("n.doc_id", "s.doc_id").alias("id_b"))
             .agg(F.min("n.block_key").alias("block_key")), output_dir, batch)
    return _commit(checkpoint_dir, batch, files)


def run_incremental_pairs(spark: SparkSession, input_dir: str, output_dir: str,
                          checkpoint_dir: str, max_state_ids: int = 200) -> Optional[int]:
    """Append the (id_a, id_b, block_key) pairs the new page files unlock
    to ``output_dir``.  Returns the committed batch number, or None when no
    file is new."""
    return _emit_pairs(
        spark, input_dir, output_dir, checkpoint_dir, "url",
        lambda pages: blocking.add_block_keys(normalize.with_normalized(pages), id_col="url"),
        max_state_ids)


def neardup_block_keys(pages: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       n_perm: int = 64, rows_per_band: int = 4,
                       shingle_k: int = 3) -> DataFrame:
    """Each doc's MinHash LSH band keys (the batch dedup path's
    blocking.minhash_band_udf), prefixed with the band index so bands
    cannot alias: the catch-up analog of dedup.minhash_candidate_pairs."""
    bands = blocking.minhash_band_udf(n_perm=n_perm,
                                      rows_per_band=rows_per_band,
                                      shingle_k=shingle_k)
    return pages.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.posexplode(bands(F.col(text_col))).alias("band_i", "bkey"),
    ).select(
        "doc_id",
        F.concat_ws(":", F.lit("mh"), F.col("band_i"), F.col("bkey")).alias("block_key"),
    )


def run_incremental_neardup(spark: SparkSession, input_dir: str,
                            output_dir: str, checkpoint_dir: str,
                            max_state_ids: int = 200, **band_kw) -> Optional[int]:
    """:func:`run_incremental_pairs` over :func:`neardup_block_keys`; the
    verify stage stays a batch pass over the pairs (it needs both texts)."""
    return _emit_pairs(spark, input_dir, output_dir, checkpoint_dir,
                       band_kw.get("id_col", "doc_id"),
                       lambda pages: neardup_block_keys(pages, **band_kw), max_state_ids)


# ---------------------------------------------------------------------------
# Custom stateful operator: event-time sessionization with timeout
# (the streaming analog of the batch lag+cumsum sessionizer in
# __spark_entry__.q_event_sessions — same 30-min-gap semantics)
# ---------------------------------------------------------------------------


def streaming_sessions(events: DataFrame, user_col: str = "user_id",
                       ts_col: str = "ts", gap_seconds: int = 1800,
                       watermark: str = "0 seconds") -> DataFrame:
    """Streaming gap-based sessionization via applyInPandasWithState with
    EVENT-TIME timeout: per-user state holds the open session (start, end,
    n_events, all epoch seconds); a session is emitted when a same-user
    event arrives past the gap (intra-stream close) or when the watermark
    passes session_end + gap (timeout close — no further event can belong
    to it, since later-than-watermark events are dropped upstream).

    State is O(1) per active user and is removed on close — the bounded-
    state contract for an unbounded stream.  Emission is append-mode exact
    for event-time-ordered arrivals per user; out-of-order arrivals within
    the watermark merge correctly into the open session, while arrivals
    for an already-closed session (allowed by a lagging watermark) open a
    new session — the standard Spark sessionization trade-off."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start", LongType()),
            StructField("session_end", LongType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start", LongType()),
            StructField("end", LongType()),
            StructField("n", LongType()),
        ]
    )

    def fn(key, pdfs, state):
        user = key[0]

        def emit(rows):
            return pd.DataFrame(
                {"user_id": [user] * len(rows),
                 "session_start": [r[0] for r in rows],
                 "session_end": [r[1] for r in rows],
                 "n_events": [r[2] for r in rows]}
            )

        if state.hasTimedOut:
            s, e, n = state.get
            state.remove()
            yield emit([(s, e, n)])
            return
        ts: list = []
        for pdf in pdfs:
            ts.extend((pdf[ts_col].astype("int64") // 10**9).tolist())
        ts.sort()
        cur = tuple(state.get) if state.exists else None
        closed = []
        for t in ts:
            if cur is None:
                cur = (t, t, 1)
            elif t - cur[1] <= gap_seconds:
                cur = (cur[0], max(cur[1], t), cur[2] + 1)
            else:
                closed.append(cur)
                cur = (t, t, 1)
        wm_sec = state.getCurrentWatermarkMs() // 1000
        if cur is not None and cur[1] + gap_seconds <= wm_sec:
            closed.append(cur)      # already unreachable by future events
            cur = None
        if cur is not None:
            state.update(cur)
            # fire once no in-watermark event can extend the session
            state.setTimeoutTimestamp((cur[1] + gap_seconds) * 1000)
        elif state.exists:
            state.remove()
        if closed:
            yield emit(closed)

    ev = events.withWatermark(ts_col, watermark).select(
        F.col(user_col).alias("user_id"), F.col(ts_col).alias(ts_col)
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )


def run_incremental_sessions(spark: SparkSession, input_dir: str, output_dir: str,
                             checkpoint_dir: str, schema, gap_seconds: int = 1800,
                             watermark: str = "0 seconds"):
    """Catch-up sessionization over an events file stream (one file per
    micro-batch so the event-time watermark advances between batches)."""
    events = (
        spark.readStream.schema(schema).format("parquet")
        .option("maxFilesPerTrigger", 1).load(input_dir)
    )
    sessions = streaming_sessions(events, gap_seconds=gap_seconds,
                                  watermark=watermark)
    q = (
        sessions.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
