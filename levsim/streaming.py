"""Catch-up over landed page files: the candidate pairs new pages unlock.

A catch-up is a batch delta over the page files no committed catch-up has
read, normalized and keyed with the batch path's expressions (content
hashes, so catch-up and batch agree byte for byte).  A url is keyed once
(its first landing wins), and its (doc_id, block_pass, block_key) rows go
to the key table in ``checkpoint_dir`` tagged with the batch number.
``run_incremental_pairs`` then runs ``candidates.candidate_pairs`` over
the key-table rows of the keys this batch touched: its rule pairs a key's
rows of the latest batch with the rows ranked before them, under the
``max_block_size`` cap, so the appended pairs are exactly the ones the new
pages unlock, and over one landing they are the pipeline's pairs.
Output files carry the batch number and a marker listing the input files
commits each batch, so a rerun replaces an uncommitted batch.
docs/DESIGN.md §9 has the layout, the rules and the exactly-once
argument; paths are local, like ``tables.SnapshotTable``.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import blocking, candidates, normalize
from .tables import KEY_TABLE_SCHEMA, PAGES_SCHEMA, read_log


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


def _first_landings(spark: SparkSession, files: List[str],
                    keyed: Optional[DataFrame]) -> DataFrame:
    """The pages of ``files``, one per url (``normalize.one_page_per_url``),
    minus the urls already in ``keyed.doc_id``."""
    pages = normalize.one_page_per_url(spark.read.schema(PAGES_SCHEMA).parquet(*files))
    if keyed is None:
        return pages
    return pages.join(keyed.select(F.col("doc_id").alias("_keyed")),
                      F.col("url").cast("string") == F.col("_keyed"), "left_anti")


def run_incremental_pairs(spark: SparkSession, input_dir: str, output_dir: str,
                          checkpoint_dir: str,
                          max_block_size: int = candidates.MAX_BLOCK_SIZE) -> Optional[int]:
    """Append the (id_a, id_b, block_pass, block_key) pairs the new page
    files unlock to ``output_dir``.  Returns the committed batch number, or
    None when no file is new."""
    batch, files = _open_delta(spark, input_dir, output_dir, checkpoint_dir)
    if not files:
        return None
    key_dir = os.path.join(checkpoint_dir, "keys")
    pages = normalize.with_normalized(
        _first_landings(spark, files, read_log(spark, key_dir, KEY_TABLE_SCHEMA)))
    _publish(blocking.add_block_keys(pages, id_col="url").withColumn("batch", F.lit(batch)),
             key_dir, batch)

    # the key-table rows of the keys this batch touched (the semi-join's
    # build side is the batch's keys, so it broadcasts at catch-up sizes)
    keyed = spark.read.schema(KEY_TABLE_SCHEMA).parquet(key_dir)
    touched = keyed.join(keyed.where(F.col("batch") == batch).select("block_key"),
                         "block_key", "left_semi")
    _publish(candidates.candidate_pairs(touched, max_block_size=max_block_size),
             output_dir, batch)
    return _commit(checkpoint_dir, batch, files)
