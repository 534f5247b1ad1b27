"""Pages table + Iceberg-semantics snapshot layer.

``input_hint`` mandates an Iceberg table
``pages(url string, warc_ts timestamp, html binary, text string, lang string)``.
No Iceberg runtime jar ships in this sandbox (SURVEY.md §1), so
``SnapshotTable`` provides Iceberg's semantics over Parquet — immutable
snapshots, JSON manifests, atomic commit (rename-into-place), time travel,
and validity checks for checkpoint-resume — behind an interface that a real
Iceberg catalog can replace via config when the jar is present.

The synthetic corpus generator is fully deterministic (fixed seed,
content-derived ids; FIXTURES.md F1): seeded entity clusters of
near-duplicate pages with known ground truth, perturbation rates calibrated
so intra-cluster ratio >= ~0.9 and inter-cluster < 0.7.  ``html`` is a
deterministic wrapper of ``text`` so extracted text is byte-identical per
url (the input_hint invariant).
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import pathlib
import re
import tempfile
import time
from dataclasses import dataclass
from typing import List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

_WORDS = (
    "the web page archive crawl data entity record company product news "
    "article report market system service global index price review html "
    "content research science energy health travel sports music finance "
    "weather forecast politics culture education technology software model "
    "network security privacy engine search social media video image audio"
).split()

LANGS = ["en", "de", "es", "fr", "zh"]

# the input_hint schema (BASELINE.json): Iceberg pages table
from pyspark.sql.types import (  # noqa: E402
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def _entity_text(rng: np.random.RandomState, n_words: int) -> str:
    return " ".join(_WORDS[i] for i in rng.randint(0, len(_WORDS), size=n_words))


def _perturb(rng: np.random.RandomState, text: str, n_edits: int, n_swaps: int) -> str:
    chars = list(text)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    for _ in range(n_edits):
        if not chars:
            break
        op = rng.randint(0, 3)
        pos = rng.randint(0, len(chars))
        if op == 0:
            chars[pos] = alpha[rng.randint(0, 26)]
        elif op == 1:
            chars.insert(pos, alpha[rng.randint(0, 26)])
        else:
            del chars[pos]
    s = "".join(chars)
    if n_swaps:
        toks = s.split(" ")
        for _ in range(n_swaps):
            if len(toks) < 2:
                break
            i = rng.randint(0, len(toks) - 1)
            toks[i], toks[i + 1] = toks[i + 1], toks[i]
        s = " ".join(toks)
    return s


def generate_pages_pdf(n_entities: int = 200, seed: int = 42, dups_max: int = 8) -> pd.DataFrame:
    """Deterministic synthetic pages corpus with ground-truth entity ids.

    Returns pandas DataFrame with columns
    (url, warc_ts, html, text, lang, entity_id).  ``entity_id`` is ground
    truth for evaluation only — the pipeline never reads it.
    """
    rng = np.random.RandomState(seed)
    rows = []
    base_epoch = 1_700_000_000
    idx = 0
    for ent in range(n_entities):
        n_words = 30 + int(rng.randint(0, 60))
        base = _entity_text(rng, n_words)
        n_dups = 1 + int(rng.randint(0, dups_max))
        lang = LANGS[int(rng.randint(0, len(LANGS)))]
        host_main = f"host{ent}.example.com"
        for d in range(n_dups):
            if d == 0:
                text = base
            else:
                # calibrated per FIXTURES.md F1: ~1% char edits + rare single
                # token swap keeps dup-vs-base ratio >= ~0.93 (dup-vs-dup
                # >= ~0.87, recovered by transitive closure)
                n_edits = int(rng.randint(0, max(2, len(base) // 100)))
                n_swaps = 1 if rng.rand() < 0.3 else 0
                text = _perturb(rng, base, n_edits, n_swaps)
            # 75% of dups share the entity host; rest scatter to mirror hosts
            # (recovered only by the minhash/tokensort passes)
            if d > 0 and rng.rand() > 0.75:
                host = f"mirror{int(rng.randint(0, 10))}.example.org"
            else:
                host = host_main
            url = f"http://{host}/p/{ent}/{d}"
            rows.append(
                {
                    "url": url,
                    "warc_ts": pd.Timestamp(base_epoch + idx * 61, unit="s", tz="UTC"),
                    "html": f"<html><body>{text}</body></html>".encode("utf-8"),
                    "text": text,
                    "lang": lang,
                    "entity_id": ent,
                }
            )
            idx += 1
    return pd.DataFrame(rows)


def generate_pages(spark: SparkSession, n_entities: int = 200, seed: int = 42,
                   dups_max: int = 8, partitions: int = 8) -> DataFrame:
    pdf = generate_pages_pdf(n_entities, seed, dups_max)
    return spark.createDataFrame(pdf).repartition(partitions)


def extract_text_from_html(html_col):
    """Inverse of the generator's html wrapper — byte-identical text
    recovery, as a pure column expression."""
    from pyspark.sql import functions as F

    s = F.decode(html_col, "UTF-8")
    return F.regexp_extract(s, r"<body>(.*)</body>", 1)


# ---------------------------------------------------------------------------
# Snapshot layer (Iceberg semantics over Parquet)
# ---------------------------------------------------------------------------


@dataclass
class SnapshotInfo:
    snapshot_id: str
    table: str
    row_count: int
    created_at: float
    parent: Optional[str]
    params: dict


class SnapshotTable:
    """Immutable snapshot table: every write is a new snapshot directory with
    a JSON manifest, committed by atomic rename; ``current`` pointer file
    updated last.  Readers only ever see fully-committed snapshots — resume
    after a mid-write crash re-runs the interrupted stage (SURVEY.md §7(e))."""

    def __init__(self, root: str, name: str):
        self.dir = os.path.join(root, name)
        self.name = name
        os.makedirs(self.dir, exist_ok=True)

    # -- paths ---------------------------------------------------------------
    def _snap_dir(self, snapshot_id: str) -> str:
        return os.path.join(self.dir, "snap_" + snapshot_id)

    def _manifest_path(self, snapshot_id: str) -> str:
        return os.path.join(self._snap_dir(snapshot_id), "manifest.json")

    # -- API -----------------------------------------------------------------
    def exists(self, snapshot_id: str) -> bool:
        return os.path.exists(self._manifest_path(snapshot_id))

    def manifest(self, snapshot_id: str) -> Optional[dict]:
        try:
            with open(self._manifest_path(snapshot_id)) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return None

    def current_id(self) -> Optional[str]:
        try:
            with open(os.path.join(self.dir, "current")) as f:
                return f.read().strip() or None
        except OSError:
            return None

    def list_snapshots(self) -> List[str]:
        out = []
        for d in sorted(os.listdir(self.dir)):
            if d.startswith("snap_") and os.path.exists(
                os.path.join(self.dir, d, "manifest.json")
            ):
                out.append(d[len("snap_"):])
        return out

    def write(self, df: DataFrame, snapshot_id: str, params: Optional[dict] = None,
              parent: Optional[str] = None,
              partition_by: Optional[List[str]] = None) -> SnapshotInfo:
        """Write df as a new snapshot; atomic commit via rename-into-place.

        ``partition_by``: hive-style partition columns (e.g. ["lang"]) —
        the Iceberg-partitioning analog; subsequent reads with a filter on
        these columns prune directories at planning time (PartitionFilters
        in the scan node), the table-layout lever that matters at 100 TB."""
        final = self._snap_dir(snapshot_id)
        if self.exists(snapshot_id):
            return self._info(snapshot_id)
        tmp = tempfile.mkdtemp(prefix=f".tmp_{snapshot_id}_", dir=self.dir)
        data_dir = os.path.join(tmp, "data")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)
        count = df.sparkSession.read.parquet(data_dir).count()
        manifest = {
            "snapshot_id": snapshot_id,
            "table": self.name,
            "row_count": count,
            "created_at": time.time(),
            "parent": parent,
            "params": params or {},
            "format": "parquet",
            "partition_by": list(partition_by or []),
        }
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1)
        try:
            os.replace(tmp, final)  # atomic on same filesystem
        except OSError:
            # lost a race with a concurrent writer of the same snapshot —
            # deterministic ids mean contents are equivalent; keep theirs.
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
            if not self.exists(snapshot_id):
                raise
        with open(os.path.join(self.dir, "current.tmp"), "w") as f:
            f.write(snapshot_id)
        os.replace(os.path.join(self.dir, "current.tmp"), os.path.join(self.dir, "current"))
        return self._info(snapshot_id)

    def read(self, spark: SparkSession, snapshot_id: Optional[str] = None) -> DataFrame:
        """Read a snapshot (time travel with explicit id; current otherwise)."""
        sid = snapshot_id or self.current_id()
        if sid is None or not self.exists(sid):
            raise FileNotFoundError(f"{self.name}: snapshot {sid!r} not found")
        return spark.read.parquet(os.path.join(self._snap_dir(sid), "data"))

    def _info(self, snapshot_id: str) -> SnapshotInfo:
        m = self.manifest(snapshot_id)
        assert m is not None
        return SnapshotInfo(
            snapshot_id=m["snapshot_id"],
            table=m["table"],
            row_count=m["row_count"],
            created_at=m["created_at"],
            parent=m.get("parent"),
            params=m.get("params", {}),
        )


class IcebergSnapshotTable:
    """Real-Iceberg backend with the same surface as :class:`SnapshotTable`
    (exists / current_id / list_snapshots / write / read) — the seam
    BASELINE.json's input_hint asks for.  Requires a session built with
    ``get_spark(iceberg_warehouse=...)`` (raises without the runtime jar);
    this sandbox ships none, so the backend-parameterized test in
    test_tables.py SKIPS loudly here and runs wherever the jar is present.

    Snapshot identity: levsim snapshot ids are content-derived strings
    (``snapshot_id_for``); Iceberg snapshots are numeric — the adapter maps
    them via Iceberg TAGs named after the levsim id, so ``exists`` is a tag
    probe and time-travel reads use ``VERSION AS OF tag``.
    """

    def __init__(self, spark: SparkSession, name: str, namespace: str = "levsim"):
        from .session import ICEBERG_CATALOG

        self.spark = spark
        self.ident = f"{ICEBERG_CATALOG}.{namespace}.{name}"
        self.name = name
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {ICEBERG_CATALOG}.{namespace}")

    def _table_exists(self) -> bool:
        try:
            self.spark.sql(f"DESCRIBE TABLE {self.ident}")
            return True
        except Exception:  # noqa: BLE001 — AnalysisException: not created yet
            return False

    def _tags(self) -> dict:
        if not self._table_exists():
            return {}
        rows = self.spark.sql(
            f"SELECT name, snapshot_id FROM {self.ident}.refs WHERE type = 'TAG'"
        ).collect()
        return {r["name"]: r["snapshot_id"] for r in rows}

    def exists(self, snapshot_id: str) -> bool:
        return snapshot_id in self._tags()

    def current_id(self) -> Optional[str]:
        if not self._table_exists():
            return None
        cur = self.spark.sql(
            f"SELECT snapshot_id FROM {self.ident}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        if not cur:
            return None
        inv = {v: k for k, v in self._tags().items()}
        return inv.get(cur[0]["snapshot_id"])

    def list_snapshots(self) -> List[str]:
        return sorted(self._tags())

    def write(self, df: DataFrame, snapshot_id: str, params: Optional[dict] = None,
              parent: Optional[str] = None,
              partition_by: Optional[List[str]] = None) -> "SnapshotInfo":
        if self.exists(snapshot_id):
            return self._info(snapshot_id)
        w = df.writeTo(self.ident)
        if partition_by:
            from pyspark.sql import functions as F  # noqa: N812

            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        # each levsim snapshot is a FULL table state: REPLACE creates a new
        # Iceberg snapshot of the same table, prior snapshots stay
        # reachable through their tags until an explicit expire
        w.createOrReplace()
        self.spark.sql(
            f"ALTER TABLE {self.ident} CREATE TAG `{snapshot_id}`"
        )
        return self._info(snapshot_id)

    def read(self, spark: SparkSession, snapshot_id: Optional[str] = None) -> DataFrame:
        sid = snapshot_id or self.current_id()
        if sid is None or not self.exists(sid):
            raise FileNotFoundError(f"{self.name}: snapshot {sid!r} not found")
        return spark.read.option("tag", sid).table(self.ident)

    def _info(self, snapshot_id: str) -> SnapshotInfo:
        n = self.read(self.spark, snapshot_id).count()
        return SnapshotInfo(
            snapshot_id=snapshot_id, table=self.name, row_count=n,
            created_at=0.0, parent=None, params={},
        )


@functools.lru_cache(maxsize=None)
def code_fingerprint() -> str:
    """Hash of the levsim package source (every ``.py`` and ``.c`` file).

    The whole package rather than a hand-kept list of stage modules: a list
    goes stale when a stage starts calling a new module, and an over-eager
    invalidation costs one recompute, a stale snapshot a wrong answer."""
    root = pathlib.Path(__file__).resolve().parent
    h = hashlib.sha256()
    for path in sorted(p for p in root.rglob("*") if p.suffix in (".py", ".c")):
        h.update(path.relative_to(root).as_posix().encode())
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


def snapshot_id_for(stage: str, params: dict, inputs: List[str]) -> str:
    """Deterministic snapshot id from (stage, params, input ids, code):
    resume can test existence BEFORE computing anything, and a snapshot
    written by different levsim code never resumes."""
    h = hashlib.sha256()
    h.update(stage.encode())
    h.update(json.dumps(params, sort_keys=True, default=str).encode())
    for i in inputs:
        h.update(i.encode())
    h.update(code_fingerprint().encode())
    return h.hexdigest()[:16]


def input_snapshot_id(df: DataFrame, fallback: str) -> str:
    """Content-derived id for a file-backed input DataFrame.

    Hashes the analyzed plan (expression ids stripped, so a filter or limit
    on the same files is a different input) and each input file's path,
    size and modification time.  A DataFrame with no input files, or with
    an in-memory leaf (``createDataFrame``), has no such id: ``fallback``
    is returned, which callers make unique per run so nothing resumes."""
    plan = df._jdf.queryExecution().analyzed().toString()
    files = sorted(df.inputFiles())
    if not files or "LocalRelation" in plan or "LogicalRDD" in plan:
        return fallback
    jvm = df.sparkSession._jvm
    conf = df.sparkSession._jsc.hadoopConfiguration()
    h = hashlib.sha256(re.sub(r"#\d+", "", plan).encode())
    for f in files:
        path = jvm.org.apache.hadoop.fs.Path(f)
        st = path.getFileSystem(conf).getFileStatus(path)
        h.update(f"{f}\0{st.getLen()}\0{st.getModificationTime()}\0".encode())
    return f"files_{h.hexdigest()[:16]}"


# ---------------------------------------------------------------------------
# Bucketed tables: shuffle-free co-located joins (the 100 TB join lever)
# ---------------------------------------------------------------------------


def write_bucketed(df, name: str, path: str, bucket_cols, n_buckets: int = 64,
                   sort_cols=None, mode: str = "overwrite"):
    """Persist ``df`` as a bucketed (+optionally sorted) parquet table.

    Bucketing pre-shuffles ONCE at write time: every later equi-join or
    aggregation on ``bucket_cols`` between tables bucketed the same way
    runs with ZERO exchanges (asserted in test_tables) — at 100 TB this is
    the difference between re-shuffling the 20 TB docs table per pipeline
    run and never shuffling it again.  Natural uses here: docs bucketed by
    doc_id (scoring's attach-texts joins), band tables by block_key.

    Spark requires saveAsTable for bucket metadata; with an explicit path
    the table is external — dropping it later removes metadata only."""
    bc = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    w = df.write.format("parquet").bucketBy(n_buckets, *bc)
    if sort_cols:
        sc = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        w = w.sortBy(*sc)
    w.option("path", path).mode(mode).saveAsTable(name)


def read_bucketed(spark: SparkSession, name: str) -> DataFrame:
    """Read a bucketed table WITH its bucket spec (a plain
    spark.read.parquet(path) would discard it and re-shuffle on join)."""
    return spark.table(name)
