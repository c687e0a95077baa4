"""Compute-width spreading for CPU-dominated per-row stages.

A Spark scan's parallelism is bounded by parquet ROW GROUPS, not bytes:
a file written as one row group is one task no matter how
``spark.sql.files.maxPartitionBytes`` is tuned, and AQE's post-shuffle
coalesce collapses any small shuffle output to a handful of partitions.
Both are the right default for I/O-bound stages — and exactly wrong when
the next stage is per-row CPU that costs orders of magnitude more than
one exchange of the rows (MinHash signatures: n_hashes affine-min passes
over a shingle array per document; SimHash/winnowing: per-token hash
rolls; embedding block-matmuls). Profiled at sf0.1 (round 14): the
near-dedup signature stage ran as ONE task for ~1.6 s while 31 cores
idled, and AQE's concurrent stage materialization then raced EIGHT
duplicate computations of the same unmaterialized single-partition frame.

:func:`spread_for_compute` round-robin-repartitions the (already
projected) input to the session's shuffle width before such a stage.
The trade is deliberate and scales: the exchange moves each row once at
network/disk speed, while the guarded computation costs 10-100x that per
row at ANY scale — so the overhead stays a few percent on a 100 TB
corpus (where scans usually have natural parallelism anyway) and the win
is total whenever the input arrives serial (single-row-group files,
gzip, a coalesced upstream aggregate). Width follows
``spark.sql.shuffle.partitions`` — the same cluster-sized knob every
other exchange uses, not a local constant.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame


def compute_width(spark) -> int:
    """The session's shuffle width (falls back to 32 under non-numeric
    AQE spellings such as ``auto``)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    except ValueError:
        return 32


def _size_bytes(conf_val: str) -> int:
    """Parse a Spark byte-size conf value ('128m', '1g', '134217728b')."""
    v = conf_val.strip().lower().removesuffix("b")
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if v and v[-1] in units:
        return int(float(v[:-1]) * units[v[-1]])
    return int(v)


def planned_scan_tasks(df: DataFrame) -> int:
    """Estimated scan-task parallelism of a frame's INPUT FILES, by the
    packing Spark's ``FilePartition`` applies to them: each file is split
    at ``maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    padded total / minPartitionNum))`` (``minPartitionNum`` defaulting to
    the leaf-node parallelism), every split is padded by
    ``openCostInBytes``, and the splits, largest first, fill tasks of up
    to ``maxSplitBytes``. So a directory of many tiny files counts as the
    few tasks Spark packs it into, not one task per file.
    (``spark.sql.files.maxPartitionNum`` is not mirrored.)

    Deliberately an ANALYSIS-ONLY probe: ``inputFiles()`` walks the
    analyzed plan's leaf relations and never runs the optimizer, the
    physical planner, or codegen. The previous guard read
    ``df.rdd.getNumPartitions()``, whose ``doExecute`` janino-compiles
    the whole-stage source of the ENTIRE upstream plan on the driver on
    every cold build: profiled round 15, dedup_near_minhash paid 30-40 s
    PER RUN at sf0.01 planning its MinHash signature expression just to
    count partitions. Warm rebuilds recompiled too, but only because
    Spark's default 100-entry codegen cache evicted their classes:
    replayed back to back at sf0.01, the entry recompiled 25-26 classes
    per repeat at 100 entries, and 8, 2, then 0 once the cache held its
    working set (session.CODEGEN_CACHE_ENTRIES).

    Returns 0 (= unknown, callers should take their safe branch) for
    frames with no file inputs (in-memory ranges, post-shuffle frames)
    and for files whose size local stat cannot read (non-local URIs)."""
    files = df.inputFiles()
    if not files:
        return 0
    sizes = []
    for f in files:
        parsed = urlparse(f)
        if parsed.scheme not in ("", "file"):
            return 0
        try:
            sizes.append(os.stat(unquote(parsed.path)).st_size)
        except OSError:
            return 0
    spark = df.sparkSession
    conf = spark.conf
    mpb = _size_bytes(conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    open_cost = _size_bytes(conf.get("spark.sql.files.openCostInBytes", "4m"))
    min_parts = int(
        conf.get("spark.sql.files.minPartitionNum", None)
        or conf.get("spark.sql.leafNodeDefaultParallelism", None)
        or spark.sparkContext.defaultParallelism
    )
    padded = sum(size + open_cost for size in sizes)
    max_split = min(mpb, max(open_cost, padded // min_parts))
    splits = sorted(
        (min(max_split, size - off) for size in sizes for off in range(0, size, max_split)),
        reverse=True,
    )
    tasks, current = 0, 0
    for length in splits:
        if current and current + length > max_split:
            tasks, current = tasks + 1, 0
        current += length + open_cost
    return tasks + (1 if current else 0)


def spread_for_compute(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's shuffle width, ahead of
    per-row work that dwarfs one exchange of the rows. Project the frame
    to the columns the computation needs BEFORE calling this — the
    exchange should carry only what the stage reads. Streaming frames
    pass through untouched (micro-batch sizing is the stream's own
    concern, and ``repartition`` barriers interact badly with
    watermarks).

    Inputs whose file layout already scans at >= the target width pass
    through too: a 100 TB parquet scan has natural file-split
    parallelism, and paying a full exchange of (id, text) rows to
    "spread" it would be pure overhead — the spread exists for inputs
    that arrive SERIAL (single-row-group files, coalesced upstream
    aggregates). The probe is :func:`planned_scan_tasks` — analysis-only
    (never plans physically or compiles; see its docstring for the
    round-15 profile of why `.rdd` probing is disqualified). Known
    miss, accepted: a frame whose lineage holds an exchange between the
    scan and this point reports its SCAN width, so an AQE-coalesced
    small aggregate over a wide scan is passed through — but a frame
    that small is exactly the one whose extra exchange would have been
    noise anyway. Falls back to spreading when the probe sees no file
    inputs (unknown = assume serial)."""
    if df.isStreaming:
        return df
    width = compute_width(df.sparkSession)
    try:
        if planned_scan_tasks(df) >= width:
            return df
    except Exception:  # pragma: no cover - planning probe is best-effort
        pass
    return df.repartition(width)
