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
projected) input before such a stage, to a width that follows the
input's BYTES: ``min(spark.sql.shuffle.partitions, ceil(input bytes /
SPREAD_TARGET_BYTES))`` (:func:`spread_width`). The exchange moves each
row once, while the guarded computation costs 10-100x that per row, so
a large serial input (single-row-group files, gzip, a coalesced upstream
aggregate) gains whole cores. Every task has a fixed cost too, so a
small input gains nothing from more of them: spread to the session
width, a traced perfbench ``curation`` pass (seed 1, ``local[4]``, 16
shuffle partitions) ran 279 tasks for 0.4 MB of shuffle, 19% of them
empty. Small inputs therefore take width 1, and an input of unknown
size (no file inputs, a non-local URI, a probe error) keeps the session
width: unknown = assume serial and large.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame


#: Input bytes one spread task should cover. Derived from two measured
#: costs: about 20 ms of CPU per task of fixed overhead, and about 2.7 ms
#: per input KB for the MinHash signature stage (1.6 s for the 594 KB
#: sf0.1 documents file). 128 KiB is then about 350 ms of work per task,
#: so the per-task overhead stays near 6%. Chosen away from the ceiling
#: boundaries of the fixture files: the corpus (31.7 KB), sf0.01
#: documents (65 KB, half the target) and part (26 KB) get width 1,
#: sf0.1 documents (594 KB, between 4x and 5x) width 5. 64 KiB would sit
#: on sf0.01's 65,049-byte documents file.
SPREAD_TARGET_BYTES = 128 << 10


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
    """Estimated scan tasks of a frame's input files (:func:`scan_layout`);
    0 = unknown."""
    return scan_layout(df)[0]


def scan_layout(df: DataFrame) -> tuple[int, int]:
    """``(tasks, bytes)`` of a frame's INPUT FILES, from one walk that
    stats each file: ``bytes`` is their total size, and ``tasks`` the
    scan-task parallelism estimated by the packing Spark's
    ``FilePartition`` applies to them: each file is split
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

    Returns ``(0, 0)`` (= unknown, callers should take their safe
    branch) for frames with no file inputs (in-memory ranges,
    post-shuffle frames) and for files whose size local stat cannot read
    (non-local URIs)."""
    files = df.inputFiles()
    if not files:
        return 0, 0
    sizes = []
    for f in files:
        parsed = urlparse(f)
        if parsed.scheme not in ("", "file"):
            return 0, 0
        try:
            sizes.append(os.stat(unquote(parsed.path)).st_size)
        except OSError:
            return 0, 0
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
    return tasks + (1 if current else 0), sum(sizes)


def spread_width(df: DataFrame) -> tuple[int, int]:
    """``(width, scan tasks)`` for spreading ``df``: the session width
    capped at one task per :data:`SPREAD_TARGET_BYTES` of input, and the
    input's planned scan tasks. An input of unknown size (no file inputs,
    non-local files, a probe error) gets the session width and 0 tasks."""
    session = compute_width(df.sparkSession)
    try:
        tasks, nbytes = scan_layout(df)
    except Exception:  # the probe is best-effort: unknown size
        return session, 0
    if not tasks:
        return session, 0
    return min(session, -(-nbytes // SPREAD_TARGET_BYTES)), tasks


def spread_for_compute(df: DataFrame) -> DataFrame:
    """Round-robin repartition to :func:`spread_width`, ahead of per-row
    work that dwarfs one exchange of the rows. Project the frame to the
    columns the computation needs BEFORE calling this — the exchange
    should carry only what the stage reads. Streaming frames pass through
    untouched (micro-batch sizing is the stream's own concern, and
    ``repartition`` barriers interact badly with watermarks).

    Inputs whose file layout already scans at >= that width pass through
    too: a 100 TB parquet scan has natural file-split parallelism, and
    paying a full exchange of (id, text) rows to "spread" it would be
    pure overhead; a one-file input under ``SPREAD_TARGET_BYTES`` (width
    1) gets no exchange either. The spread exists for inputs that arrive
    SERIAL and large (single-row-group files, coalesced upstream
    aggregates). The probe is :func:`scan_layout` — analysis-only (never
    plans physically or compiles; see its docstring for the round-15
    profile of why `.rdd` probing is disqualified). Known miss, accepted:
    a frame whose lineage holds an exchange between the scan and this
    point reports its SCAN width and bytes, so an AQE-coalesced small
    aggregate over a wide scan is passed through — but a frame that
    small is exactly the one whose extra exchange would have been noise
    anyway. An input of unknown size spreads to the session width
    (unknown = assume serial)."""
    if df.isStreaming:
        return df
    width, tasks = spread_width(df)
    if tasks >= width:
        return df
    return df.repartition(width)
