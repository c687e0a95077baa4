"""The store module (sql4pandas_spark/stores.py): the versioned ``v{k}``
store's guard, interlock and retention; the batch-keyed store's read of
a missing or unreadable root and its sink on an all-empty stream; the
availableNow drain's timeout and checkpoint cleanup; and a guard that
the protocol lives in that one module."""

from __future__ import annotations

import ast
import glob
import os
import shutil
import tempfile
from pathlib import Path

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SETTINGS = dict(
    deadline=None,
    derandomize=True,
    max_examples=10,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _id_stream(spark, tmp_path):
    """A file stream over one 10-row ``id long`` parquet file."""
    src = str(tmp_path / "src")
    spark.range(10).coalesce(1).write.parquet(src)
    return spark.readStream.schema("id long").parquet(src)


# ----------------------------------------------------------------- the drain


def test_drain_timeout_raises(spark, tmp_path):
    """A drain that has not finished by its timeout raises instead of
    returning whatever the sink holds by then."""
    from sql4pandas_spark.streaming.windows import run_available_now

    with pytest.raises(TimeoutError):
        run_available_now(
            _id_stream(spark, tmp_path), mode="append", timeout_sec=0.001
        )
    assert not spark.streams.active


def test_throwaway_checkpoints_are_removed(spark, tmp_path, monkeypatch):
    """One-shot drains delete the checkpoint they created; a resumable
    drain keeps the one it returns for the next drain. The temp dir is the
    test's own, so another process's drains cannot show up in it."""
    from sql4pandas_spark.streaming import cdc
    from sql4pandas_spark.streaming.windows import (
        run_available_now,
        run_foreach_batch_parquet,
    )

    (tmp_path / "tmp").mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    stream = _id_stream(spark, tmp_path)
    pattern = os.path.join(tempfile.gettempdir(), "s4ps_ckpt_*")
    before = set(glob.glob(pattern))
    assert run_available_now(stream, mode="append").count() == 10
    assert set(glob.glob(pattern)) == before
    assert run_foreach_batch_parquet(stream, str(tmp_path / "out")).count() == 10
    assert set(glob.glob(pattern)) == before

    root = str(tmp_path / "snap")
    cdc.seed_snapshot(spark.createDataFrame([(1, 1)], "k long, v long"), root)
    land = str(tmp_path / "land")
    schema = "k long, v long, op string"
    spark.createDataFrame([(2, 2, "insert")], schema).write.parquet(land)
    stream = spark.readStream.schema(schema).parquet(land)
    ckpt = cdc.run_cdc_stream(stream, root, ["k"])
    try:
        assert os.path.isdir(ckpt)
        snap = sorted(tuple(r) for r in cdc.latest_snapshot(spark, root).collect())
        assert snap == [(1, 1), (2, 2)]
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


@pytest.mark.parametrize("exactly_once", [False, True])
def test_foreach_batch_sink_on_all_empty_stream(spark, tmp_path, exactly_once):
    """Every micro-batch empty: both delivery modes return the empty sink
    with the written columns (the exactly-once mode writes no file at all,
    so there is nothing to infer a schema from)."""
    from sql4pandas_spark.streaming.windows import run_foreach_batch_parquet

    stream = _id_stream(spark, tmp_path).filter("id < 0")
    out = run_foreach_batch_parquet(
        stream, str(tmp_path / "out"), exactly_once=exactly_once
    )
    assert out.columns == ["id", "batch_id"]
    assert out.count() == 0


@pytest.mark.parametrize("width", ["eight", "4.5"])
def test_stream_width_conf_not_an_integer_raises(spark, width):
    """A malformed state width raises, naming the conf, before any drain
    can freeze a fallback width into its checkpoint."""
    from sql4pandas_spark.stores import STATE_PARTITIONS_CONF, pinned_stream_width

    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(STATE_PARTITIONS_CONF, width)
    try:
        with pytest.raises(ValueError, match=STATE_PARTITIONS_CONF):
            with pinned_stream_width(spark):
                pass
    finally:
        spark.conf.unset(STATE_PARTITIONS_CONF)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


@pytest.mark.parametrize("width", ["0", "-3"])
def test_stream_width_conf_below_one_raises(spark, width):
    """A state width below 1 raises, naming the conf."""
    from sql4pandas_spark.stores import STATE_PARTITIONS_CONF, pinned_stream_width

    spark.conf.set(STATE_PARTITIONS_CONF, width)
    try:
        with pytest.raises(ValueError, match=STATE_PARTITIONS_CONF):
            with pinned_stream_width(spark):
                pass
    finally:
        spark.conf.unset(STATE_PARTITIONS_CONF)


# --------------------------------------------- one module owns the protocol

#: Files allowed to spell each piece of the store/drain protocol, and the
#: top-level functions within them (None: anywhere in the file). The IVF
#: ``assigned/`` store is partitioned by batch_id AND cell, so its write
#: keeps its own partition overwrite.
_PROTOCOL_OWNERS = {
    "trigger(availableNow=True)": {"sql4pandas_spark/stores.py": None},
    "awaitTermination": {"sql4pandas_spark/stores.py": None},
    'option("partitionOverwriteMode", ...)': {
        "sql4pandas_spark/stores.py": None,
        "sql4pandas_spark/operators/similarity.py": {"add_to_ivf_index"},
    },
}


def _protocol_uses(tree: ast.AST):
    """(piece, enclosing top-level function, line) of each spelling of a
    protocol piece in ``tree``."""
    for top in tree.body:
        owner = getattr(top, "name", None)
        for node in ast.walk(top):
            if isinstance(node, ast.Attribute) and node.attr == "awaitTermination":
                yield "awaitTermination", owner, node.lineno
            call = isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            if not call:
                continue
            if node.func.attr == "trigger" and any(
                k.arg == "availableNow" for k in node.keywords
            ):
                yield "trigger(availableNow=True)", owner, node.lineno
            if (
                node.func.attr == "option"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and node.args[0].value == "partitionOverwriteMode"
            ):
                yield 'option("partitionOverwriteMode", ...)', owner, node.lineno


def test_store_protocol_lives_in_the_store_module():
    """The availableNow drain and the batch-keyed partition overwrite are
    spelled only in sql4pandas_spark/stores.py (plus the IVF exception).
    Tests are exempt: they drive streams by hand to simulate crashes."""
    root = Path(__file__).resolve().parents[1]
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel.startswith(("tests/", ".")):
            continue
        for piece, owner, line in _protocol_uses(ast.parse(path.read_text())):
            allowed = _PROTOCOL_OWNERS[piece]
            if rel not in allowed or (
                allowed[rel] is not None and owner not in allowed[rel]
            ):
                offenders.append(f"{rel}:{line} {piece} ({owner})")
    assert not offenders, f"store/drain protocol outside stores.py: {offenders}"


# ------------------------------------------ batch-keyed store: empty store


def test_read_batches_missing_root_is_none_without_a_read(
    spark, tmp_path, monkeypatch
):
    """A store that does not exist yet is found out by asking its file
    system, not by a read that fails: no parquet read runs at all."""
    from pyspark.sql import DataFrameReader

    from sql4pandas_spark.stores import read_batches

    def no_read(*args, **kwargs):
        raise AssertionError("read_batches read a store that does not exist")

    monkeypatch.setattr(DataFrameReader, "parquet", no_read)
    assert read_batches(spark, str(tmp_path / "missing")) is None
    assert read_batches(spark, (tmp_path / "missing_uri").as_uri()) is None


def test_read_batches_existing_unreadable_root_raises(spark, tmp_path):
    """A root that exists but holds no readable store is not "empty": the
    read error propagates instead of re-admitting seen content."""
    from pyspark.errors import AnalysisException

    from sql4pandas_spark.stores import read_batches

    root = tmp_path / "store"
    root.mkdir()
    with pytest.raises(AnalysisException):
        read_batches(spark, str(root))


# ------------------------------------------ versioned store: guard, interlock


def test_sketch_apply_batch_replay_idempotent_and_guarded(spark, tmp_path):
    """Replaying the last uncommitted batch rewrites the same version from
    the same input (no double count); a renumbered batch id raises."""
    import pytest as _pytest

    from sql4pandas_spark.operators.sketches import merge_heavy_hitter_states
    from sql4pandas_spark.streaming import sketches as sk

    store = str(tmp_path / "store")
    sk.empty_state(spark, "item string, n long", store)
    b = spark.createDataFrame([("a", 5), ("b", 2)], "item string, n long")
    sk.sketch_apply_batch(b, store, merge_heavy_hitter_states, 0)  # v1
    sk.sketch_apply_batch(b, store, merge_heavy_hitter_states, 0)  # replay v1
    final = {r["item"]: r["n"] for r in sk.latest_state(spark, store).collect()}
    assert final == {"a": 5, "b": 2}  # NOT doubled
    with _pytest.raises(RuntimeError, match="misalignment"):
        sk.sketch_apply_batch(b, store, merge_heavy_hitter_states, 5)


# ------------------------------------------- versioned store: retention


def test_vacuum_versions_lifecycle(spark, tmp_path):
    """Vacuum deletes old versions on disk, retained time travel still
    answers, vacuumed reads raise, and the chain advances afterward —
    for BOTH store layouts (CDC snapshot and sketch state share v{k})."""
    import os

    import pytest as _pytest

    from sql4pandas_spark import stores
    from sql4pandas_spark.streaming import cdc

    root = str(tmp_path / "snap")
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(20)], "k long, x long"
    )
    cdc.seed_snapshot(base, root)
    for bid in range(3):
        changes = spark.createDataFrame(
            [(bid, 777 + bid, "update")], "k long, x long, op string"
        )
        cdc.cdc_apply_batch(changes, root, ["k"], batch_id=bid)
    assert stores.versions(root) == [0, 1, 2, 3]

    assert cdc.vacuum_versions(root, keep_last=2) == [0, 1]
    assert stores.versions(root) == [2, 3]
    assert not os.path.exists(os.path.join(root, "v0"))

    # retained time travel: v2 has batches 0,1 applied but not 2
    v2 = {r["k"]: r["x"] for r in cdc.snapshot_at(spark, root, 2).collect()}
    assert v2[0] == 777 and v2[1] == 778 and v2[2] == 20

    with _pytest.raises(FileNotFoundError, match="vacuum"):
        cdc.snapshot_at(spark, root, 1)
    with _pytest.raises(ValueError, match="keep_last"):
        cdc.vacuum_versions(root, keep_last=0)

    # chain still advances; replay of the head batch also still works
    changes = spark.createDataFrame([(5, 999, "update")], "k long, x long, op string")
    cdc.cdc_apply_batch(changes, root, ["k"], batch_id=3)
    cdc.cdc_apply_batch(changes, root, ["k"], batch_id=3)  # crash replay
    assert stores.versions(root) == [2, 3, 4]

    # keep_last=1 between drains: head-only store keeps advancing
    assert cdc.vacuum_versions(root, keep_last=1) == [2, 3]
    cdc.cdc_apply_batch(changes, root, ["k"], batch_id=4)
    assert stores.versions(root) == [4, 5]


def _seed_kv12(spark, root):
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, s string, v long"
    ).write.mode("overwrite").parquet(root + "/v0")


def test_vacuum_between_crash_and_replay_raises_interlock(spark, tmp_path):
    """vacuum_versions(keep_last=1) between a crash and its replayed drain
    removes the replay's SOURCE version; the replay must fail with the
    interlock named (cdc.py documents keep_last>=2 as the crash-replay
    floor), never merge onto the wrong base or die with a bare
    path-not-found."""
    import pytest as _pytest

    from sql4pandas_spark.streaming import cdc

    root = str(tmp_path / "snap")
    _seed_kv12(spark, root)
    changes = spark.createDataFrame(
        [(2, "b", 99, "update")], "k long, s string, v long, op string"
    )
    cdc.cdc_apply_batch(changes, root, ["k"], batch_id=0)   # commits v1
    # crash happens AFTER v1 is on disk but BEFORE the checkpoint commits;
    # an ill-timed retention sweep then drops v0
    assert cdc.vacuum_versions(root, keep_last=1) == [0]
    with _pytest.raises(RuntimeError, match="vacuum/replay interlock"):
        cdc.cdc_apply_batch(changes, root, ["k"], batch_id=0)  # the replay
    # the chain is still advanceable off the retained head
    cdc.cdc_apply_batch(
        spark.createDataFrame([(4, "d", 40, "insert")],
                              "k long, s string, v long, op string"),
        root, ["k"], batch_id=1,
    )
    assert sorted(
        tuple(r) for r in cdc.latest_snapshot(spark, root).collect()
    ) == [(1, "a", 10), (2, "b", 99), (3, "c", 30), (4, "d", 40)]


def test_vacuum_keep2_preserves_crash_replay(spark, tmp_path):
    """The documented contract: with keep_last=2 a post-crash replay still
    succeeds and is byte-identical to the first application."""
    from sql4pandas_spark.streaming import cdc

    root = str(tmp_path / "snap")
    _seed_kv12(spark, root)
    changes = spark.createDataFrame(
        [(2, "b", 99, "update")], "k long, s string, v long, op string"
    )
    cdc.cdc_apply_batch(changes, root, ["k"], batch_id=0)
    cdc.cdc_apply_batch(changes, root, ["k"], batch_id=1)  # v2
    assert cdc.vacuum_versions(root, keep_last=2) == [0]
    first = sorted(tuple(r) for r in spark.read.parquet(root + "/v2").collect())
    cdc.cdc_apply_batch(changes, root, ["k"], batch_id=1)  # replay of v1->v2
    again = sorted(tuple(r) for r in spark.read.parquet(root + "/v2").collect())
    assert first == again


def test_sketch_store_vacuum_replay_interlock(spark, tmp_path):
    """Same interlock on the additive sketch store, where a wrong-base
    merge would silently double-count."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sql4pandas_spark.streaming import sketches
    from sql4pandas_spark.streaming.cdc import vacuum_versions

    root = str(tmp_path / "hist")
    state = spark.createDataFrame([(0, 5), (1, 7)], "bin long, n long")
    sketches.seed_state(state, root)
    batch = spark.createDataFrame([(0, 2)], "bin long, n long")

    def merge(prev, cur):
        return (
            prev.unionByName(cur).groupBy("bin")
            .agg(F.sum("n").alias("n"))
        )

    sketches.sketch_apply_batch(batch, root, merge, batch_id=0)  # v1
    assert vacuum_versions(root, keep_last=1) == [0]
    with _pytest.raises(RuntimeError, match="vacuum/replay interlock"):
        sketches.sketch_apply_batch(batch, root, merge, batch_id=0)


# ------------------------------------ versioned store: CDC version chain


@st.composite
def cdc_chains(draw):
    seed = {
        k: draw(st.integers(0, 9))
        for k in draw(st.sets(st.integers(0, 12), min_size=1, max_size=8))
    }
    batches = []
    for _ in range(draw(st.integers(1, 4))):
        keys = draw(st.sets(st.integers(0, 15), min_size=1, max_size=6))
        batches.append(
            {
                k: (
                    draw(st.sampled_from(["update", "insert", "delete"])),
                    draw(st.integers(10, 99)),
                )
                for k in keys
            }
        )
    return seed, batches


@pytest.mark.slow
@given(cdc_chains())
@settings(**_SETTINGS)
def test_cdc_version_chain_matches_python(spark, tmp_path_factory, case):
    """Random changesets applied through the versioned on-disk store must
    equal a Python dict replay at EVERY version — and replaying a random
    mid-chain batch (crash recovery) must leave its version byte-stable."""
    from sql4pandas_spark.streaming import cdc

    seed, batches = case
    root = str(tmp_path_factory.mktemp("cdc_chain"))
    cdc.seed_snapshot(
        spark.createDataFrame(sorted(seed.items()), "k long, v long"), root
    )
    state = dict(seed)
    for bid, batch in enumerate(batches):
        changes = spark.createDataFrame(
            [(k, v, op) for k, (op, v) in sorted(batch.items())],
            "k long, v long, op string",
        )
        cdc.cdc_apply_batch(changes, root, ["k"], batch_id=bid)
        for k, (op, v) in batch.items():
            if op == "delete":
                state.pop(k, None)
            else:
                state[k] = v
        got = {
            r.k: r.v
            for r in spark.read.parquet(f"{root}/v{bid + 1}").collect()
        }
        assert got == state, (bid, got, state)

    # crash-replay the LAST batch: same version, same bytes-level content
    last = len(batches) - 1
    changes = spark.createDataFrame(
        [(k, v, op) for k, (op, v) in sorted(batches[last].items())],
        "k long, v long, op string",
    )
    cdc.cdc_apply_batch(changes, root, ["k"], batch_id=last)
    got = {r.k: r.v for r in spark.read.parquet(f"{root}/v{last + 1}").collect()}
    assert got == state
