"""One commit protocol: every write, stream epoch and compaction is
its own committed sub-dataset (the base for a dataset's first write,
``commit=<n>`` for every later one), visible once its _commit.json
record lands and until a committed record absorbs it.

Checks that appends never repeat committed chunk ids, that the write
modes see the whole dataset (base, commits, an earlier revision's
epochs), that datasets an earlier revision appended to in place or
streamed into still read as before, and a hypothesis lifecycle model
over write, overwrite, appends, crashed appends, resumes, stream
epochs, replays and compactions, crashed ones included.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    rule,
    run_state_machine_as_test,
)

import pyspark.sql.functions as F
from pyspark.sql import types as T

from colcrush.codecs import encode_array
from colcrush.engine import (
    column_min_max,
    compact,
    count_rows,
    decode_table,
    encode_table,
    read_chunks,
    read_decoded,
    read_manifest,
    resume_encode,
    scan,
    verify_dataset,
    write_encoded,
)
from colcrush.engine import fsio
from colcrush.engine.dataset import (
    CHUNKS_DIR,
    COMMIT_FILE,
    COMPACTED_FILE,
    MANIFEST_DIR,
    _write_record,
    read_schema,
)
from colcrush.engine.decoder import decode_worker
from colcrush.engine.encoder import ENCODED_DDL, MANIFEST_COLS, payload_ck
from colcrush.fixtures import source_code_df
from colcrush.streaming.encode_sink import write_batch

from .test_dataset_resume import _as_legacy, _crash_before_commit, _same_rows

GROUPS = ["repo", "lang"]
# the lifecycle model's operations
OPS = (
    "overwrite", "append", "crashed_append", "rerun_crashed_append",
    "resume", "epoch", "replayed_epoch", "compact",
    "compact_crashed_before_record", "compact_crashed_in_cleanup",
)


def _epoch(df, ds, k, group_cols=("lang",)):
    """Commit epoch ``k`` of a stream into ``ds`` as the encode sink does."""
    write_batch(df, k, ds, list(group_cols))


def _legacy_epoch(df, ds, k, group_cols=("lang",)):
    """Epoch ``k`` of a stream as an earlier revision's sink wrote it:
    a dataset of its own at ``epoch=k``, chunk ids namespaced
    ``epoch-k``."""
    write_encoded(
        df, os.path.join(ds, f"epoch={k:08d}"), mode="overwrite",
        group_cols=list(group_cols), namespace=f"epoch-{k}",
    )


def _legacy_compaction(spark, ds):
    """Fold the epochs at ``ds`` into the base as an earlier revision's
    compaction did: the base's chunks a copy of the epochs' chunk rows,
    ``_compacted.json`` naming the epochs, then the base's record. The
    epoch dirs stay, as a crash before its cleanup left them."""
    names = sorted(d for d in os.listdir(ds) if d.startswith("epoch="))
    spark.read.schema(ENCODED_DDL).parquet(
        *[os.path.join(ds, d, CHUNKS_DIR) for d in names]
    ).repartition("chunk_id").write.option("compression", "uncompressed").parquet(
        os.path.join(ds, CHUNKS_DIR)
    )
    shutil.copy(os.path.join(ds, names[0], "schema.json"), ds)
    with open(os.path.join(ds, COMPACTED_FILE), "w") as f:
        json.dump({"epochs": names}, f)
    _write_record(ds)


def _crash_in_cleanup(monkeypatch, done):
    """Make a compaction die after its record lands, once it has
    removed ``done`` of the dirs it absorbs and half of the next (its
    chunks/, not its record)."""
    write_text_atomic, rmtree = fsio.write_text_atomic, fsio.rmtree
    landed, removed = [], []

    def record(path, content):
        write_text_atomic(path, content)
        landed.append(path)

    def crashing(path):
        if landed and len(removed) == done:
            rmtree(os.path.join(path, CHUNKS_DIR))
            raise RuntimeError("simulated crash in cleanup")
        if landed:
            removed.append(path)
        rmtree(path)

    monkeypatch.setattr(fsio, "write_text_atomic", record)
    monkeypatch.setattr(fsio, "rmtree", crashing)


def _tree(path):
    """Every file under ``path`` with its modification time."""
    return sorted(
        (os.path.join(r, f), os.stat(os.path.join(r, f)).st_mtime_ns)
        for r, _, fs in os.walk(path) for f in fs
    )


def test_decode_worker_refuses_a_repeated_pending_key():
    """A (chunk_id, column) row that arrives again while its chunk is
    still pending raises, naming the chunk and the column; a chunk id
    that arrives again after its chunk completed decodes twice, as a
    read of two part files sharing ids always did."""
    schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.LongType())]
    )
    _, in_schema, _, fn = decode_worker(schema)
    blob, _ = encode_array(pa.array([1, 2], pa.int64()))

    def row(column):
        return pa.record_batch(
            [
                pa.array(["c1"]),
                pa.array([column]),
                pa.array([blob], pa.binary()),
                pa.array([payload_ck(blob)], pa.int64()),
            ],
            schema=in_schema,
        )

    with pytest.raises(ValueError, match="chunk c1 column a arrived twice"):
        list(fn(iter([row("a"), row("a"), row("b")])))
    out = list(fn(iter([row("a"), row("b"), row("b"), row("a")])))
    assert [b.num_rows for b in out] == [2, 2]


def test_create_mode_refuses_a_stream_dataset(spark, tmp_path):
    """mode='error' refuses a path a stream committed to, and one that
    holds only an earlier revision's committed epochs, not only base
    chunks."""
    df = source_code_df(spark, 100, n_repos=2)
    ds = str(tmp_path / "ds")
    _epoch(df, ds, 0)
    with pytest.raises(FileExistsError):
        write_encoded(df, ds, group_cols=GROUPS)
    assert read_decoded(spark, ds).count() == 100
    legacy = str(tmp_path / "legacy")
    _legacy_epoch(df, legacy, 0)
    with pytest.raises(FileExistsError):
        write_encoded(df, legacy, group_cols=GROUPS)
    assert not os.path.exists(os.path.join(legacy, CHUNKS_DIR))
    assert read_decoded(spark, legacy).count() == 100


def test_overwrite_replaces_epochs_commits_and_compaction_record(
    spark, tmp_path
):
    """mode='overwrite' leaves only its own rows: it removes every
    commit (a compaction's too), an earlier revision's epoch dirs and
    its compaction record before writing the base."""
    df = source_code_df(spark, 100, n_repos=2)
    small = df.where(F.col("lang") < "m")

    compacted = str(tmp_path / "compacted")
    for k in range(3):
        _epoch(df, compacted, k)
    assert compact(spark, compacted) == 2
    write_encoded(small, compacted, mode="overwrite", group_cols=GROUPS)
    assert sorted(os.listdir(compacted)) == [COMMIT_FILE, CHUNKS_DIR, "schema.json"]
    assert count_rows(spark, compacted) == small.count()

    legacy = str(tmp_path / "legacy")
    _legacy_epoch(df, legacy, 0)
    _legacy_compaction(spark, legacy)
    write_encoded(small, legacy, mode="overwrite", group_cols=GROUPS)
    assert not os.path.exists(os.path.join(legacy, COMPACTED_FILE))
    assert sorted(os.listdir(legacy)) == [COMMIT_FILE, CHUNKS_DIR, "schema.json"]
    assert count_rows(spark, legacy) == small.count()

    ds = str(tmp_path / "stream")
    _epoch(df, ds, 0)
    write_encoded(df, ds, mode="append", group_cols=GROUPS)
    write_encoded(small, ds, mode="overwrite", group_cols=GROUPS)
    assert sorted(os.listdir(ds)) == [COMMIT_FILE, CHUNKS_DIR, "schema.json"]
    assert _same_rows(read_decoded(spark, ds), small)
    assert compact(spark, ds) == 0


@pytest.mark.parametrize("group_cols", [GROUPS, []], ids=["grouped", "ungrouped"])
def test_append_commits_under_its_own_chunk_ids(spark, tmp_path, group_cols):
    """An append that touches groups the dataset already holds commits
    under ids no earlier commit uses: the metadata answers count every
    row once and the audit passes."""
    src = source_code_df(spark, 400, n_repos=6).cache()
    first = src.where(F.col("path") < "m")
    ds = str(tmp_path / "ds")
    write_encoded(first, ds, group_cols=group_cols)
    write_encoded(
        src.where(F.col("path") >= "m"), ds, mode="append",
        group_cols=group_cols,
    )
    assert read_decoded(spark, ds).count() == 400
    assert count_rows(spark, ds) == 400
    report = verify_dataset(spark, ds)
    assert report["ok"], report
    assert _same_rows(read_decoded(spark, ds), src)
    assert sorted(d for d in os.listdir(ds) if d.startswith("commit=")) == [
        "commit=00000001"
    ]


def test_append_to_a_stream_dataset_survives_compaction(spark, tmp_path):
    """An append to a stream dataset is one more commit: readers see
    the stream's commits plus the append, and a compaction folds them
    into one, every row still read once."""
    stream = source_code_df(spark, 400, n_repos=4).cache()
    extra = source_code_df(spark, 10, n_repos=4)
    ds = str(tmp_path / "ds")
    _epoch(stream.where(F.col("lang") < "m"), ds, 0)
    _epoch(stream.where(F.col("lang") >= "m"), ds, 1)
    write_encoded(extra, ds, mode="append", group_cols=GROUPS)
    assert read_decoded(spark, ds).count() == 410
    assert count_rows(spark, ds) == 410
    assert compact(spark, ds) == 2
    assert _same_rows(read_decoded(spark, ds), stream.unionAll(extra))
    assert count_rows(spark, ds) == 410
    assert verify_dataset(spark, ds)["ok"]


def test_legacy_stream_layouts_read_as_before(spark, tmp_path):
    """Stream datasets an earlier revision wrote read the same rows as
    then: two epoch dirs and no base; a compacted base whose
    _compacted.json absorbs an epoch dir its crashed cleanup left.
    compact then folds the epochs, and the stream continues on top."""
    df = source_code_df(spark, 300, n_repos=4).cache()
    halves = (df.where(F.col("lang") < "m"), df.where(F.col("lang") >= "m"))
    epochs, compacted = str(tmp_path / "epochs"), str(tmp_path / "compacted")
    for ds in (epochs, compacted):
        for k, half in enumerate(halves):
            _legacy_epoch(half, ds, k)
    _legacy_compaction(spark, compacted)
    shutil.rmtree(os.path.join(compacted, "epoch=00000000"))
    for ds in (epochs, compacted):
        assert _same_rows(read_decoded(spark, ds), df)
        assert count_rows(spark, ds) == 300
        assert verify_dataset(spark, ds)["ok"]

    assert compact(spark, epochs) == 2
    assert compact(spark, compacted) == 0
    assert not [d for d in os.listdir(compacted) if d.startswith("epoch=")]
    extra = source_code_df(spark, 40, n_repos=2)
    for ds in (epochs, compacted):
        _epoch(extra, ds, 2)
        _epoch(extra, ds, 2)  # a replay
        assert _same_rows(read_decoded(spark, ds), df.unionAll(extra))
        assert count_rows(spark, ds) == 340
        assert verify_dataset(spark, ds)["ok"]


def test_read_schema_skips_an_absorbed_root(spark, tmp_path, monkeypatch):
    """A dataset with no base reads its schema from a root readers see,
    not from an absorbed root a crashed compaction has yet to delete."""
    df = source_code_df(spark, 60, n_repos=2)
    ds = str(tmp_path / "ds")
    _legacy_epoch(df, ds, 0)
    write_encoded(df, ds, mode="append", group_cols=GROUPS)
    with monkeypatch.context() as m:
        _crash_in_cleanup(m, 0)
        with pytest.raises(RuntimeError, match="simulated crash"):
            compact(spark, ds)
    first = os.path.join(ds, "commit=00000001")
    assert os.path.exists(first)
    os.remove(os.path.join(first, "schema.json"))
    assert read_schema(ds) == df.schema
    assert read_decoded(spark, ds).count() == 120


def test_in_place_appended_dataset_reads_as_before(spark, tmp_path):
    """A base-layout dataset an earlier revision committed with a
    manifest and appended to in place (second chunk and manifest files
    in chunks/ and manifest/, ids repeated, no record) reads the same
    rows as then, and a new append to it commits beside it."""
    src = source_code_df(spark, 400, n_repos=6).cache()
    first, rest = src.where(F.col("path") < "m"), src.where(F.col("path") >= "m")
    ds = str(tmp_path / "ds")
    write_encoded(first, ds, group_cols=GROUPS)
    _as_legacy(spark, ds)
    encoded = encode_table(rest, group_cols=GROUPS).cache()
    encoded.write.mode("append").option("compression", "uncompressed").parquet(
        os.path.join(ds, CHUNKS_DIR)
    )
    encoded.select(*MANIFEST_COLS).write.mode("append").parquet(
        os.path.join(ds, MANIFEST_DIR)
    )
    encoded.unpersist()
    assert _same_rows(read_decoded(spark, ds), src)
    more = src.where(F.col("lang") < "m")
    write_encoded(more, ds, mode="append", group_cols=GROUPS)
    assert _same_rows(read_decoded(spark, ds), src.unionAll(more))


# ---------------------------------------------------------------------
# lifecycle model


class DatasetLifecycle(RuleBasedStateMachine):
    """The model is the multiset of committed rows, plus the group keys
    resume_encode's anti-join sees as committed, the number of commits
    a reader sees beside the base (what a compaction folds) and the
    stream's epoch ids."""

    spark = None
    pool: pa.Table = None  # the source rows the operations draw from
    tmp_root = None
    runs = 0

    def __init__(self):
        super().__init__()
        cls = type(self)
        cls.runs += 1
        self.path = os.path.join(cls.tmp_root, f"ds{cls.runs}")
        self.cols = cls.pool.column_names
        self.pool_rows = [tuple(r.values()) for r in cls.pool.to_pylist()]
        self.rows: Counter = Counter()
        self.keys: set = set()
        self.commits = 0
        self.next_epoch = 0
        self.last_epoch = None  # the highest epoch a record carries
        self.crashed = None

    def _df(self, idx):
        return self.spark.createDataFrame(self.pool.take(sorted(idx)))

    def _key(self, row, group_cols):
        """The group key resume_encode's anti-join compares."""
        if not group_cols:
            return "[]"
        return tuple(row[self.cols.index(c)] for c in group_cols)

    def _add(self, idx, group_cols):
        for i in idx:
            self.rows[self.pool_rows[i]] += 1
            self.keys.add(self._key(self.pool_rows[i], group_cols))

    def _write(self, idx, group_cols, **kw):
        write_encoded(self._df(idx), self.path, group_cols=group_cols, **kw)
        self._add(idx, group_cols)

    def _epoch(self, idx, group_cols):
        _epoch(self._df(idx), self.path, self.next_epoch, group_cols)
        self.last_epoch = self.next_epoch
        self.next_epoch += 1
        self._add(idx, group_cols)

    # -- rules and operations

    subset = st.lists(st.integers(0, 39), min_size=1, max_size=12, unique=True)
    layout = st.sampled_from([GROUPS, []])

    @initialize(idx=subset, group_cols=layout, stream=st.booleans())
    def create(self, idx, group_cols, stream):
        # a stream into an empty path writes the base, as a write does
        if stream:
            self._epoch(idx, group_cols)
        else:
            self._write(idx, group_cols)

    def valid(self, op):
        return {
            "rerun_crashed_append": self.crashed is not None,
            "replayed_epoch": self.last_epoch is not None,
            # only a compaction with two commits to fold writes a record
            "compact_crashed_before_record": self.commits >= 2,
            "compact_crashed_in_cleanup": self.commits >= 2,
        }.get(op, True)

    # One rule draws the operation among those valid in this state, so
    # every example can reach every operation: hypothesis enables only a
    # random subset of a machine's rules in each example.
    @rule(data=st.data(), idx=subset, group_cols=layout)
    def step(self, data, idx, group_cols):
        op = data.draw(st.sampled_from([o for o in OPS if self.valid(o)]))
        getattr(self, op)(idx, group_cols)

    def overwrite(self, idx, group_cols):
        self.rows, self.keys = Counter(), set()
        self._write(idx, group_cols, mode="overwrite")
        self.commits, self.last_epoch = 0, None

    def append(self, idx, group_cols):
        self._write(idx, group_cols, mode="append")
        self.commits += 1

    def crashed_append(self, idx, group_cols):
        with pytest.MonkeyPatch.context() as m:
            _crash_before_commit(m)
            with pytest.raises(RuntimeError, match="simulated crash"):
                write_encoded(
                    self._df(idx), self.path, mode="append",
                    group_cols=group_cols,
                )
        self.crashed = (idx, group_cols)

    def rerun_crashed_append(self, _idx, _group_cols):
        (idx, group_cols), self.crashed = self.crashed, None
        self.append(idx, group_cols)

    def resume(self, idx, group_cols):
        pending = [
            i for i in idx
            if self._key(self.pool_rows[i], group_cols) not in self.keys
        ]
        n = resume_encode(self._df(idx), self.path, group_cols=group_cols)
        assert (n > 0) == bool(pending)
        self._add(pending, group_cols)
        self.commits += bool(pending)

    def epoch(self, idx, group_cols):
        self._epoch(idx, group_cols)
        self.commits += 1

    def replayed_epoch(self, idx, group_cols):
        """foreachBatch replays the last committed epoch: no file moves."""
        before = _tree(self.path)
        _epoch(self._df(idx), self.path, self.last_epoch, group_cols)
        assert _tree(self.path) == before

    def compact(self, _idx, _group_cols):
        folded = self.commits if self.commits >= 2 else 0
        assert compact(self.spark, self.path) == folded
        self.commits -= max(folded - 1, 0)

    def compact_crashed_before_record(self, _idx, _group_cols):
        with pytest.MonkeyPatch.context() as m:
            _crash_before_commit(m)
            with pytest.raises(RuntimeError, match="simulated crash"):
                compact(self.spark, self.path)

    def compact_crashed_in_cleanup(self, idx, _group_cols):
        """The record landed: readers see the compaction alone, and the
        dirs it absorbs (``len(idx) % 2`` removed, one half removed)
        wait for the next compaction's cleanup."""
        with pytest.MonkeyPatch.context() as m:
            _crash_in_cleanup(m, len(idx) % 2)
            with pytest.raises(RuntimeError, match="simulated crash"):
                compact(self.spark, self.path)
        self.commits = 1

    # -- the checks, after every step

    @invariant()
    def readers_agree_with_the_model(self):
        spark, path = self.spark, self.path
        want = self.rows

        def got(df):
            # bloom words arrive as lists: make every row hashable
            return Counter(
                tuple(tuple(v) if isinstance(v, list) else v for v in r)
                for r in df.collect()
            )

        assert got(read_decoded(spark, path)) == want
        exchange = decode_table(read_chunks(spark, path), read_schema(path))
        assert got(exchange) == want
        assert count_rows(spark, path) == sum(want.values())
        path_at, lang_at = self.cols.index("path"), self.cols.index("lang")
        key = min(t[path_at] for t in want)
        looked_up = scan(spark, path, filters=[("path", "==", key)])
        assert got(looked_up) == Counter(
            {t: k for t, k in want.items() if t[path_at] == key}
        )
        langs = [t[lang_at] for t in want]
        assert column_min_max(spark, path, "lang") == (min(langs), max(langs))
        report = verify_dataset(spark, path)
        assert report["ok"], report
        # the metadata rows are the committed chunk rows less payload
        assert got(read_manifest(spark, path)) == got(
            read_chunks(spark, path).select(*MANIFEST_COLS)
        )
        assert not any(MANIFEST_DIR in dirs for _, dirs, _ in os.walk(path))


def _lifecycle(spark, tmp_path):
    DatasetLifecycle.spark = spark
    DatasetLifecycle.pool = source_code_df(spark, 40, n_repos=3).toArrow()
    DatasetLifecycle.tmp_root = str(tmp_path)


# every operation at least once, crossing them: appends beside
# epochs, an append that takes the number of a crashed one, a re-run
# after it, a resume, a compaction that crashes before its record, then
# stream -> compact -> stream -> compact with appends between (the
# second crashing in its cleanup, after one absorbed dir), a replayed
# epoch, an overwrite and a stream after it
SEQUENCE = [
    ("epoch", range(3, 10), GROUPS),
    ("append", range(0, 5), GROUPS),
    ("crashed_append", range(10, 16), []),
    ("append", range(5, 9), []),
    ("rerun_crashed_append", (), None),
    ("resume", range(0, 20), GROUPS),
    ("compact_crashed_before_record", (), None),
    ("compact", (), None),
    ("replayed_epoch", range(20, 24), GROUPS),
    ("epoch", range(20, 26), []),
    ("append", range(26, 30), GROUPS),
    ("epoch", range(30, 34), GROUPS),
    ("compact_crashed_in_cleanup", range(1), None),
    ("epoch", range(34, 40), []),
    ("compact", (), None),
    ("overwrite", range(30, 36), GROUPS),
    ("epoch", range(0, 4), GROUPS),
]

# a stream on a dataset a write created: stream -> compact -> append
# -> stream -> compact
ON_A_WRITTEN_BASE = [
    ("epoch", range(0, 8), GROUPS),
    ("epoch", range(8, 14), []),
    ("compact", (), None),
    ("append", range(14, 20), GROUPS),
    ("epoch", range(20, 30), GROUPS),
    ("compact", (), None),
]


def _run(spark, tmp_path, stream, sequence):
    """The model's operations in a fixed order, checked after each."""
    _lifecycle(spark, tmp_path)
    machine = DatasetLifecycle()
    machine.create(list(range(6)), [], stream=stream)
    machine.readers_agree_with_the_model()
    for op, idx, group_cols in sequence:
        assert machine.valid(op), op
        getattr(machine, op)(list(idx), group_cols)
        machine.readers_agree_with_the_model()


def test_dataset_lifecycle_sequence(spark, tmp_path):
    """The model's operations in a fixed order, from a stream into an
    empty path."""
    _run(spark, tmp_path, True, SEQUENCE)


def test_dataset_lifecycle_stream_on_a_written_base(spark, tmp_path):
    """A stream on a dataset write_encoded created, compacted twice."""
    _run(spark, tmp_path, False, ON_A_WRITTEN_BASE)


def test_dataset_lifecycle_model(spark, tmp_path):
    """Random operation sequences. Derandomized, so every run takes the
    same steps; the bounds keep the test near 20 s on 4 vCPUs."""
    _lifecycle(spark, tmp_path)
    run_state_machine_as_test(
        DatasetLifecycle,
        settings=settings(
            max_examples=3,
            stateful_step_count=4,
            deadline=None,
            database=None,
            derandomize=True,
            suppress_health_check=list(HealthCheck),
        ),
    )
