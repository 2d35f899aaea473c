"""The load-job sinks' commits under crashes and concurrency.

The writers are driven in this process, as Spark's driver and tasks
would drive them: ``write`` once per task, then ``commit``.  Spark runs a
sink's commit in a separate Python worker, where a patched move would
not reach, so a crash between moves can only be injected here."""

import gzip
import json

import pytest
from pyspark import TaskContext
from pyspark.sql import types as T

from migbq_spark import commit
from migbq_spark.pkrange_source import EpochLoadJobStreamWriter, LoadJobWriter

SCHEMA = T.StructType([T.StructField("id", T.LongType())])


class _Task:
    """A task of micro-batch 0 (streaming) or of a batch job."""

    def __init__(self, partition: int):
        self.partition = partition

    def partitionId(self) -> int:  # noqa: N802 - Spark API name
        return self.partition

    def getLocalProperty(self, key: str) -> str:  # noqa: N802 - Spark API name
        assert key == "streaming.sql.batchId"
        return "0"


def _stage(monkeypatch, writer, parts: list[range]) -> list:
    """Run one write task per part, as partitions 0, 1, ..."""
    messages = []
    with monkeypatch.context() as m:
        for i, ids in enumerate(parts):
            m.setattr(TaskContext, "get", classmethod(lambda cls, t=_Task(i): t))
            messages.append(writer.write(iter([(k,) for k in ids])))
    return messages


def _ids(files) -> list[int]:
    out = []
    for f in files:
        with gzip.open(f, "rt") as fh:
            out += [json.loads(line)["id"] for line in fh]
    return sorted(out)


def _kill_after(monkeypatch, k: int) -> None:
    """Make the commit die once ``k`` of its moves are done."""
    real, moved = commit._move, []

    def move(src, dst):
        if len(moved) < k:
            real(src, dst)
            moved.append(dst)
        if len(moved) == k:
            raise RuntimeError("killed mid-commit")

    monkeypatch.setattr(commit, "_move", move)


@pytest.mark.parametrize("k", [0, 1, 3])
def test_batch_commit_killed_after_k_moves_next_write_publishes(tmp_path, monkeypatch, k):
    dest = str(tmp_path / "dest")
    first = LoadJobWriter({"path": dest}, SCHEMA)
    messages = _stage(monkeypatch, first, [range(0, 10), range(10, 20), range(20, 30)])
    _kill_after(monkeypatch, k)
    with pytest.raises(RuntimeError, match="killed"):
        first.commit(messages)
    monkeypatch.undo()
    first.abort(messages)  # as Spark does when a commit raises
    assert len(list(tmp_path.glob("dest/part-*"))) == k

    second = LoadJobWriter({"path": dest}, SCHEMA)
    second.commit(_stage(monkeypatch, second, [range(30, 40)]))
    assert _ids(tmp_path.glob("dest/part-*")) == list(range(40))
    assert json.loads((tmp_path / "dest" / "_MANIFEST.json").read_text())["n_rows"] == 10
    assert not (tmp_path / "dest" / "_staging").exists()


@pytest.mark.parametrize("k", [0, 1, 3])
def test_epoch_commit_killed_after_k_moves_replay_leaves_each_row_once(tmp_path, monkeypatch, k):
    dest = str(tmp_path / "dest")
    first = EpochLoadJobStreamWriter({"path": dest}, SCHEMA)
    messages = _stage(monkeypatch, first, [range(0, 10), range(10, 20), range(20, 30)])
    _kill_after(monkeypatch, k)
    with pytest.raises(RuntimeError, match="killed"):
        first.commit(messages, 0)
    monkeypatch.undo()
    first.abort(messages, 0)

    # a restarted query replays the epoch, cut into fewer parts: it
    # supersedes the killed attempt rather than adding to it
    replay = EpochLoadJobStreamWriter({"path": dest}, SCHEMA)
    replay.commit(_stage(monkeypatch, replay, [range(0, 15), range(15, 30)]), 0)
    assert _ids(tmp_path.glob("dest/epoch=0/*")) == list(range(30))
    receipts = [json.loads(line) for line in (tmp_path / "dest" / "_EPOCHS.jsonl").open()]
    assert receipts[-1] == {"batch_id": 0, "n_files": 2, "n_rows": 30}
    assert not (tmp_path / "dest" / "_staging").exists()


def test_two_batch_writers_to_one_destination_both_land(tmp_path, monkeypatch):
    dest = str(tmp_path / "dest")
    a = LoadJobWriter({"path": dest}, SCHEMA)
    b = LoadJobWriter({"path": dest}, SCHEMA)
    staged_a = _stage(monkeypatch, a, [range(0, 10), range(10, 20)])
    staged_b = _stage(monkeypatch, b, [range(20, 30)])
    a.commit(staged_a)
    b.commit(staged_b)
    assert _ids(tmp_path.glob("dest/part-*")) == list(range(30))
    assert not (tmp_path / "dest" / "_staging").exists()


def test_abort_before_commit_leaves_nothing(tmp_path, monkeypatch):
    dest = str(tmp_path / "dest")
    failed = LoadJobWriter({"path": dest}, SCHEMA)
    failed.abort(_stage(monkeypatch, failed, [range(0, 10)]))
    assert not list(tmp_path.glob("dest/**/part-*"))
    assert not list(tmp_path.glob("dest/_staging/*"))
