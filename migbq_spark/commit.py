"""The one commit protocol, for the forwarder and both load-job sinks:
how a staged write becomes visible in its destination exactly once,
whatever fails (migbq got this from BigQuery load jobs, SURVEY.md §1.1).

1. A job stages its files in ``<dest>/_staging/<job_id>``, which Spark's
   file index hides from readers of ``<dest>``.
2. ``commit`` records the job's manifest there, ``_COMMIT.json``, before
   any file moves.  Its atomic rename into place is the commit point.
3. ``publish`` makes the pending moves, deletes the files the job
   ``replaces``, calls the caller's idempotent ``done(receipt)`` and
   removes the job's directory.

``recover`` publishes every manifest left under ``<dest>/_staging``; a
directory without one belongs to a job that never committed.  No Spark
here, so the sinks can ship this module to Python workers by value.
"""

from __future__ import annotations

import json
import os
import shutil
from contextlib import suppress
from glob import escape, glob

MANIFEST = "_COMMIT.json"


def stage_dir(dest: str, job_id: str) -> str:
    """Create (if needed) and return the job's staging directory."""
    path = os.path.join(dest, "_staging", job_id)
    while not os.path.isdir(path):
        # a publish may remove the empty _staging between makedirs' mkdirs
        with suppress(FileNotFoundError):
            os.makedirs(path, exist_ok=True)
    return path


def write_json(path: str, obj) -> None:
    """Write ``obj`` to ``path`` durably and atomically: a reader sees the
    old file or the whole new one."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def commit(dest: str, job_id: str, moves, replaces, receipt: dict, done) -> None:
    """Record the job's manifest, then publish it.  ``moves`` are (staged
    name, name relative to ``dest``) pairs; ``replaces`` never names a
    file the job moves in."""
    manifest = {"job_id": job_id, "moves": moves, "replaces": replaces, "receipt": receipt}
    write_json(os.path.join(stage_dir(dest, job_id), MANIFEST), manifest)
    publish(dest, manifest, done)


def publish(dest: str, manifest: dict, done) -> None:
    """Finish a committed job: steps that already ran are skipped."""
    staging = os.path.join(dest, "_staging", manifest["job_id"])
    for staged, final in manifest["moves"]:
        _move(os.path.join(staging, staged), os.path.join(dest, final))
    for name in manifest["replaces"]:
        _unlink(os.path.join(dest, name))
    done(manifest["receipt"])
    shutil.rmtree(staging, ignore_errors=True)
    with suppress(OSError):
        os.rmdir(os.path.dirname(staging))  # the shared _staging, once empty


def _move(src: str, dst: str) -> None:
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    try:
        os.replace(src, dst)
    except FileNotFoundError:
        if not os.path.exists(dst):
            raise
        # moved already, by an earlier or a concurrent publish


def _unlink(path: str) -> None:
    """Delete a data file and the checksum Hadoop's local filesystem
    keeps beside it."""
    head, name = os.path.split(path)
    for p in (path, os.path.join(head, f".{name}.crc")):
        with suppress(FileNotFoundError):
            os.unlink(p)


def recover(dest: str, done) -> None:
    """Publish every job under ``dest`` that committed and did not finish."""
    for path in sorted(glob(os.path.join(escape(dest), "_staging", "*", MANIFEST))):
        try:
            with open(path) as fh:
                manifest = json.load(fh)
        except FileNotFoundError:
            continue  # its own publish finished meanwhile
        publish(dest, manifest, done)


def abort(dest: str, job_id: str) -> None:
    """Discard the job's staging, unless the job committed: a commit that
    failed after its manifest is finished by ``recover``, not undone."""
    staging = os.path.join(dest, "_staging", job_id)
    if not os.path.exists(os.path.join(staging, MANIFEST)):
        shutil.rmtree(staging, ignore_errors=True)
