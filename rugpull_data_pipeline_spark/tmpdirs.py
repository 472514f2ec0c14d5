"""Session-scoped scratch directories with automatic hygiene.

The streaming replays and bucketed-table fixtures need throwaway on-disk
locations (source slices, checkpoints, parquet sinks). Creating them with
bare ``tempfile.mkdtemp`` litters ``$TMPDIR`` with one orphan per run —
harmless once, unbounded growth under repeated CI runs.

This module gives every process ONE scratch root,
``$TMPDIR/rugpull_scratch_<pid>``, and hands out subdirectories inside it.
On first use it sweeps scratch roots left behind by processes that no
longer exist (liveness-checked via ``os.kill(pid, 0)``), plus any older
than ``_MAX_AGE_S`` as a backstop for pid reuse — so a fresh test run
leaves ``$TMPDIR`` no larger than it found it.

The zips shipped to Spark's Python workers (the package and the
miniproto shim, ``scratch_zip``) live in the scratch root too, so they go
with their process's root.

Deliberately NOT swept: the content-keyed cached corpora
(``rugpull_guard_corpus_*``, ``rugpull_solana_*``, ``rugpull_blobs_*``,
``rugpull_bucketed_*``). Those carry their parameters in the name, are
reused across runs, and rebuilding them is the expensive part — exactly the
cache-key convention the rest of the repo uses. ``published_dir`` writes
them so that a reader never sees a partial file.
"""

from __future__ import annotations

import errno
import os
import pathlib
import shutil
import tempfile
import uuid
import zipfile
from collections.abc import Iterator
from contextlib import contextmanager

_MAX_AGE_S = 6 * 3600
_SWEPT = False
_ZIPS: dict[str, str] = {}


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except OSError as ex:
        return ex.errno == errno.EPERM  # alive but not ours
    return True


def _sweep_stale_roots() -> None:
    """Remove scratch roots of dead processes (and very old ones)."""
    import time

    base = tempfile.gettempdir()
    now = time.time()
    try:
        entries = os.listdir(base)
    except OSError:  # pragma: no cover
        return
    for name in entries:
        if not name.startswith("rugpull_scratch_"):
            continue
        path = os.path.join(base, name)
        try:
            pid = int(name.rsplit("_", 1)[-1])
        except ValueError:
            pid = -1
        if pid == os.getpid():
            continue
        stale_age = False
        try:
            stale_age = now - os.path.getmtime(path) > _MAX_AGE_S
        except OSError:
            pass
        if (pid > 0 and not _pid_alive(pid)) or stale_age:
            shutil.rmtree(path, ignore_errors=True)


def scratch_root() -> str:
    """This process's scratch root (created on demand; sweeps once)."""
    global _SWEPT
    if not _SWEPT:
        _sweep_stale_roots()
        _SWEPT = True
    root = os.path.join(tempfile.gettempdir(), f"rugpull_scratch_{os.getpid()}")
    os.makedirs(root, exist_ok=True)
    return root


def scratch_dir(prefix: str = "tmp_") -> str:
    """A fresh unique directory under the session scratch root.

    Drop-in for ``tempfile.mkdtemp(prefix=...)`` at every replay call site;
    the whole root is reclaimed by the next process's sweep once this one
    exits, so repeated runs cannot grow ``$TMPDIR`` unboundedly.
    """
    return tempfile.mkdtemp(prefix=prefix, dir=scratch_root())


def scratch_zip(src: pathlib.Path, prefix: str, arc_root: str = "") -> str:
    """A zip of the ``*.py`` files under ``src`` (archived under
    ``arc_root``), written once per process under the scratch root at an
    mkstemp path — unpredictable and O_EXCL-fresh, never a fixed name in the
    shared temp dir that a symlink or concurrent writer could race."""
    zip_path = _ZIPS.get(str(src))
    if zip_path is not None and os.path.exists(zip_path):
        return zip_path
    fd, zip_path = tempfile.mkstemp(prefix=prefix, suffix=".zip", dir=scratch_root())
    with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as z:
        for p in sorted(src.rglob("*.py")):
            z.write(p, arcname=str(pathlib.Path(arc_root) / p.relative_to(src)))
    _ZIPS[str(src)] = zip_path
    return zip_path


@contextmanager
def published_dir(out_dir: str) -> Iterator[str]:
    """Yield a fresh hidden sibling directory of ``out_dir`` to write into;
    on success publish its files at ``out_dir``.

    An absent or empty ``out_dir`` is replaced by the whole directory in one
    rename. An existing one (a later batch landing next to earlier files)
    takes each file by ``os.replace``, ``.done*`` markers last. Either way a
    reader sees each file whole or not at all, and a concurrent writer of
    the same seeded content swaps in identical bytes without truncating a
    file another reader has open."""
    parent, base = os.path.split(os.path.abspath(out_dir))
    os.makedirs(parent, exist_ok=True)
    tmp = os.path.join(parent, f".{base}.{uuid.uuid4().hex}")
    os.mkdir(tmp)  # not mkdtemp: keep the umask's mode for the published dir
    try:
        yield tmp
        try:
            os.rename(tmp, out_dir)
        except OSError:
            for name in sorted(os.listdir(tmp), key=lambda n: n.startswith(".done")):
                os.replace(os.path.join(tmp, name), os.path.join(out_dir, name))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
