"""Where a key's on-disk files live, and when they are rebuilt.

This module owns every directory a key writes under the temp dir:

- **Derived stages** (``staged``): files built from a corpus table —
  a partitioned or fragmented copy, a rollup, a stream replay slice —
  and reused until that table changes.  The build goes into a unique
  scratch dir and is swapped in with ``os.rename``, so a reader sees
  either the whole old stage or the whole new one.  The stage's
  marker records the version of the source file it was built from
  (``session.file_version``), and any other version rebuilds it,
  whether the file's mtime moved forwards or back.
- **Per-call outputs** (``empty_stage``): dirs a key writes on every
  call (round-trip files, stream sinks and their checkpoints).  The
  dir is emptied first, so disk use stays at one dir per key and
  corpus however often the key runs, and nothing from the last call
  survives (a left-over checkpoint would replay nothing).

Both are keyed by ``stage_path``: the corpus basename plus a digest of
its ABSOLUTE path, so two corpora with the same basename under
different parents (``/a/sf0.01`` and ``/b/sf0.01``) never share files.

100 TB posture: staging is a TEST-FIXTURE concern (local replay dirs
and re-layouts of the single-file corpus) — production pipelines read
the real object store directly; nothing here is on the scaled data
path.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable

from etl_builder_spark.session import file_version

#: file in a finished stage that records the source version it was built from
MARKER = "_staged"


def stage_path(family: str, sf_dir: str) -> str:
    """Collision-proof stage directory for (family, corpus): the
    basename keeps paths human-readable, the abs-path digest makes
    same-basename corpora under different parents distinct."""
    abs_dir = os.path.abspath(sf_dir.rstrip("/") or sf_dir)
    digest = hashlib.sha256(abs_dir.encode("utf-8")).hexdigest()[:12]
    return os.path.join(
        tempfile.gettempdir(),
        family,
        f"{os.path.basename(abs_dir)}-{digest}",
    )


def is_current(stage: str, version: int) -> bool:
    """True when ``stage`` holds a finished build of source version
    ``version`` (a ``session.file_version``)."""
    try:
        with open(os.path.join(stage, MARKER)) as f:
            return f.read() == str(version)
    except OSError:
        return False


def mark_built(stage: str, version: int) -> None:
    """Record in ``stage`` that it holds a finished build of source
    version ``version``.  Spark's readers skip ``_``-prefixed files, so
    the marker may sit inside a parquet table's dir."""
    with open(os.path.join(stage, MARKER), "w") as f:
        f.write(str(version))


def staged(family: str, sf_dir: str, src: str, build: Callable[[str], None]) -> str:
    """Marker-guarded idempotent staging, atomic-swap edition.

    If the marker does not record the current version of ``src``, the
    stage is rebuilt — but never in place (ADVICE r11: the old
    clear-first ``rmtree`` could delete files out from under a
    concurrent reader, and two processes racing the marker check could
    interleave).  The rebuild goes into a UNIQUE temp sibling (so
    concurrent builders never share a scratch dir), the marker is
    written there, and the finished tree is swapped in with
    ``os.rename`` — atomic on POSIX within one filesystem — so a reader
    listing the stage path only ever observes either the complete old
    tree or the complete new one, never a partially-built state.
    """
    stage = stage_path(family, sf_dir)
    version = file_version(src)
    if not is_current(stage, version):
        parent = os.path.dirname(stage)
        os.makedirs(parent, exist_ok=True)
        scratch = tempfile.mkdtemp(prefix=os.path.basename(stage) + ".build-", dir=parent)
        try:
            build(scratch)
            mark_built(scratch, version)
            # swap in: move any existing stage aside first (rename onto a
            # non-empty dir fails on POSIX), then promote the scratch tree.
            trash = None
            if os.path.exists(stage):
                trash = tempfile.mkdtemp(prefix=os.path.basename(stage) + ".old-", dir=parent)
                os.rename(stage, os.path.join(trash, "t"))
            try:
                os.rename(scratch, stage)
                scratch = None  # promoted — nothing to clean up
            except OSError:
                # a concurrent builder promoted its tree between our
                # move-aside and rename; its stage is complete (marker
                # written pre-swap), so just discard our scratch copy.
                pass
            if trash is not None:
                shutil.rmtree(trash, ignore_errors=True)
        finally:
            if scratch is not None:
                shutil.rmtree(scratch, ignore_errors=True)
    return stage


def empty_stage(family: str, sf_dir: str) -> str:
    """``stage_path(family, sf_dir)``, emptied and ready to write: the
    output dir of a key that writes on every call.  Emptying matters
    beyond disk use: a checkpoint left from the last call would make a
    stream replay nothing, and a dynamic partition overwrite would keep
    partitions the new data no longer has.  A frame that reads the dir
    is only good until the key's next call on the same corpus."""
    stage = stage_path(family, sf_dir)
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage, exist_ok=True)
    return stage


def copy_parquet(src: str, dst: str) -> None:
    """Copy a parquet TABLE to a single file, whether ``src`` is a
    single-file corpus (the shipped sf dirs) or a Spark-written
    DIRECTORY of part files (the ×N scale syntheses).  The file-stream
    stagers replay byte-identical single files, so a directory source
    is consolidated through pyarrow (round-12 x10 sweep:
    ``shutil.copy`` raised IsADirectoryError on every stream_*_live
    key over the synthesized corpus).

    The directory path streams batch-at-a-time through a ParquetWriter
    (round-13, ADVICE r12): a single ``read_table`` materializes the
    whole table in driver memory, an OOM cliff once the engine's own
    Spark-written outputs (arbitrarily large at higher ×N syntheses)
    flow back through this stager.  ``pyarrow.dataset`` scans fragments
    in file order with a single thread, so the consolidated row order
    is deterministic — same guarantee the one-shot read gave."""
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    if os.path.isfile(src):
        shutil.copy(src, dst)
    else:
        ds = pads.dataset(src, format="parquet")
        with pq.ParquetWriter(dst, ds.schema) as writer:
            # use_threads=False keeps fragment order == filename order,
            # the same deterministic row order read_table produced.
            for batch in ds.scanner(use_threads=False).to_batches():
                if batch.num_rows:
                    writer.write_batch(batch)
