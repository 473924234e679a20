"""Scratch-space resolution for queries that materialize intermediate
state (write-roundtrip lake partitions, persisted IVF indexes), and
:func:`build_once` for artifacts derived from fixture files.

The scratch root is NOT hardcoded to a checkout location: it resolves, in
order, (1) the ``DATALAKE_SPARK_SCRATCH`` env var, (2) a ``.scratch``
directory next to this package (works from any checkout path), falling
back to (3) a per-user tempdir when the repo directory is read-only.
Sub-paths are keyed by a short hash of the FULL input directory so two
fixtures with the same basename (e.g. ``/a/sf0.01`` vs ``/b/sf0.01``)
never collide.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from pathlib import Path
from typing import Callable, Iterable


def scratch_root() -> str:
    env = os.environ.get("DATALAKE_SPARK_SCRATCH")
    if env:
        return env.rstrip("/")
    repo_scratch = Path(__file__).resolve().parents[1] / ".scratch"
    try:
        repo_scratch.mkdir(parents=True, exist_ok=True)
        return str(repo_scratch)
    except OSError:
        d = Path(tempfile.gettempdir()) / f"datalake_spark_scratch_{os.getuid()}"
        d.mkdir(parents=True, exist_ok=True)
        return str(d)


def scratch_dir(kind: str, sf_dir: str) -> str:
    """Deterministic per-(kind, input-dir) scratch path, collision-free
    across same-basename inputs.

    Growth is bounded: each resolved dir records its source input path in
    a ``.src`` marker, and every resolution best-effort prunes sibling
    dirs of the same kind whose recorded source no longer exists (the
    pytest-tmp_path fixtures that accumulated 40+ dead cache dirs by
    round 4). Keys inside one dir are :func:`build_once`'s to prune."""
    sf_abs = os.path.abspath(sf_dir.rstrip("/"))
    digest = hashlib.sha1(sf_abs.encode()).hexdigest()[:8]
    tag = f"{os.path.basename(sf_abs) or 'sf'}_{digest}"
    root = scratch_root()
    _prune_stale_siblings(root, kind)
    path = f"{root}/{kind}_{tag}"
    try:
        parent = Path(path)
        parent.mkdir(parents=True, exist_ok=True)
        marker = parent / ".src"
        if not marker.exists():
            marker.write_text(sf_abs)
    except OSError:
        pass
    return path


def build_once(kind: str, sf_dir: str, sources: Iterable[str],
               build: Callable[[str], object], suffix: str = "") -> str:
    """Path of the artifact ``build`` derives from ``sources``, built at
    most once per (size, mtime) of every source.

    The artifact is ``<key>`` in ``scratch_dir(kind, sf_dir)``, the key
    spelling each source's size and mtime (``suffix`` appends what the
    sources do not determine, such as a build parameter). A miss removes
    every other entry of the kind but the ``.src`` marker (a regenerated
    fixture orphans them), runs ``build(tmp)`` to write a file or
    directory at ``<key>.tmp`` and publishes it with ``os.replace``: a
    build that raises or is killed publishes nothing, and the next call
    rebuilds from scratch."""
    root = scratch_dir(kind, sf_dir)
    key = "_".join(f"{st.st_size}_{st.st_mtime_ns}"
                   for st in map(os.stat, sources)) + suffix
    path = os.path.join(root, key)
    if not os.path.exists(path):
        for name in os.listdir(root):
            if name != ".src":
                _remove(os.path.join(root, name))
        build(path + ".tmp")
        os.replace(path + ".tmp", path)
    return path


def _remove(path: str) -> None:
    if os.path.isdir(path) and not os.path.islink(path):
        shutil.rmtree(path, ignore_errors=True)
    else:
        os.remove(path)


def _prune_stale_siblings(root: str, kind: str) -> None:
    """Remove ``<kind>_*`` scratch dirs whose recorded source input dir
    has vanished (dead pytest tmp dirs). Best-effort, never raises."""
    prefix = f"{kind}_"
    try:
        entries = os.listdir(root)
    except OSError:
        return
    for name in entries:
        if not name.startswith(prefix):
            continue
        d = os.path.join(root, name)
        marker = os.path.join(d, ".src")
        try:
            if not os.path.isfile(marker):
                continue
            with open(marker) as fh:
                src = fh.read().strip()
            if src and not os.path.exists(src):
                shutil.rmtree(d, ignore_errors=True)
        except OSError:
            continue


#: Markerless keyed dirs younger than this survive prune_stale: a live
#: cache whose best-effort ``.src`` write failed (OSError swallowed in
#: scratch_dir) must not be rmtree'd out from under a running gate/bench.
_MARKERLESS_MIN_AGE_S = 24 * 3600


def prune_stale(root: str | None = None) -> list[str]:
    """Sweep the WHOLE scratch root once: remove every keyed scratch dir
    whose recorded ``.src`` input no longer exists, plus AGED dirs with
    no marker at all that match the keyed naming shape (legacy keys from
    before the marker discipline). Markerless dirs are age-gated (>24 h
    since last mtime) so a live cache whose marker write failed — or an
    unrelated dir that happens to match ``name_8hex`` — is never deleted
    while it could still be in use. Called at gate/bench start so dead
    pytest-tmp caches never accumulate across rounds. Returns removed
    paths; best-effort, never raises."""
    import re
    import time

    root = root or scratch_root()
    removed = []
    keyed = re.compile(r"^[a-z0-9_.]+_[0-9a-f]{8}$")
    try:
        entries = os.listdir(root)
    except OSError:
        return removed
    for name in entries:
        d = os.path.join(root, name)
        if not os.path.isdir(d) or not keyed.match(name):
            continue
        marker = os.path.join(d, ".src")
        try:
            if os.path.isfile(marker):
                with open(marker) as fh:
                    src = fh.read().strip()
                if not src or os.path.exists(src):
                    continue
            elif time.time() - os.path.getmtime(d) < _MARKERLESS_MIN_AGE_S:
                continue
            shutil.rmtree(d, ignore_errors=True)
            removed.append(d)
        except OSError:
            continue
    # Repo-hygiene sweep that used to live in the session factory (a
    # global side effect every get_spark paid): externally-created
    # sessions (driver harness, bare pyspark in this cwd) materialize an
    # EMPTY spark-warehouse/ at the checkout root before our conf routes
    # it into scratch. rmdir refuses non-empty dirs, so a genuinely used
    # warehouse is never touched.
    try:
        os.rmdir(os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "spark-warehouse"))
    except OSError:
        pass
    return removed
