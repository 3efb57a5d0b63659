"""The one staging contract for derived artifacts.

Several entries stage a derived artifact per SF and reuse it across
runs: the snapshot and branch lakes, the flat-format landings, the
LSH indexes, the media lake, the bucketed layout and the stream
landing dir. A `_SUCCESS`-or-existence guard proves the WRITE
finished — not that it was written FROM the current source. When the
source parquet changes under an already-staged derivative
(regenerated derived SFs; a refreshed lake in production), such a
guard silently serves stale data — the sf1 soak caught exactly this:
a stored LSH index built from a previous corpus generation returned
47x the correct pair count while every small-SF check stayed green.

This module alone decides where an artifact lives
(:func:`artifact_dir`), whether it is fresh and who may build it
(:func:`ensure_staged`): a marker JSON next to the artifact records
the staging parameters, including the :func:`file_identity` of the
source inputs; any mismatch — absent marker, changed params, changed
source — rebuilds from scratch. Markers publish atomically (tmp +
rename) and every build runs under one process lock. The same
:func:`file_identity` keys the reader's schema cache
(``readers.read_parquet_inferred``).
"""

from __future__ import annotations

import json
import os
import shutil
import threading

ARTIFACT_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".artifacts",
)

_LOCK = threading.RLock()


def sf_name(sf_dir: str) -> str:
    """The SF's directory name (``sf0.01``), trailing slash ignored."""
    return os.path.basename(sf_dir.rstrip("/"))


def artifact_dir(kind: str, sf_dir: str) -> str:
    """``.artifacts/<kind>/<sf name>`` under the repo root: the one
    place a per-SF artifact or scratch dir lives."""
    return os.path.join(ARTIFACT_ROOT, kind, sf_name(sf_dir))


def file_identity(path: str) -> list:
    """The sorted ``[relative path, size, mtime_ns, inode]`` listing of
    the files a Spark read of ``path`` would see (``"."`` for a single
    file; hidden ``_``/``.`` entries skipped, as Spark does). Any
    rewrite, added or removed file, or replacement by a new inode
    changes it. Lists, not tuples, so it compares equal to itself after
    a JSON round trip through a staging marker."""
    if not os.path.isdir(path):
        files = [path]
    else:
        files = []
        for root, dirs, names in os.walk(path, followlinks=True):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            files += [os.path.join(root, f) for f in names if not f.startswith(("_", "."))]
    out = []
    for f in files:
        st = os.stat(f)
        out.append([os.path.relpath(f, path), st.st_size, st.st_mtime_ns, st.st_ino])
    return sorted(out)


def spark_success(root: str) -> bool:
    """``valid_fn`` for a Spark write: its ``_SUCCESS`` file exists."""
    return os.path.exists(os.path.join(root, "_SUCCESS"))


def ensure_staged(root: str, params: dict, build_fn, valid_fn=None) -> str:
    """Build-once guard with a staleness contract: reuse the artifact
    at ``root`` only when its marker matches ``params`` exactly
    (include a file_identity() of the inputs in params to bind the
    artifact to them) AND the optional ``valid_fn(root)`` postcondition
    holds (e.g. :func:`spark_success`); otherwise wipe and rebuild via
    ``build_fn(root)``. ``valid_fn`` is re-asserted after the build so
    a write that silently failed its postcondition can never publish a
    marker. Returns ``root``."""
    marker = os.path.join(root, "_STAGED.json")
    with _LOCK:
        if os.path.exists(marker):
            try:
                with open(marker) as fh:
                    if json.load(fh) == params and (
                        valid_fn is None or valid_fn(root)
                    ):
                        return root
            except ValueError:
                pass  # corrupt marker (crash mid-publish) -> restage
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        build_fn(root)
        if valid_fn is not None and not valid_fn(root):
            raise RuntimeError(
                f"staged build at {root} failed its validity postcondition"
            )
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(params, fh)
        os.replace(tmp, marker)
    return root
