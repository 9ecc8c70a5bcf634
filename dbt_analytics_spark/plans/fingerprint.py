"""Relation-state fingerprints for derived-artifact staleness guards.

Engine-maintained derived tables (the star layouts and grain rollups of
plans/star_layout.py, and the semantic layer's aggregate-awareness
rollups that run through the same lifecycle) trade one build scan for
many accelerated reads — which is only sound while the SOURCE relation
is the one the artifact was built from. dbt
records the analogous contract as the node checksum in the manifest
(reference: SP/dbt/contracts/graph/nodes.py checksum field, used by
state:modified selection); here the source is a physical relation, so
the fingerprint is the relation's input-file listing (path, size,
mtime) — a metadata-only probe, one filesystem listing, no data scan.
Any append, overwrite, or compaction changes the listing, so a stale
artifact can never silently serve a routed answer.

The listing is recorded in a JSON sidecar beside the table's data files
(:func:`write_sidecar`; the lifecycle names it ``LAYOUT_SIDECAR``), the
durable copy of the table's contract that a later session verifies before
re-registering, routing or diffing for an incremental refresh.

At cluster scale the same probe is one namenode/object-store listing of
the table's files; the cost is O(files) driver-side metadata, which any
planner already pays to enumerate splits.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame


def data_listing(df: DataFrame) -> list[str]:
    """The CURRENT physical state of ``df``'s source relation as a
    sorted list of ``path|size|mtime_ns`` entries (path-only for files
    that cannot be locally stat-ed — remote filesystems: paths still
    change on overwrite since Spark writes fresh part-file names per
    job). A relation with no input files (in-memory temp view) lists as
    its schema plus a 'mem:' tag — appends to such relations are not
    file-detectable and callers should treat those artifacts as
    session-scoped. The listing (not just its digest) is what the
    append-only incremental-refresh fast path diffs: old ⊂ new with
    every old entry unchanged means the relation GREW by exactly the
    new files."""
    parts: list[str] = []
    for f in sorted(df.inputFiles()):
        if f.startswith("file:"):
            p = "/" + f.split(":", 1)[1].lstrip("/")
            try:
                st = os.stat(p)
                parts.append(f"{p}|{st.st_size}|{st.st_mtime_ns}")
                continue
            except OSError:
                pass
        parts.append(f)
    if not parts:
        parts = ["mem:" + df.schema.simpleString()]
    return parts


def digest(listing: list[str]) -> str:
    """The fingerprint of a file listing."""
    return hashlib.md5("\n".join(listing).encode()).hexdigest()


def data_fingerprint(df: DataFrame) -> str:
    """Digest of :func:`data_listing` — the per-query staleness stamp."""
    return digest(data_listing(df))


def files_listing(paths: list[str]) -> list[str]:
    """The ``path|size|mtime_ns`` entries behind :func:`files_fingerprint`
    — exposed so incremental-refresh paths can DIFF two states: old ⊂ new
    with every old entry unchanged means the sources GREW by exactly the
    new files (the append-only fast path). Each path may be a single file
    or a directory of part files; hidden entries (``.``/``_`` prefixed)
    are excluded, the same listing rule Spark's file index applies.
    Missing paths list as ``missing:`` entries (they still change the
    digest when a source appears/disappears)."""
    parts: list[str] = []
    for p in sorted(paths):
        if os.path.isfile(p):
            files = [p]
        elif os.path.isdir(p):
            files = sorted(
                os.path.join(p, f)
                for f in os.listdir(p)
                if not f.startswith((".", "_"))
            )
        else:
            parts.append(f"missing:{p}")
            continue
        for f in files:
            try:
                st = os.stat(f)
                parts.append(f"{f}|{st.st_size}|{st.st_mtime_ns}")
            except OSError:
                parts.append(f)
    return parts


def files_fingerprint(paths: list[str]) -> str:
    """Like :func:`data_fingerprint` but straight from filesystem paths —
    no Spark plan analysis, pure os.stat, so a per-query staleness check
    costs microseconds (digest of :func:`files_listing`)."""
    return digest(files_listing(paths))


def defs_fingerprint(obj) -> str:
    """Digest of a JSON-serializable definition object (dimension /
    measure expressions, layout contract fields). Pairs with
    :func:`data_fingerprint`: data catches source-content drift, defs
    catches definition drift (a YAML edit that changes what a stored
    partial MEANS without touching the source table)."""
    return hashlib.md5(
        json.dumps(obj, sort_keys=True, default=str).encode()
    ).hexdigest()


def read_sidecar(path: str, name: str) -> dict | None:
    """Read the JSON sidecar ``name`` from a table directory; None if
    absent or unparseable. The sidecar is the DURABLE copy of a derived
    table's spec: a catalog entry dies with an in-memory session catalog,
    but the files (and this sidecar beside them) persist in the
    warehouse, so a later session can verify before re-registering."""
    p = os.path.join(path, name)
    try:
        with open(p, encoding="utf-8") as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def write_sidecar(path: str, spec: dict, name: str) -> None:
    """Write ``spec`` as the JSON sidecar ``name`` into a table directory
    (atomic via rename, so a concurrent reader never sees a torn file).
    Local-fs I/O here; on a remote warehouse this becomes one object put.
    Failures raise: a table whose contract was not recorded must not look
    built."""
    p = os.path.join(path, name)
    tmp = p + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(spec, fh, sort_keys=True)
    os.replace(tmp, p)


def dir_is_complete(path: str) -> bool:
    """True when ``path`` holds a COMPLETED parquet write: at least one
    data file plus the committer's ``_SUCCESS`` marker. A directory
    without the marker is a crashed partial write and must never be
    re-registered as a table (it would silently serve incomplete
    data)."""
    try:
        names = os.listdir(path)
    except OSError:
        return False
    return "_SUCCESS" in names and any(n.endswith(".parquet") for n in names)
