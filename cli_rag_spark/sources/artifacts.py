"""The one build discipline for every persisted artifact.

An artifact is anything derived once and read by many calls: the
trade-edge graph, the IVF index, the PQ and IVFPQ indexes. Re-deriving
a shared table per consumer multiplies the most expensive join or
shuffle of the family by the number of consumers, and trusting a
persisted directory without checking what it was built from serves
stale answers. Every artifact therefore goes through
:func:`staged_artifact`:

* **staged write** - the build callback writes its children into a
  process-unique ``<path>.__stage__*`` directory, never into ``path``;
* **identity in the sidecar** - the helper writes a JSON sidecar
  holding the build's identity (input fingerprint plus every build
  parameter) as flat top-level keys, next to whatever extra keys the
  build reports (for example the vector dim);
* **atomic promote** - :func:`promote_staging` renames the complete
  staging into place, so a reader sees the old artifact or the new
  one, never a mix, and a crashed build leaves the old artifact and
  its sidecar untouched;
* **reuse by identity** - a call reuses the artifact iff the stored
  identity equals this call's identity; anything else rebuilds.

Identity choice. For an artifact derived from STORED tables (parquet
fixtures, warehouse tables) the input identity is the file listing -
(relative path, length, modificationTime) per data file, from
:func:`table_files_fingerprint`: O(#files) metadata calls, no data
scan, the identity Spark's own FileIndex uses. For an arbitrary
in-session frame, which has no file identity, it is the content
fingerprint of :func:`content_fingerprint` (row count plus an
order-independent hash of every row), one agg job per call.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_META_NAME = "_artifact_meta.json"

# Staging dirs younger than this are presumed to belong to a LIVE
# concurrent builder and are never swept (ADVICE r9, medium): sweeping
# a live builder's staging between its parquet write and its meta
# write would let fs.create silently recreate the dir with ONLY the
# meta sidecar, and a data-less artifact would then be promoted and
# poison every later reuse. One hour is generous — a real build is
# seconds to minutes — while still reclaiming genuinely crashed
# builders' orphans on the next rebuild.
_STAGE_SWEEP_AGE_MS = 60 * 60 * 1000


def _fs(spark: SparkSession, path: str):
    from cli_rag_spark.sources.compaction import _fs as fs_helper

    return fs_helper(spark, path)


def table_files_fingerprint(spark: SparkSession, path: str) -> list[list]:
    """Sorted ``[name, length, modificationTime]`` triples for every
    data file under ``path`` (recursive, hidden files excluded) — the
    O(1)-per-file identity of a stored table. JSON-friendly so it can
    be embedded in an artifact fingerprint dict."""
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        raise ValueError(f"fingerprint source does not exist: {path}")
    base = str(jpath.toUri().getPath())
    out: list[list] = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        name = str(p.toUri().getPath())
        rel = name[len(base):].lstrip("/")
        if p.getName().startswith(("_", ".")):
            continue
        out.append([rel, int(st.getLen()), int(st.getModificationTime())])
    out.sort()
    return out


def dir_bytes(spark: SparkSession, path: str) -> int:
    """Total data-file bytes under ``path`` (recursive, hidden files
    excluded) — the zero-scan input-size estimate behind the
    scale-aware shuffle-width rule (session.scaled_shuffle_width).
    O(#files) metadata calls, the same listing identity
    :func:`table_files_fingerprint` uses."""
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        raise ValueError(f"size source does not exist: {path}")
    total = 0
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().startswith(("_", ".")):
            continue
        total += int(st.getLen())
    return total


def content_fingerprint(
    df: DataFrame, id_col: str, vec_col: str
) -> tuple[int, int]:
    """``(n_rows, content_fp)`` of an in-session vector frame in ONE
    agg job: the row count plus the bit_xor of xxhash64 over each
    row's id and FULL vector. xxhash64 hashes array contents, so a
    change to any component of any row flips the fingerprint, and
    the xor makes it independent of row order and partitioning.

    Known limitation: xor cancels even-multiplicity rows, so two
    inputs that differ only by DISTINCT duplicated (id, vector) pairs
    share count and fingerprint. Ids are normally unique, which makes
    that collision require a full duplicated row pair. The empty
    input maps to fingerprint 0 (bit_xor over zero rows is NULL)."""
    stats = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.col(id_col), F.col(vec_col))).alias("fp"),
    ).first()
    return int(stats["n"]), int(stats["fp"]) if stats["fp"] is not None else 0


def norm_path(path: str) -> str:
    """Strip trailing slashes (scheme-safe): ``f"{path}.__stage__…"``
    with a trailing slash would otherwise place the staging INSIDE the
    destination directory, and the pre-rename delete of the
    destination would destroy the just-written staging (r10 review)."""
    while path.endswith("/") and not path.endswith("://"):
        path = path[:-1]
    return path


def read_json_sidecar(spark: SparkSession, path: str, name: str) -> dict | None:
    """The JSON sidecar ``<path>/<name>``, or None if absent/unreadable."""
    fs, root = _fs(spark, path)
    meta_path = spark._jvm.org.apache.hadoop.fs.Path(root, name)
    if not fs.exists(meta_path):
        return None
    stream = fs.open(meta_path)
    try:
        return json.loads(bytes(stream.readAllBytes()).decode("utf-8"))
    except ValueError:
        return None
    finally:
        stream.close()


def write_json_sidecar(
    spark: SparkSession, path: str, name: str, payload: dict
) -> None:
    fs, root = _fs(spark, path)
    meta_path = spark._jvm.org.apache.hadoop.fs.Path(root, name)
    out = fs.create(meta_path, True)
    try:
        out.write(bytearray(json.dumps(payload).encode("utf-8")))
    finally:
        out.close()


def read_index_meta(
    spark: SparkSession, path: str, name: str, producer: str
) -> dict:
    """The sidecar ``<path>/<name>`` an artifact's readers require:
    one metadata read, no Spark job. Raises ``ValueError`` naming the
    ``producer`` when it is absent or unreadable."""
    meta = read_json_sidecar(spark, path, name)
    if meta is None:
        raise ValueError(f"no {name} at {path}: not a {producer} output")
    return meta


def _newest_mtime_ms(fs, jpath, now_ms: int) -> int:
    """Newest modification time under ``jpath`` — the directory itself
    plus every file recursively (a LIVE partitioned-parquet write only
    touches nested ``_temporary`` paths, so the stage ROOT's mtime
    alone would flag an in-progress >1h build as a stale orphan — r10
    review #2).

    A sibling staging may belong to a LIVE concurrent builder whose
    ``_temporary`` files are created/moved/deleted mid-iteration (and
    the whole dir vanishes on its promote), so any listing/stat call
    here can throw FileNotFoundException — an unreadable or vanished
    staging is treated as LIVE (returns ``now_ms``, never swept) rather
    than aborting the innocent sweeping builder (ADVICE r10, medium)."""
    try:
        newest = int(fs.getFileStatus(jpath).getModificationTime())
        it = fs.listFiles(jpath, True)
        while it.hasNext():
            newest = max(newest, int(it.next().getModificationTime()))
        return newest
    except Exception:  # noqa: BLE001 — Py4JJavaError wrapping FNFE/IOE
        return now_ms


def sweep_stale_stagings(spark: SparkSession, path: str) -> None:
    """Reclaim crashed builders' ``<path>.__stage__*`` dirs — only
    those whose NEWEST recursive mtime is ≥ _STAGE_SWEEP_AGE_MS old
    (a live builder keeps creating files, so its staging always has a
    recent one; ADVICE r9 medium + r10 review #2)."""
    path = norm_path(path)
    fs, root = _fs(spark, path)
    parent = root.getParent()
    base = root.getName()
    if parent is None or not fs.exists(parent):
        return
    now_ms = int(time.time() * 1000)
    for st in fs.listStatus(parent):
        if not st.getPath().getName().startswith(f"{base}.__stage__"):
            continue
        if now_ms - _newest_mtime_ms(fs, st.getPath(), now_ms) >= _STAGE_SWEEP_AGE_MS:
            try:
                fs.delete(st.getPath(), True)
            except Exception:  # noqa: BLE001 — a racing sweeper already won
                pass


def promote_staging(
    spark: SparkSession,
    staging: str,
    path: str,
    meta_name: str,
    expected_meta: dict,
    what: str = "artifact",
) -> None:
    """Atomically promote a fully-written staging dir into ``path``.

    Guards, in order (each a real failure seen or reviewed r9-r10):
    1. The staging must still hold its parquet ``_SUCCESS`` (or data
       files) AND the expected meta — a staging swept by a concurrent
       process and recreated by a late write has neither, and must
       never be promoted (`_SUCCESS` rather than data-files-only so a
       legitimately EMPTY build still promotes).
    2. After a delete-then-rename that REPORTS success, verify the
       staging did not land INSIDE the destination: if a concurrent
       winner recreated ``path`` between our delete and rename, Hadoop
       rename moves the source INTO the existing dir and returns true
       (r10 review #1) — detect the nested dir, remove it, and fall
       through to winner validation.
    3. On a failed/forfeited rename, discard our output ONLY once a
       complete result with the SAME meta verifiably exists at the
       destination; otherwise raise with the staging preserved."""
    path = norm_path(path)
    sfs, sroot = _fs(spark, staging)
    jvm = spark._jvm
    has_data = any(
        not st.getPath().getName().startswith(("_", "."))
        for st in sfs.listStatus(sroot)
    )
    has_success = sfs.exists(jvm.org.apache.hadoop.fs.Path(sroot, "_SUCCESS"))
    staged_meta = read_json_sidecar(spark, staging, meta_name)
    if not (has_data or has_success) or staged_meta != expected_meta:
        sfs.delete(sroot, True)
        raise RuntimeError(
            f"{what} staging at {staging} lost its data files before "
            f"promotion (swept by a concurrent process?) — not promoting; "
            f"retry the build"
        )
    fs, root = _fs(spark, path)
    # replace: delete-then-rename. rename(src, existing-dir) would
    # MOVE src INTO it on hadoop local/HDFS, so dst must be absent.
    if fs.exists(root):
        fs.delete(root, True)
    renamed = fs.rename(sroot, root)
    if renamed:
        nested = jvm.org.apache.hadoop.fs.Path(root, sroot.getName())
        if fs.exists(nested):
            # a concurrent winner recreated the destination first and
            # our "successful" rename landed inside it
            fs.delete(nested, True)
            renamed = False
    if not renamed:
        winner = read_json_sidecar(spark, path, meta_name)
        if winner == expected_meta:
            if sfs.exists(sroot):
                sfs.delete(sroot, True)
            return
        raise RuntimeError(
            f"{what} rename {staging} -> {path} failed and no complete "
            f"{what} with a matching fingerprint exists at the "
            f"destination; staging output preserved for inspection "
            f"where the rename itself failed"
        )


def staged_artifact(
    spark: SparkSession,
    path: str,
    meta_name: str,
    identity: dict,
    write: Callable[[str], dict | None],
    reuse: bool = True,
    what: str = "artifact",
) -> bool:
    """Build-and-promote the artifact at ``path`` unless the one stored
    there already has this call's identity. Returns True when it built.

    ``identity`` holds everything the artifact depends on: the input
    fingerprint (:func:`table_files_fingerprint` or
    :func:`content_fingerprint`), every build parameter, and a version
    tag when the derivation logic itself may change. With ``reuse``
    the artifact is reused iff each identity key of the stored
    ``meta_name`` sidecar equals this call's value. A sidecar missing
    a key (an older format) never matches.

    Otherwise ``write(staging)`` writes every child the artifact needs
    into ``staging``, a fresh process-unique ``<path>.__stage__*``
    directory, and may return extra sidecar keys it learned on the way
    (for example the vector dim). The sidecar is then written into the
    staging as ``{**identity, **extra}`` and the staging is renamed
    into place by :func:`promote_staging`.

    Concurrency and crash contract: builders never write into ``path``.
    A reader sees either the complete old artifact with its sidecar or
    the complete new one. Two concurrent builders each produce a
    complete artifact and the last rename wins (wasted work, never a
    mixed artifact). A reader racing the replace can get a transient
    read error on the briefly absent path, a clean retry. A build that
    raises has its staging removed and leaves the old artifact as it
    was. A process killed mid-build leaves only an orphaned staging,
    swept by the next builder once it is at least an hour old (a
    younger one may belong to a live builder)."""
    path = norm_path(path)
    if reuse:
        stored = read_json_sidecar(spark, path, meta_name)
        if stored is not None and all(
            stored.get(k) == v for k, v in identity.items()
        ):
            return False
    sweep_stale_stagings(spark, path)
    staging = f"{path}.__stage__{os.getpid()}_{time.monotonic_ns()}"
    try:
        extra = write(staging) or {}
    except BaseException:
        fs, sroot = _fs(spark, staging)
        if fs.exists(sroot):
            fs.delete(sroot, True)
        raise
    meta = {**identity, **extra}
    write_json_sidecar(spark, staging, meta_name, meta)
    promote_staging(spark, staging, path, meta_name, meta, what=what)
    return True


def persisted_artifact(
    spark: SparkSession,
    path: str,
    fingerprint: dict,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Return the single-table artifact at ``path``, rebuilding iff the
    persisted fingerprint differs from ``fingerprint``: the
    :func:`staged_artifact` discipline for an artifact that is one
    parquet table, with the sidecar ``{"fingerprint": fingerprint}``.

    On reuse and after a build the returned DataFrame READS the
    parquet, so every consumer's plan starts from the materialized
    artifact scan, never the derivation lineage."""
    staged_artifact(
        spark, path, _META_NAME, {"fingerprint": fingerprint},
        lambda staging: build().write.mode("overwrite").parquet(staging),
    )
    return spark.read.parquet(path)
