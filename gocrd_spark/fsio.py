"""Scheme-agnostic IO and the commit protocol of the durable outputs.

Six builders write durable tables: ``dedup.simhash_signatures``,
``dedup.minhash_signatures``, ``similarity.ivf_index``,
``similarity.ivfpq_index``, ``search.search_index`` and
``sketch.profile_build``. They share one write-once protocol, kept
here:

- **Pin and commit.** :func:`build_once` runs the build, then writes
  the build's parameters to ``path/_PARAMS.json``. That sidecar is
  written after the last table commits, and it is the one commit
  point: an output without it does not exist.
- **Skip or refuse.** If the sidecar exists and matches the requested
  params on their keys, the build is skipped. If it differs, the call
  raises ``ValueError("existing output at … was built with …")``
  rather than serve tables built for other params. A key that an older
  sidecar lacks reads as its ``legacy`` value. Readers check the pin
  with :func:`read_params`.
- **Rebuild.** A missing sidecar (first run, or a crash between the
  data commit and the pin) runs the build again; its writes use
  ``mode("overwrite")``, which clears the partial state.
- **Append.** :func:`append_batch` writes a batch under
  ``path/_batches/<batch_id>/`` and commits it by writing
  ``path/_batch_<batch_id>.json`` last. :func:`read_batches` reads the
  base table plus every committed batch, locating each batch from its
  marker's name, so a table copied or moved to another root reads its
  batches there. A batch directory without its marker is invisible and
  re-running its append overwrites it; re-running a committed
  ``batch_id`` is a no-op.

Every probe, read and write goes through
``org.apache.hadoop.fs.FileSystem`` resolved FROM THE PATH's scheme
(``Path.getFileSystem(conf)``), so the same code works for bare local
paths, ``file://`` URIs, ``hdfs://``, and — once the connector jars are
on the classpath — ``s3a://``/``gs://``/``abfs://``. No connector is
needed to run the tests; the contract is that the IO goes through the
pluggable FS layer, not around it.

Sidecars are sub-kilobyte JSON, so per-call py4j overhead is noise next
to the parquet jobs they gate.
"""

from __future__ import annotations

import json
import re


def _fs_path(spark, path: str):
    """(FileSystem, Path) for ``path``, scheme-resolved via Hadoop conf."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def exists(spark, path: str) -> bool:
    fs, hpath = _fs_path(spark, path)
    return bool(fs.exists(hpath))


def read_text(spark, path: str) -> str:
    """Read a small text file (sidecar JSON) as UTF-8."""
    fs, hpath = _fs_path(spark, path)
    stream = fs.open(hpath)
    try:
        try:
            # commons-io ships with Spark's Hadoop client; one py4j call
            return spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        except Exception:
            # fallback: byte-at-a-time — fine for sub-KB control files
            buf = bytearray()
            while True:
                b = stream.read()
                if b < 0:
                    break
                buf.append(b)
            return buf.decode("utf-8")
    finally:
        stream.close()


def write_text(spark, path: str, text: str) -> None:
    """Atomically-enough overwrite of a small text file: Hadoop
    ``create(path, overwrite=True)`` + single write + close. Parent
    directories are created by the FS as needed."""
    fs, hpath = _fs_path(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def glob(spark, pattern: str) -> list[str]:
    """Hadoop glob → sorted list of path strings (URI form as the FS
    reports them). Missing parent dirs yield [], matching ``glob.glob``."""
    fs, hpath = _fs_path(spark, pattern)
    statuses = fs.globStatus(hpath)
    if statuses is None:
        return []
    return sorted(str(s.getPath().toString()) for s in statuses)


def _sidecar(path: str) -> str:
    return f"{path.rstrip('/')}/_PARAMS.json"


def is_built(spark, path: str) -> bool:
    """Whether a build of ``path`` has committed (its sidecar exists)."""
    return exists(spark, _sidecar(path))


def read_params(
    spark, path: str, expect: dict | None = None, legacy: dict | None = None
) -> dict:
    """The params pinned at ``path``; keys the sidecar lacks read as
    their ``legacy`` value. Raises ``ValueError`` if they differ from
    ``expect`` on ``expect``'s keys."""
    pinned = {**(legacy or {}), **json.loads(read_text(spark, _sidecar(path)))}
    if expect is not None and any(pinned.get(k) != v for k, v in expect.items()):
        raise ValueError(
            f"existing output at {path} was built with {pinned}, requested {expect}"
        )
    return pinned


def build_once(
    spark, path: str, params: dict, build, legacy: dict | None = None
) -> None:
    """Build the output at ``path`` unless a build with ``params`` has
    committed there. ``build()`` writes the tables with
    ``mode("overwrite")`` and may return a dict of computed values to
    pin beside ``params``."""
    if is_built(spark, path):
        read_params(spark, path, params, legacy)
        return
    write_text(spark, _sidecar(path), json.dumps({**params, **(build() or {})}))


def append_batch(df, path: str, batch_id: str) -> None:
    """Fold ``df`` into the table at ``path`` as batch ``batch_id``:
    data first, then its commit marker. A committed ``batch_id`` is
    skipped without computing ``df``."""
    if not re.fullmatch(r"[A-Za-z0-9_.-]+", batch_id):
        raise ValueError(f"batch_id must be filesystem-safe, got {batch_id!r}")
    spark = df.sparkSession
    root = path.rstrip("/")
    marker = f"{root}/_batch_{batch_id}.json"
    if exists(spark, marker):
        return
    df.write.mode("overwrite").parquet(f"{root}/_batches/{batch_id}")
    write_text(spark, marker, json.dumps({"batch_id": batch_id}))


def read_batches(spark, path: str):
    """The table at ``path`` plus every committed batch. A batch's data
    directory is derived from its marker's name, never from a path
    stored at append time."""
    root = path.rstrip("/")
    ids = [
        m.rsplit("/", 1)[1][len("_batch_"):-len(".json")]
        for m in glob(spark, f"{root}/_batch_*.json")
    ]
    return spark.read.parquet(root, *(f"{root}/_batches/{i}" for i in ids))
