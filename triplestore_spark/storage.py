"""Driver-side storage access: file listings and small metadata files.

Spark reads and writes the data; the driver itself only lists input
files and reads or publishes small JSON documents next to the data
(snapshot manifests, stage lineage, index metadata, split-coverage
proofs). All of that goes through the Hadoop FileSystem API of the
session, so a path may be local, `file://`, `hdfs://` or `s3a://`,
and the metadata lands on the same store as the data it describes. A
driver-local `open()` would put it on the driver's disk instead.
"""

from __future__ import annotations

import json

from py4j.java_gateway import JavaClass
from pyspark.sql import SparkSession


def _jclass(spark: SparkSession, name: str) -> JavaClass:
    # by full name: `spark._jvm.org.apache...` resolves each package
    # segment with its own gateway round trip, which costs more than
    # the file system call the class is looked up for
    return JavaClass(name, spark._sc._gateway._gateway_client)


def _hadoop_fs(spark: SparkSession, path: str):
    jpath = _jclass(spark, "org.apache.hadoop.fs.Path")(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def fs_exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _hadoop_fs(spark, path)
    return fs.exists(jpath)


def is_dir(spark: SparkSession, path: str) -> bool:
    """True when `path` names a directory (False for a file, a glob or
    nothing)."""
    fs, jpath = _hadoop_fs(spark, path)
    return fs.exists(jpath) and fs.getFileStatus(jpath).isDirectory()


def _rename_or_raise(fs, src, dst) -> None:
    """Hadoop FileSystem#rename reports most failures by returning
    FALSE, not by throwing — an unchecked rename followed by a delete
    of the old copy would be silent data loss, so every swap rename
    goes through here."""
    if not fs.rename(src, dst):
        raise IOError(f"rename failed: {src} -> {dst}")


def read_json(spark: SparkSession, path: str):
    """The JSON document at `path`, or None when no file is there."""
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        text = _jclass(spark, "org.apache.commons.io.IOUtils").toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    return json.loads(text)


def write_json(spark: SparkSession, path: str, doc) -> None:
    """Publish `doc` at `path`: write a sibling `.tmp` file, then
    rename it over the old document, so a reader sees the old or the
    new document and never a partial one. The local file system
    replaces the target in the rename; HDFS and object stores refuse
    to rename onto an existing file, so there the old document is
    deleted first."""
    fs, jpath = _hadoop_fs(spark, path)
    jtmp = jpath.suffix(".tmp")
    out = fs.create(jtmp, True)
    try:
        out.write(bytearray(json.dumps(doc, indent=2).encode("utf-8")))
    finally:
        out.close()
    if not fs.rename(jtmp, jpath):
        fs.delete(jpath, False)
        _rename_or_raise(fs, jtmp, jpath)


def list_files(spark: SparkSession, path: str) -> list[tuple[str, int, int]]:
    """(path, length, mtime_ms) of every data file at `path` — a file,
    a directory (walked recursively) or a glob — sorted by path. Files
    whose names start with '_' or '.' (markers, checksums, metadata
    documents) are not data and are skipped."""
    fs, jpath = _hadoop_fs(spark, path)
    files: list[tuple[str, int, int]] = []

    def _add(status) -> None:
        if status.isDirectory():
            for st in fs.listStatus(status.getPath()):
                _add(st)
        else:
            file = status.getPath()
            if not file.getName().startswith(("_", ".")):
                files.append(
                    (
                        file.toString(),
                        status.getLen(),
                        status.getModificationTime(),
                    )
                )

    for st in fs.globStatus(jpath) or []:
        _add(st)
    return sorted(files)


def list_names(spark: SparkSession, path: str) -> list[str]:
    """Sorted names of the entries directly under the directory `path`
    ([] when it does not exist)."""
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(jpath))
