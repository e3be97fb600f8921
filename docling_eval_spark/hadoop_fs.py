"""Small files through the Hadoop ``FileSystem`` of their path, so a
remote URI (hdfs, s3a) works like a local one.

Driver-sized outputs (a dataset's ``_schema.json``, a stats table of a
few rows) are written and read here, on the driver: a Spark write job
would pay for a writer task, a commit protocol and one ``chmod`` fork
per file for data the driver already holds.

JVM classes are looked up by their full name: ``spark._jvm.org.apache
.hadoop.fs.Path`` resolves each package prefix (``org``, ``org.apache``,
…) with a py4j call of its own, each a failed class search over every
jar on the class path, while ``getattr(spark._jvm, "<full name>")`` is
one call."""

from __future__ import annotations

import uuid

from pyspark.sql import SparkSession


def _fs_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of ``path`` through the session's Hadoop
    configuration."""
    p = getattr(spark._jvm, "org.apache.hadoop.fs.Path")(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _create(fs, p, data: bytes) -> None:
    out = fs.create(p, True)
    try:
        out.write(data)
    finally:
        out.close()


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write ``text`` as UTF-8 to the file ``path``, replacing it."""
    fs, p = _fs_path(spark, path)
    _create(fs, p, text.encode())


def read_text(spark: SparkSession, path: str) -> str | None:
    """The file's UTF-8 text, or None when there is no such file."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return getattr(spark._jvm, "org.apache.commons.io.IOUtils").toString(stream, "UTF-8")
    finally:
        stream.close()


def list_names(spark: SparkSession, path: str) -> list[str] | None:
    """Sorted names of the entries of the directory ``path``, or None
    when there is no such path."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return None
    return sorted(st.getPath().getName() for st in fs.listStatus(p))


def write_json_lines(spark: SparkSession, path: str, lines: list[str]) -> None:
    """The directory ``df.coalesce(1).write.mode("overwrite").json(path)``
    leaves, for the JSON ``lines`` of ``df``'s rows: ``path`` is
    replaced by one ``part-00000-<uuid>-c000.json`` file holding each
    line followed by ``\\n`` (empty for no rows, as Spark's first
    writer task leaves it) and an empty ``_SUCCESS`` marker."""
    fs, p = _fs_path(spark, path)
    fs.delete(p, True)
    Path = getattr(spark._jvm, "org.apache.hadoop.fs.Path")
    _create(fs, Path(p, f"part-00000-{uuid.uuid4()}-c000.json"),
            "".join(f"{line}\n" for line in lines).encode())
    _create(fs, Path(p, "_SUCCESS"), b"")


def read_json_lines(spark: SparkSession, path: str) -> list[str]:
    """The non-blank lines of the data files of the directory ``path``
    (Spark's JSON output: every file whose name does not start with
    ``_`` or ``.``), in file-name order. Raises FileNotFoundError when
    there is no such directory."""
    names = list_names(spark, path)
    if names is None:
        raise FileNotFoundError(path)
    return [
        line
        for name in names
        if not name.startswith(("_", "."))
        for line in read_text(spark, f"{path}/{name}").split("\n")
        if line.strip()
    ]
