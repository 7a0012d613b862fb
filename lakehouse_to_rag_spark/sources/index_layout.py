"""The persisted layout of a RAG index, and the only code that writes,
lists, footer-reads or compacts anything under an index root: the
BM25 posting layout (``retrieval.write_bm25_index``), the IVF and
IVF-PQ layouts (``similarity.write_ivf_index``/``write_ivfpq_index``)
and the ``_ledger`` the index sinks keep beside them.

An index root holds three kinds of entry, and nothing else:

- ``{col}=N/`` partition dirs (``bucket`` for BM25, ``cluster`` for
  IVF and IVF-PQ) of Spark-written ``.parquet`` files;
- ``_``-prefixed control tables (``_stats``, ``_ids``,
  ``_centroids``, ``_coarse``, ``_codebooks``, ``_ledger``), each a
  dir of Spark-written ``.parquet`` files;
- entries Spark hides: ``_SUCCESS``, ``.``-prefixed ``.crc`` files
  and the ``_``-prefixed remnants of an interrupted
  ``sources.dirswap`` swap.

Every write is plain parquet (``fmt="parquet"``), whatever format
``lakehouse.write_layer`` picks for a medallion layer, so a dir
listing is the live file set and the footers are the truth: control
rows, row counts and the Spark schema of a partition are read from
them on the driver, with no Spark job. Anything else under a root —
a ``_delta_log``, a stray or suffix-less file, a dir that is not
``{col}=N``, a footer without Spark's schema — is refused with a
``ValueError`` that names the path: the tree was not written here,
and the index has to be rebuilt.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_to_rag_spark.sources.tables import local_df

# The footer key under which Spark stores the StructType it wrote.
_SPARK_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"


def _refused(path: str, what: str) -> ValueError:
    return ValueError(
        f"{path}: {what}; not a RAG index layout "
        "(sources/index_layout.py), rebuild the index"
    )


def write(
    df: DataFrame,
    path: str,
    partition_col: str | None = None,
    mode: str = "overwrite",
) -> str:
    """Write ``df`` as plain parquet: an index root partitioned by
    ``partition_col``, or a control table. Returns ``"parquet"``."""
    from lakehouse_to_rag_spark.sources.lakehouse import write_layer

    by = [partition_col] if partition_col else None
    return write_layer(df, path, mode, by, fmt="parquet")


def read(spark, path: str) -> DataFrame:
    """Spark read of a whole index root or control table."""
    return spark.read.parquet(path)


def _visible(dirpath: str) -> list[os.DirEntry] | None:
    """The entries of ``dirpath`` Spark reads (every name not
    ``_``/``.``-prefixed), or None when the dir does not exist. A
    ``_delta_log`` is refused: a Delta table's live files are its
    log's, not its listing's."""
    try:
        with os.scandir(dirpath) as it:
            entries = list(it)
    except FileNotFoundError:
        return None
    if any(e.name == "_delta_log" for e in entries):
        raise _refused(os.path.join(dirpath, "_delta_log"), "a Delta log")
    return [e for e in entries if not e.name.startswith(("_", "."))]


def partitions(root: str, col: str) -> dict[int, str]:
    """N -> path of each ``{col}=N`` dir of the index ``root``, in
    listing order. Refuses a missing root and any visible entry that
    is not such a dir; appends call it before they write anything."""
    entries = _visible(root)
    if entries is None:
        raise _refused(root, "no such dir")
    parts = {}
    for e in entries:
        key, sep, val = e.name.partition("=")
        numeric = val.lstrip("-").isdecimal()
        if key != col or not sep or not numeric or not e.is_dir():
            raise _refused(e.path, f"an entry that is not a {col}=N dir")
        parts[int(val)] = e.path
    return parts


def data_files(dirpath: str) -> list[str] | None:
    """The ``.parquet`` files of a partition dir or control table,
    sorted, or None when the dir does not exist. Refuses any other
    visible entry and a dir without one."""
    entries = _visible(dirpath)
    if entries is None:
        return None
    for e in entries:
        if not (e.name.endswith(".parquet") and e.is_file()):
            raise _refused(e.path, "an entry that is not a .parquet file")
    if not entries:
        raise _refused(dirpath, "a dir without a .parquet file")
    return sorted(e.path for e in entries)


def _open(path: str):
    """The one footer reader: ``path`` as a ``pyarrow.parquet.
    ParquetFile`` (a context manager; leaving it closes the file),
    refused unless its footer holds Spark's schema."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    if _SPARK_SCHEMA not in (pf.metadata.metadata or {}):
        pf.close()
        raise _refused(path, "a footer without Spark's schema")
    return pf


def read_rows(dirpath: str) -> list[dict]:
    """Every row of a small control table (``_stats``, ``_ledger``,
    ...) as dicts, decoded on the driver: the Python values a Spark
    ``collect()`` returns, with no job. Refuses a missing table."""
    files = data_files(dirpath)
    if files is None:
        raise _refused(dirpath, "no such dir")
    rows = []
    for f in files:
        with _open(f) as pf:
            rows += pf.read().to_pylist()
    return rows


def centroid_rows(path: str) -> list[tuple[int, list[float]]]:
    """The quantizer of the IVF index at ``path`` (its ``_centroids``
    table) as (centroid_id, cvec) rows."""
    return [
        (int(r["centroid_id"]), [float(x) for x in r["cvec"]])
        for r in read_rows(os.path.join(path, "_centroids"))
    ]


def row_count(dirpath: str) -> int | None:
    """Rows in a partition dir or control table, summed from its
    footers; None when the dir does not exist."""
    files = data_files(dirpath)
    if files is None:
        return None
    n = 0
    for f in files:
        with _open(f) as pf:
            n += pf.metadata.num_rows
    return n


def read_partitions(
    spark, root: str, col: str, values: list[int]
) -> DataFrame:
    """The rows of ``root``'s ``{col}=N`` dirs for N in ``values``,
    read by path with ``basePath`` (so ``col`` is still a column) and
    the schema Spark stored in a footer, plus ``col`` as the ``int``
    discovery infers: no discovery listing or schema-inference job.
    Values without a dir add no rows; with none, the result is an
    empty driver-local frame."""
    parts = partitions(root, col)
    if not parts:
        raise _refused(root, f"no {col}=N dir")
    dirs = [parts[v] for v in sorted(set(values)) if v in parts]
    files = [data_files(d) for d in dirs or [next(iter(parts.values()))]]
    with _open(files[0][0]) as pf:
        meta = pf.metadata.metadata[_SPARK_SCHEMA]
    schema = T.StructType.fromJson(json.loads(meta))
    schema = schema.add(col, T.IntegerType())
    if not dirs:
        return local_df(spark, [], schema)
    return spark.read.schema(schema).option("basePath", root).parquet(*dirs)


def compact(
    spark,
    path: str,
    partition_col: str,
    carry_dirs: tuple[str, ...],
    rewrite_dirs: tuple[str, ...],
    target_rows_per_file: int | None = None,
    split_col: str | None = None,
) -> int:
    """Small-file compaction of a partitioned layout (the IVF and BM25
    indexes, the ingest ledgers): rewrite the rows repartitioned by
    ``partition_col``, carry ``carry_dirs`` verbatim, rewrite each
    ``rewrite_dirs`` control table to one file, and swap the root in
    (``sources.lakehouse.compact_layer`` would drop the control tables
    and flatten the partition dirs). Returns the data file count.

    By default each partition value is ONE file. ``target_rows_per_file``
    switches to ``repartitionByRange(ceil(rows/target), partition_col,
    split_col)``: a hot value splits into ~size/target files, divisible
    because ``split_col`` (the row id) separates range boundaries.

    Run with ingest QUIESCED (stop ``stream_index_sink``/
    ``stream_bm25_sink``): a batch appended during the pass is lost.
    There is no lock (the single-writer maintenance window, as for
    Delta OPTIMIZE). Crash safety is ``sources.dirswap``'s: ``recover``
    first, ``swap_in`` to publish."""
    import shutil

    from lakehouse_to_rag_spark.sources.dirswap import (
        recover,
        staging_path,
        swap_in,
    )

    recover(path)
    partitions(path, partition_col)
    df = read(spark, path)
    tmp = staging_path(path)
    if target_rows_per_file is None:
        out = df.repartition(partition_col)
    else:
        if target_rows_per_file < 1:
            raise ValueError(
                "compact: target_rows_per_file >= 1, "
                f"got {target_rows_per_file}"
            )
        if split_col is None:
            raise ValueError(
                "compact: target_rows_per_file needs split_col (the "
                "secondary range key that makes a hot partition value "
                "divisible)"
            )
        n_out = max(1, -(-df.count() // target_rows_per_file))
        out = df.repartitionByRange(
            n_out, F.col(partition_col), F.col(split_col)
        )
    write(out, tmp, partition_col)
    for aux in carry_dirs:
        src = os.path.join(path, aux)
        if os.path.exists(src):
            shutil.copytree(src, os.path.join(tmp, aux))
    for aux in rewrite_dirs:
        src = os.path.join(path, aux)
        if os.path.exists(src):
            write(read(spark, src).coalesce(1), os.path.join(tmp, aux))
    swap_in(tmp, path)
    return sum(
        len(data_files(d)) for d in partitions(path, partition_col).values()
    )
