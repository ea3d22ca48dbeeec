"""JSONL (newline-delimited JSON) source and sink.

The reference ingests only CSV (datapump.py:442-444), but JSONL is the
dominant interchange format for LLM training corpora, so the engine treats
it as a first-class source. Semantics follow the CSV path: permissive scan,
explicit-schema fast path, quarantine split for malformed rows.

Scale notes (the reason this module exists instead of bare
``spark.read.json``):
- **Schema inference is a full extra scan.** ``read_jsonl`` defaults to a
  bounded inference via ``samplingRatio`` + an explicit-schema re-read, or
  skips inference entirely when ``schema`` is passed — at 100 TB you always
  pass the schema (one scan, predicate/column pruning intact).
- **Malformed rows must not kill the job.** PERMISSIVE mode + a corrupt
  record column; ``quarantine_split`` routes bad lines to a side output the
  same way the pipeline archives bad files (streaming/pipeline.py), rather
  than FAILFAST (whole-task retry loops) or DROPMALFORMED (silent loss).
- **Compression choice decides splittability.** Uncompressed and bzip2
  JSONL split per-line across tasks; a single big ``.gz`` file becomes ONE
  task reading the whole file. ``write_jsonl`` therefore writes many
  part-files sized by upstream partitioning and defaults to no compression
  (parquet is the at-rest format; JSONL is the interchange format).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt_record"

# Magic prefixes for the compressed-corpus dispatch (brotli and raw
# snappy have no magic — they dispatch on the ``.br`` and ``.snappy``
# extensions).
_GZIP_MAGIC = b"\x1f\x8b"
_BZ2_MAGIC = b"BZh"
_XZ_MAGIC = b"\xfd7zXZ\x00"
_ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"
_LZ4_MAGICS = (b"\x04\x22\x4d\x18", b"\x02\x21\x4c\x18")  # frame, legacy


def _cap_decompress(obj, payload: bytes, cap: int, label: str) -> bytes:
    """Drain a stdlib decompressobj under the shared bomb cap
    (``operators.codecs.read_capped``): refuse before materializing
    more than ``cap`` bytes."""
    from datapump_spark.operators.codecs import read_capped

    return read_capped(lambda n: obj.decompress(payload, n), cap, label)


def decompress_auto(name: str, payload: bytes,
                    max_bytes: int = 1 << 28) -> bytes:
    """Decompress one corpus file: gzip multi-member, bz2 and xz (stdlib),
    zstd and LZ4 frame (pyarrow's bundled reference libraries) and Unix
    compress .Z (``operators.lzw``) by magic; brotli ``.br`` and raw
    snappy ``.snappy`` (pyarrow) and ``.lzma`` (stdlib) by extension;
    plain text passes through. UnsupportedMediaError on unrecognized
    binary, on output past ``max_bytes`` and on every decode failure of
    the pyarrow codecs."""
    from datapump_spark.operators.codecs import UnsupportedMediaError

    if payload[:2] == _GZIP_MAGIC:
        import zlib

        out = bytearray()
        rest = payload
        while rest[:2] == _GZIP_MAGIC:
            d = zlib.decompressobj(31)
            out += _cap_decompress(d, rest, max_bytes - len(out), "gzip")
            if not d.eof:
                raise UnsupportedMediaError("gzip: truncated member")
            rest = d.unused_data
        return bytes(out)
    if payload[:3] == _BZ2_MAGIC:
        import bz2

        return _cap_decompress(bz2.BZ2Decompressor(), payload,
                               max_bytes, "bz2")
    if payload[:6] == _XZ_MAGIC:
        import lzma

        return _cap_decompress(lzma.LZMADecompressor(), payload,
                               max_bytes, "xz")
    if payload[:4] == _ZSTD_MAGIC:
        from datapump_spark.operators.zstd import decode_zstd

        return decode_zstd(payload, max_output=max_bytes)
    if payload[:4] in _LZ4_MAGICS:
        from datapump_spark.operators.lz4 import decode_lz4_frame

        return decode_lz4_frame(payload, max_output=max_bytes)
    if payload[:2] == b"\x1f\x9d":
        from datapump_spark.operators.lzw import decode_z

        return decode_z(payload, max_output=max_bytes)
    if name.endswith(".br"):
        from datapump_spark.operators.brotli import decode_brotli

        return decode_brotli(payload, max_output=max_bytes)
    if name.endswith(".snappy"):
        from datapump_spark.operators.snappy import snappy_decompress

        return snappy_decompress(payload, max_output=max_bytes)
    if name.endswith(".lzma"):
        import lzma

        return _cap_decompress(
            lzma.LZMADecompressor(format=lzma.FORMAT_ALONE), payload,
            max_bytes, "lzma")
    head = payload[:256]
    try:
        head.decode("utf-8")
    except UnicodeDecodeError:
        raise UnsupportedMediaError(
            f"unrecognized compression magic in {name!r}")
    return payload


def read_jsonl_compressed(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    glob: str | None = None,
    max_bytes_per_file: int = 1 << 28,
    keep_corrupt: bool = False,
) -> DataFrame:
    """Scan JSONL in any per-file compression Spark's own line reader
    can't split or (locally) decode: ``.jsonl{,.gz,.bz2,.xz,.zst,.lz4,
    .br,.snappy,.Z,.lzma}``, dispatched per file on magic bytes so mixed
    directories —
    the normal state of a long-lived corpus — need one scan.

    Scale notes:
    - **A compressed file is ONE task** (none of these frame formats
      are block-splittable from cold); corpus writers must emit many
      part-files — this reader's parallelism is exactly the file count.
    - The decode kernel is Arrow-batched ``mapInPandas`` (one Python
      roundtrip per file batch), then the JSON parse itself is JVM-side
      ``from_json`` with an explicit schema — no inference pass, no
      per-row Python.
    - ``max_bytes_per_file`` is the decompression-bomb guard (the
      HTTP-path doctrine): a file that inflates past it fails the task
      with an honest error instead of OOMing the executor.

    Schema is REQUIRED (the 100 TB doctrine of :func:`read_jsonl`).
    ``keep_corrupt=True`` appends ``_corrupt_record`` (the raw line)
    for rows ``from_json`` rejects, NULL otherwise.
    """
    import pandas as pd

    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return decode_jsonl_files(reader.load(path), schema,
                              max_bytes_per_file=max_bytes_per_file,
                              keep_corrupt=keep_corrupt)


def decode_jsonl_files(
    files: DataFrame,
    schema: StructType | str,
    max_bytes_per_file: int = 1 << 28,
    keep_corrupt: bool = False,
) -> DataFrame:
    """The decode stage of :func:`read_jsonl_compressed`, factored so
    STREAMING binaryFile sources reuse it (stateless Arrow kernel +
    from_json — safe inside a micro-batch plan). ``files`` needs
    ``path`` and ``content`` columns."""
    import pandas as pd

    spark = files.sparkSession
    st = (spark.createDataFrame([], schema).schema
          if isinstance(schema, str) else schema)

    def kernel(batches):
        for pdf in batches:
            for p, content in zip(pdf["path"], pdf["content"]):
                text = decompress_auto(
                    p, bytes(content), max_bytes_per_file
                ).decode("utf-8", errors="replace")
                lines = [ln for ln in text.split("\n") if ln.strip()]
                yield pd.DataFrame({"value": pd.Series(lines, dtype=object)})

    lines = files.select("path", "content").mapInPandas(
        kernel, "value string")
    parse_st = StructType(
        list(st.fields) + [StructField(CORRUPT_COL, StringType())])
    parsed = lines.select(F.from_json(
        "value", parse_st,
        {"mode": "PERMISSIVE",
         "columnNameOfCorruptRecord": CORRUPT_COL}).alias("_r"))
    cols = [F.col(f"_r.{f.name}").alias(f.name) for f in st.fields]
    if keep_corrupt:
        cols.append(F.col(f"_r.{CORRUPT_COL}").alias(CORRUPT_COL))
    return parsed.select(*cols)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    sampling_ratio: float | None = None,
    keep_corrupt: bool = False,
) -> DataFrame:
    """Scan newline-delimited JSON.

    With ``schema`` (DDL string or StructType): one scan, no inference —
    the 100 TB path. Without: Spark infers (optionally on a
    ``sampling_ratio`` subset of the data — the rows still stream through
    the scanner, but only the sampled ones pay JSON tokenization for
    inference). ``keep_corrupt=True`` appends ``_corrupt_record`` with the
    raw text of unparseable lines (NULL for good rows).
    """
    reader = spark.read.option("mode", "PERMISSIVE")
    if keep_corrupt:
        reader = reader.option("columnNameOfCorruptRecord", CORRUPT_COL)
    if schema is not None:
        if keep_corrupt:
            st = (
                spark.createDataFrame([], schema).schema
                if isinstance(schema, str)
                else schema
            )
            schema = StructType(
                list(st.fields) + [StructField(CORRUPT_COL, StringType())]
            )
        return reader.schema(schema).json(path)
    if sampling_ratio is not None:
        reader = reader.option("samplingRatio", str(sampling_ratio))
    return reader.json(path)


def quarantine_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a ``keep_corrupt=True`` scan into (good, quarantined).

    Good rows drop the corrupt column; quarantined rows keep only the raw
    line, mirroring the file-level quarantine dir of the ingest pipeline
    (streaming/pipeline.py). Spark requires a materialization barrier
    before a filter on ``_corrupt_record`` — done here so callers can't
    hit the AnalysisException. The barrier is a checkpoint, not a scoped
    persist: the cache scope's release at the next query build would
    remove a persist and bring the AnalysisException back for any later
    read of ``good`` or ``bad``.
    """
    if CORRUPT_COL not in df.columns:
        raise ValueError(f"scan was not read with keep_corrupt=True: {df.columns}")
    df = df.localCheckpoint(eager=False)
    good = df.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.where(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
    return good, bad


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "error",
    compression: str | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Write newline-delimited JSON part-files.

    One file per partition (repartition upstream to size outputs);
    ``max_records_per_file`` bounds file size without a shuffle. Null
    fields are omitted per JSONL convention (readers treat absent ≡ null),
    matching the sparse-null elision the JDBC sink applies (F2,
    sinks/upsert.py).
    """
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.json(path)
