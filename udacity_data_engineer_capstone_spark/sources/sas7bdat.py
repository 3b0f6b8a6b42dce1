"""Real SAS7BDAT binary ingestion (and a minimal writer for tests).

The reference reads its immigration fact data from ``.sas7bdat`` files
through the third-party ``saurfang:spark-sas7bdat`` connector
(``/root/reference/etl.py:103-107``, jar registered at ``etl.py:227``).
This engine's ``src_sas7bdat`` query keeps the sanctioned parquet fact
slot (SURVEY §2.1: "connector swap is a DataSource detail") — this
module demonstrates that the detail is real: a user pointing the engine
at an actual ``.sas7bdat`` file has a working path.

Two halves, both built ONLY from the publicly documented format (the
community-reverse-engineered SAS7BDAT layout as implemented by public
readers — pandas ``pandas.io.sas.sas7bdat``, readstat, parso):

- :func:`read_sas7bdat` — ingest one ``.sas7bdat`` file, a directory of
  them, or an explicit file list into a Spark DataFrame. The binary
  parse runs EXECUTOR-SIDE: the driver touches only file metadata (a
  header-and-one-row schema peek on the first file), then ships the
  file list as a one-row-per-partition DataFrame through
  ``mapInPandas``, where each task opens its own file with pandas'
  reader (pure-Python + cython, in-container, no new dependency) in
  bounded ``chunk_rows`` chunks and Arrow-streams the rows out. The
  parsed stream is staged to parquet by a distributed Spark write (one
  shard per input file), then served via ``spark.read.parquet`` — the
  ingest-once pattern the catalog's layout normalizer already uses,
  with scan parallelism, pushdown, and pruning on the staged copy.
  SAS7BDAT is a sequential container (page chain, one metadata
  preamble), so per-FILE tasks are the right parallel grain: the
  reference's feed is 12 monthly files (``readme.md:19``) → 12
  concurrent parses, no driver bottleneck, memory bounded per task.

- :func:`write_sas7bdat` — a minimal, standards-following writer
  (32-bit little-endian layout, uncompressed pages, double + string
  columns: exactly the subset the reference's data uses — SAS numerics
  are all doubles, cf. SURVEY §1.2). Nothing else in the container can
  produce a ``.sas7bdat``, and round-tripping through pandas'
  *independent* parser is what proves the bytes follow the real format
  rather than a private dialect.

Layout notes (32-bit, little-endian, from the public spec):
header magic + flag bytes (align/endian/encoding), dataset name @92,
header_length(u32)@196, page_size(u32)@200, page_count(u32)@204; pages
follow as [16B seq/checksum][u16 page_type][u16 block_count]
[u16 subheader_count][u16 pad][12B subheader pointers...]; metadata
lives in signature-tagged subheaders (ROW_SIZE F7F7F7F7, COL_SIZE
F6F6F6F6, COL_TEXT FDFFFFFF, COL_NAME FFFFFFFF, COL_ATTRS FCFFFFFF,
FORMAT FEFBFFFF); data pages (type 0x0100) carry ``block_count`` rows
of ``row_length`` bytes starting at offset 24. Numerics are 8-byte LE
IEEE doubles; strings are fixed-width, space-padded.
"""

from __future__ import annotations

import os
import struct
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from udacity_data_engineer_capstone_spark.memo import stage_once

_MAGIC = (
    b"\x00\x00\x00\x00\x00\x00\x00\x00"
    b"\x00\x00\x00\x00\xc2\xea\x81\x60"
    b"\xb3\x14\x11\xcf\xbd\x92\x08\x00"
    b"\x09\xc7\x31\x8c\x18\x1f\x10\x11"
)

_HEADER_LEN = 1024
_PAGE_META = 0x0000
_PAGE_DATA = 0x0100
_PTR_LEN = 12  # 32-bit subheader pointer
_BIT_OFFSET = 16  # 32-bit page header prefix


def _u16(x: int) -> bytes:
    return struct.pack("<H", x)


def _u32(x: int) -> bytes:
    return struct.pack("<I", x)


def _dbl(x: float) -> bytes:
    return struct.pack("<d", x)


class _Buf:
    """Fixed-size byte buffer with positional writes."""

    def __init__(self, size: int) -> None:
        self.b = bytearray(size)

    def put(self, off: int, data: bytes) -> None:
        self.b[off : off + len(data)] = data


def write_sas7bdat(
    path: str,
    columns: Sequence[tuple[str, str, int]],
    rows: Sequence[Sequence[object]],
    dataset_name: str = "ENGINE",
) -> None:
    """Write an uncompressed 32-bit little-endian ``.sas7bdat``.

    ``columns`` is ``[(name, kind, width)]`` with ``kind`` ``"num"``
    (width forced to 8, IEEE double) or ``"str"`` (fixed byte width,
    space-padded utf-8). ``rows`` are sequences of float/str in column
    order. Layout mirrors what SAS itself emits for simple datasets:
    one metadata page (ROW_SIZE, COL_SIZE, COL_TEXT, COL_NAME,
    COL_ATTRS, one FORMAT per column), then data pages.
    """
    cols = [
        (name, kind, 8 if kind == "num" else int(width))
        for name, kind, width in columns
    ]
    ncols = len(cols)
    # row layout: numerics first (SAS packs doubles first for alignment),
    # then strings — offsets are explicit in COL_ATTRS so any order works,
    # but match the convention.
    num_cols = [c for c in cols if c[1] == "num"]
    str_cols = [c for c in cols if c[1] == "str"]
    offsets: dict[str, int] = {}
    pos = 0
    for name, _, w in num_cols + str_cols:
        offsets[name] = pos
        pos += w
    row_length = pos
    row_count = len(rows)

    # ---- column text blob: [u16 size][6B pad][names...] ----
    blob = bytearray()
    blob += b"\x00\x00"  # size field (patched below), part of the blob
    blob += b"\x00" * 6
    name_pos: dict[str, tuple[int, int]] = {}
    for name, _, _ in cols:
        nb = name.encode("utf-8")
        name_pos[name] = (len(blob), len(nb))
        blob += nb
        if len(blob) % 4:
            blob += b"\x00" * (4 - len(blob) % 4)
    blob[0:2] = _u16(len(blob))

    # ---- subheaders (sig-tagged payloads) ----
    subheaders: list[bytes] = []

    rs = _Buf(480)
    rs.put(0, b"\xF7\xF7\xF7\xF7")
    rs.put(20, _u32(row_length))  # 5 * int_len
    rs.put(24, _u32(row_count))  # 6 * int_len
    rs.put(36, _u32(ncols))  # col_count_p1
    rs.put(40, _u32(0))  # col_count_p2
    rs.put(60, _u32(0))  # rows on mix page (none)
    rs.put(354, _u16(0))  # lcs
    rs.put(378, _u16(0))  # lcp
    subheaders.append(bytes(rs.b))

    cs = _Buf(12)
    cs.put(0, b"\xF6\xF6\xF6\xF6")
    cs.put(4, _u32(ncols))
    subheaders.append(bytes(cs.b))

    subheaders.append(b"\xFD\xFF\xFF\xFF" + bytes(blob))

    cn = _Buf(20 + 8 * ncols)  # sig(4) + 8B gap + entries + 8B tail
    cn.put(0, b"\xFF\xFF\xFF\xFF")
    for i, (name, _, _) in enumerate(cols):
        off, ln = name_pos[name]
        base = 12 + 8 * i  # entries start at subheader offset + 12
        cn.put(base + 0, _u16(0))  # text subheader index
        cn.put(base + 2, _u16(off))  # offset inside the text blob
        cn.put(base + 4, _u16(ln))  # name length
    subheaders.append(bytes(cn.b))

    ca = _Buf(20 + 12 * ncols)
    ca.put(0, b"\xFC\xFF\xFF\xFF")
    for i, (name, kind, w) in enumerate(cols):
        base = 12 + 12 * i  # 12-byte attr vector per column
        ca.put(base + 0, _u32(offsets[name]))  # offset within the row
        ca.put(base + 4, _u32(w))  # byte width
        ca.put(base + 10, bytes([1 if kind == "num" else 2]))
    subheaders.append(bytes(ca.b))

    for _ in cols:  # one FORMAT subheader per column (zero = no format)
        fm = _Buf(52)
        fm.put(0, b"\xFE\xFB\xFF\xFF")
        subheaders.append(bytes(fm.b))

    # ---- page sizing ----
    nptr = len(subheaders)
    meta_need = (
        _BIT_OFFSET + 8 + _PTR_LEN * nptr + sum(len(s) for s in subheaders)
    )
    data_need = _BIT_OFFSET + 8 + row_length  # >= 1 row per data page
    page_size = max(4096, meta_need, data_need)
    page_size += (-page_size) % 1024  # SAS pages are 1 KiB multiples

    # ---- meta page: pointer array up front, payloads packed at the end
    # (the SAS convention; readers follow the explicit pointers) ----
    meta = _Buf(page_size)
    meta.put(_BIT_OFFSET, _u16(_PAGE_META))
    meta.put(_BIT_OFFSET + 2, _u16(nptr))  # block count
    meta.put(_BIT_OFFSET + 4, _u16(nptr))  # subheader count
    tail = page_size
    for i, payload in enumerate(subheaders):
        tail -= len(payload)
        meta.put(tail, payload)
        pbase = _BIT_OFFSET + 8 + _PTR_LEN * i
        meta.put(pbase + 0, _u32(tail))
        meta.put(pbase + 4, _u32(len(payload)))
        meta.put(pbase + 8, bytes([0, 0]))  # uncompressed, plain type

    # ---- data pages ----
    rows_per_page = (page_size - (_BIT_OFFSET + 8)) // row_length
    data_pages: list[bytes] = []
    for start in range(0, row_count, rows_per_page):
        chunk = rows[start : start + rows_per_page]
        pg = _Buf(page_size)
        pg.put(_BIT_OFFSET, _u16(_PAGE_DATA))
        pg.put(_BIT_OFFSET + 2, _u16(len(chunk)))
        pg.put(_BIT_OFFSET + 4, _u16(0))
        base = _BIT_OFFSET + 8
        for r, row in enumerate(chunk):
            roff = base + r * row_length
            for (name, kind, w), val in zip(cols, row):
                coff = roff + offsets[name]
                if kind == "num":
                    pg.put(coff, _dbl(float(val)))
                else:
                    sb = str(val).encode("utf-8")[:w]
                    pg.put(coff, sb + b" " * (w - len(sb)))
        data_pages.append(bytes(pg.b))

    # ---- file header ----
    hdr = _Buf(_HEADER_LEN)
    hdr.put(0, _MAGIC)
    hdr.put(32, b"\x22")  # not 0x33 => 32-bit layout
    hdr.put(35, b"\x22")  # not 0x33 => no extra alignment
    hdr.put(37, b"\x01")  # little-endian
    hdr.put(39, b"\x01")  # unix
    hdr.put(70, bytes([20]))  # encoding: utf-8
    hdr.put(84, b"SAS FILE")
    hdr.put(92, dataset_name.encode("utf-8")[:64].ljust(64, b" "))
    hdr.put(156, b"DATA    ")
    # timestamps: seconds since 1960-01-01 (fixed value — deterministic
    # output beats a wall-clock stamp for test reproducibility)
    t60 = 2048 * 86400.0
    hdr.put(164, _dbl(t60))
    hdr.put(172, _dbl(t60))
    hdr.put(196, _u32(_HEADER_LEN))
    hdr.put(200, _u32(page_size))
    hdr.put(204, _u32(1 + len(data_pages)))
    hdr.put(216, b"9.0401M2")
    hdr.put(224, b"Linux".ljust(16, b" "))

    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "wb") as fh:
        fh.write(bytes(hdr.b))
        fh.write(bytes(meta.b))
        for pg in data_pages:
            fh.write(pg)
    os.replace(tmp, path)


def _sas_file_list(path) -> list[str]:
    """Expand a file path, a directory, or an explicit list into the
    sorted absolute ``.sas7bdat`` file list (one parse task each)."""
    if isinstance(path, (list, tuple)):
        files = sorted(os.path.abspath(p) for p in path)
    elif os.path.isdir(path):
        files = sorted(
            os.path.join(os.path.abspath(path), f)
            for f in os.listdir(path)
            if f.lower().endswith(".sas7bdat")
        )
    else:
        files = [os.path.abspath(path)]
    if not files:
        raise ValueError(f"no .sas7bdat files under {path!r}")
    return files


def _peek_spark_schema(path: str):
    """Driver-side BOUNDED metadata peek: parse the header plus at most
    one row (dtypes need the post-conversion view — dates surface as
    datetime64 only after pandas applies the column format). Falls back
    to the reader's raw column metadata for zero-row files. This is the
    only binary access that ever happens on the driver."""
    import pandas as pd

    from pyspark.sql import types as T

    with pd.read_sas(
        path, format="sas7bdat", iterator=True, encoding="utf-8"
    ) as rdr:
        head = rdr.read(1)
        if len(head.columns) == 0:  # zero-row file: header-only metadata
            kinds = {
                b"d": T.DoubleType(),
                b"s": T.StringType(),
            }
            return T.StructType(
                [
                    T.StructField(
                        n.decode() if isinstance(n, bytes) else str(n),
                        kinds.get(t, T.StringType()),
                    )
                    for n, t in zip(rdr.column_names, rdr.column_types())
                ]
            )
    fields = []
    for name, dtype in zip(head.columns, head.dtypes):
        if dtype.kind == "f":
            t = T.DoubleType()
        elif dtype.kind == "M":
            t = T.TimestampType()
        else:
            t = T.StringType()
        fields.append(T.StructField(str(name), t))
    return T.StructType(fields)


def read_sas7bdat(
    spark: SparkSession, path, chunk_rows: int = 100_000
) -> DataFrame:
    """Read ``.sas7bdat`` input (a file, a directory of files, or an
    explicit file list) into a Spark DataFrame.

    EXECUTOR-SIDE parse: the driver only lists files and peeks the
    schema (header + ≤1 row of the first file); the file list is
    repartitioned one-path-per-partition and each task parses its own
    file via pandas' chunked reader (bounded memory: ``chunk_rows``
    rows per Arrow batch) inside ``mapInPandas``. The parsed stream is
    staged once to parquet by a DISTRIBUTED write — one shard per input
    file, written by the executor tasks themselves — and served from
    ``spark.read.parquet``, so scan parallelism, pushdown, and column
    pruning apply to every downstream query. The stage is one
    :func:`~..memo.stage_once` stage keyed by every input file's (path,
    mtime, size), and by the directory's when ``path`` is one, so
    repeated reads parse the binary once and a changed input set
    stages anew.
    """
    files = _sas_file_list(path)
    # a directory names its stage, and its listing is one more input
    dirs = [path] if isinstance(path, str) and os.path.isdir(path) else []
    inputs = dirs + files
    return spark.read.parquet(
        stage_once(
            "sas7bdat", inputs, lambda dst: _stage(spark, files, chunk_rows, dst)
        )
    )


def _stage(spark: SparkSession, files: list[str], chunk_rows: int, dst: str) -> None:
    """Parse ``files`` one executor task each and write the rows as the
    parquet directory ``dst`` (one shard per file)."""
    schema = _peek_spark_schema(files[0])
    col_names = [f.name for f in schema.fields]
    # pandas dtype kinds each peeked Spark type tolerates — checked
    # per chunk so a type-drifted later file (string vs double, or a
    # date column when file 1 was zero-row and fell back) raises the
    # same explicit drift diagnostic instead of an opaque Arrow error
    # deep inside the conversion.
    _kind_ok = {"double": ("f", "i"), "timestamp": ("M",), "string": ("O", "S", "U")}
    col_kinds = [
        (f.name, _kind_ok.get(f.dataType.typeName(), ("O",)))
        for f in schema.fields
    ]

    def _parse_files(batches, _cols=col_names, _kinds=col_kinds, _chunk=chunk_rows):
        import pandas as pd

        for pdf in batches:
            for p in pdf["path"].tolist():
                with pd.read_sas(
                    p, format="sas7bdat", chunksize=_chunk, encoding="utf-8"
                ) as rdr:
                    for chunk in rdr:
                        chunk.columns = [str(c) for c in chunk.columns]
                        missing = [c for c in _cols if c not in chunk.columns]
                        if missing:
                            raise ValueError(
                                f"{p}: columns {missing} absent "
                                f"(schema drift across the file set)"
                            )
                        drifted = [
                            f"{c} (got {chunk[c].dtype}, want kind in {ks})"
                            for c, ks in _kinds
                            if chunk[c].dtype.kind not in ks
                        ]
                        if drifted:
                            raise ValueError(
                                f"{p}: column types {drifted} differ from "
                                f"the first file's schema "
                                f"(schema drift across the file set)"
                            )
                        yield chunk[_cols]

    # one path per partition, deterministically (parallelize slices the
    # list evenly; DataFrame round-robin repartition does not guarantee
    # a 1:1 row→partition placement) → exactly one parse task per file
    paths_df = spark.createDataFrame(
        spark.sparkContext.parallelize([(p,) for p in files], len(files)),
        "path string",
    )
    paths_df.mapInPandas(_parse_files, schema=schema).write.parquet(dst)
