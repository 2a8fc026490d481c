"""DBC/DBF decode path (reference S8).

The reference ships each `.dbc` (PKWare-compressed DBF) to an external Python
service that runs dbc2dbf + dbfread and streams records back
(OTIMIZACAO_API_PYTHON.md:190-207,270-287). Here the decode runs *inside* the
engine: :func:`decode_file` turns one file's bytes into an Arrow
``RecordBatch`` with a pure-Python DBF parser (dBase III layout, public
spec), and every reader calls it — :func:`read_dbc` as ``mapInArrow`` over
``binaryFile`` rows, the ``dbc`` DataSource batch and stream readers once
per file partition (:mod:`etl_lala_spark.sources.dbc_datasource`). `.dbc`
decompression uses the pure-Python PKWare implode codec in
:mod:`etl_lala_spark.sources.implode`, so the whole path runs in-engine with
no third-party binary dependency.

Record data model matches the reference: every value stringified, latin1
decoding, column names discovered from the file header (SURVEY.md §1.2).
"""

from __future__ import annotations

import struct
from collections import Counter
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_lala_spark.sources import implode

PROVENANCE_COL = "arquivo_origem"


def _dbf_fields(data: bytes) -> list[tuple[str, int]]:
    """(name, length) of each field descriptor in a dBase III header:
    32-byte descriptors from offset 32, 11-byte null-padded names, ended by
    a 0x0D terminator that must lie inside the declared header length (u16
    at offset 8). Raises ``ValueError`` when there is no terminator (the
    bytes are not a DBF header) or a field name repeats (the record table
    would have two columns of one name)."""
    header_len = int.from_bytes(data[8:10], "little")
    end = min(header_len, len(data))
    term = next((o for o in range(32, end, 32) if data[o] == 0x0D), None)
    if term is None:
        raise ValueError(
            f"not a DBF header: no 0x0D terminator within the declared "
            f"{header_len}-byte header"
        )
    fields = [
        (data[o : o + 11].split(b"\x00", 1)[0].decode("latin1").strip(), data[o + 16])
        for o in range(32, term, 32)
    ]
    dups = sorted(n for n, k in Counter(n for n, _ in fields).items() if k > 1)
    if dups:
        raise ValueError(f"duplicate DBF field names {dups}")
    return fields


def parse_dbf_header(data: bytes) -> list[str]:
    """Column names from a dBase III header (see :func:`_dbf_fields`)."""
    return [name for name, _ in _dbf_fields(data)]


def parse_dbf(
    data: bytes,
    limit: int | None = None,
    project: list[str] | None = None,
) -> tuple[list[str], list[list[str]]]:
    """Decode DBF bytes → (column names, rows of stringified latin1 values).

    Mirrors the reference converter's semantics: ``str(value)`` for every
    field (DIAGNOSTICO_TAMANHO_JSON.md:246-252), latin1 encoding
    (OTIMIZACAO_API_PYTHON.md:202), deleted rows (0x2A flag) skipped, and
    optional record-limit pushdown (S9, OTIMIZACAO_API_PYTHON.md:62-76).

    ``project`` is projection pushdown into the decoder: only the named
    fields are sliced/decoded (field offsets come from the header, so
    non-projected bytes are skipped, never touched). Returned columns keep
    file order. On a 92-column DATASUS file a 3-column projection does
    ~1/30th of the per-record Python work — the custom-source analog of
    Parquet column pruning.
    """
    names, cols = parse_dbf_columns(data, limit=limit, project=project)
    return names, [list(t) for t in zip(*cols)]


def parse_dbf_columns(
    data: bytes,
    limit: int | None = None,
    project: list[str] | None = None,
) -> tuple[list[str], list[list[str]]]:
    """Columnar variant of :func:`parse_dbf`: returns (names, one value list
    per column) — the natural shape for building Arrow RecordBatches, so
    the DataSource read path skips the rows→columns re-transpose entirely.

    Deleted-row filtering and row gathering run in numpy (one reshape +
    boolean mask over the record matrix); each column then decodes its
    gathered bytes in ONE latin1 call and strips per-value on slices of
    that single string — no per-cell bytes objects.
    """
    import numpy as np

    n_records = struct.unpack("<I", data[4:8])[0]
    header_len = struct.unpack("<H", data[8:10])[0]
    record_len = struct.unpack("<H", data[10:12])[0]

    # (name, record offset, length) for each decoded field; header order.
    sel: list[tuple[str, int, int]] = []
    fo = 1
    for name, flen in _dbf_fields(data):
        if project is None or name in project:
            sel.append((name, fo, flen))
        fo += flen

    body = data[header_len : header_len + n_records * record_len]
    n_avail = len(body) // record_len
    arr = np.frombuffer(body[: n_avail * record_len], dtype=np.uint8).reshape(
        n_avail, record_len
    )
    keep = np.nonzero(arr[:, 0] != 0x2A)[0]  # drop deleted rows
    if limit is not None:
        keep = keep[:limit]
    kept = arr[keep]
    n_kept = len(kept)

    cols: list[list[str]] = []
    for _name, o, length in sel:
        buf = kept[:, o : o + length].tobytes().decode("latin1")
        cols.append(
            [buf[i : i + length].strip() for i in range(0, n_kept * length, length)]
        )
    return [s[0] for s in sel], cols


def dbc_to_dbf(data: bytes) -> bytes:
    """Decompress a DATASUS .dbc into DBF bytes (in-engine dbc2dbf).

    Container layout (public, used by every DATASUS reader): the DBF header
    is stored verbatim up to its own declared length (bytes 8-9), followed by
    a 4-byte CRC32, followed by the record section compressed with PKWare
    DCL implode — decoded here by the pure-Python
    :mod:`etl_lala_spark.sources.implode` codec, replacing the reference's
    external converter service (OTIMIZACAO_API_PYTHON.md:190-207).
    """
    if len(data) < 12:
        raise ValueError("not a .dbc: shorter than a DBF header prefix")
    header_len = struct.unpack("<H", data[8:10])[0]
    if header_len < 32 or header_len + 4 > len(data):
        raise ValueError(f"not a .dbc: implausible header length {header_len}")
    body = implode.decompress(data[header_len + 4 :])
    return data[:header_len] + body


def dbf_to_dbc(dbf: bytes) -> bytes:
    """Inverse of :func:`dbc_to_dbf` (fixture generator): verbatim header,
    zeroed CRC field, literal-mode-imploded record section."""
    header_len = struct.unpack("<H", dbf[8:10])[0]
    return dbf[:header_len] + b"\x00\x00\x00\x00" + implode.compress_literal(
        dbf[header_len:]
    )


def infer_dbf_columns(binaries: DataFrame, content_col: str = "content") -> list[str]:
    """Schema discovery from the first file's header (reference: per-file
    ``colunas`` reported by the converter, src/datasus/datasus.service.ts:30-33).
    One tiny driver action (header bytes only), then the decode runs fully
    distributed with the fixed all-string schema. The prefix is 64 KiB —
    the DBF header length field is u16, so this covers the maximal header
    (a 4 KiB prefix silently truncated any file past ~126 fields)."""
    first = binaries.select(F.substring(F.col(content_col), 1, 65535).alias("head")).first()
    if first is None:
        return []
    return parse_dbf_header(bytes(first["head"]))


def decode_file(
    name: str,
    data: bytes,
    columns: list[str],
    limit: int | None = None,
    project: list[str] | None = None,
    corrupt_col: str | None = None,
) -> pa.RecordBatch:
    """The one per-file decode: a file's bytes → an all-string Arrow batch
    of ``columns``, then ``arquivo_origem`` (``name`` without its extension,
    ESTRUTURA_DADOS_PROCESSADOS.md:80-109), then ``corrupt_col`` when set.
    ``.dbc`` names are decompressed first, any other name parses as raw DBF.
    A file that fails to decode or whose columns differ from ``columns``
    raises (the reference's ``sucesso !== true`` guard); with
    ``corrupt_col`` set it becomes ONE row instead: data NULL, the error
    text in ``corrupt_col`` (PERMISSIVE, reference R5)."""
    names = [*columns, PROVENANCE_COL] + ([corrupt_col] if corrupt_col else [])
    error = None
    try:
        dbf = dbc_to_dbf(data) if name.lower().endswith(".dbc") else data
        file_cols, colvals = parse_dbf_columns(dbf, limit=limit, project=project)
        if file_cols != columns:
            raise ValueError(
                f"{name}: columns {file_cols[:3]}... != expected {columns[:3]}..."
            )
        n = len(colvals[0]) if colvals else 0
    except Exception as exc:  # noqa: BLE001 — per-file boundary
        if not corrupt_col:
            raise
        colvals, n = [[None]] * len(columns), 1
        error = f"{type(exc).__name__}: {exc}"[:500]
    arrays = [pa.array(vals, type=pa.string()) for vals in colvals]
    arrays.append(pa.array([name.rsplit(".", 1)[0]] * n, type=pa.string()))
    if corrupt_col:
        arrays.append(pa.array([error] * n, type=pa.string()))
    return pa.RecordBatch.from_arrays(arrays, names=names)


def read_dbc(
    binaries: DataFrame,
    content_col: str = "content",
    name_col: str = "member_basename",
    limit: int | None = None,
    columns: list[str] | None = None,
    project: list[str] | None = None,
    mode: str = "FAILFAST",
) -> DataFrame:
    """S8 end-to-end: decode ``.dbc``/``.dbf`` binary rows into the
    all-string record table with ``arquivo_origem`` provenance. The member
    name's extension picks the decoder (:func:`decode_file`). Schema
    discovery needs no decompression — the DBF header is stored verbatim at
    the front of a ``.dbc`` — and the per-file decode runs distributed
    inside ``mapInArrow``, one task per batch of files. ``project`` prunes
    columns inside the decoder (decompression still touches every byte —
    implode output is sequential — but field slicing/decoding skips
    non-projected fields); the output keeps the projected fields in file
    order.

    ``mode="FAILFAST"`` (default) raises inside the task on a corrupt or
    schema-mismatched file. ``mode="PERMISSIVE"`` instead emits ONE error
    row per bad file (data columns NULL, ``_decode_error`` = exception class
    + message) and keeps decoding the rest — the Spark PERMISSIVE/badRecords
    convention the NDJSON source already follows (R5), so one truncated
    archive member cannot kill a 100 TB backfill. Pass explicit ``columns``
    when the FIRST file may be corrupt (schema inference reads its header
    and fails planning on a non-DBF one)."""
    if mode not in ("FAILFAST", "PERMISSIVE"):
        raise ValueError(f"unknown mode {mode}")
    cols = columns if columns is not None else infer_dbf_columns(binaries, content_col)
    if project is not None:
        cols = [c for c in cols if c in project]
    corrupt_col = "_decode_error" if mode == "PERMISSIVE" else None
    out_cols = [*cols, PROVENANCE_COL] + ([corrupt_col] if corrupt_col else [])
    schema = T.StructType([T.StructField(c, T.StringType()) for c in out_cols])

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for name, blob in zip(
                batch.column(0).to_pylist(), batch.column(1).to_pylist()
            ):
                yield decode_file(name, blob, cols, limit, project, corrupt_col)

    return binaries.select(name_col, content_col).mapInArrow(decode, schema=schema)


def write_dbf(columns: list[str], rows: list[list[str]], field_len: int = 20) -> bytes:
    """Produce minimal dBase III bytes (test fixture generator — the inverse
    of parse_dbf; character fields only, latin1)."""
    n, hlen = len(rows), 32 + 32 * len(columns) + 1
    rlen = 1 + field_len * len(columns)
    out = bytearray()
    out += bytes([0x03, 24, 1, 1])
    out += struct.pack("<IHH", n, hlen, rlen)
    out += bytes(20)
    for c in columns:
        desc = bytearray(32)
        desc[0:11] = c.encode("latin1")[:11].ljust(11, b"\x00")
        desc[11] = ord("C")
        desc[16] = field_len
        out += desc
    out += b"\x0d"
    for row in rows:
        out += b"\x20"
        for v in row:
            out += v.encode("latin1")[:field_len].ljust(field_len, b"\x20")
    out += b"\x1a"
    return bytes(out)
