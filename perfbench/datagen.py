"""Seeded DATASUS PA-shaped ``.dbc`` landing directory for ``ingest_dbc``.

Files are rendered by the engine's own ``write_dbf`` + ``dbf_to_dbc``, so
their implode streams are literal-mode only (no back-references). One file
per competência (``PA{UF}{yymm}.dbc``); the last one is a large-state file
``LARGE_FACTOR`` times the size of the others, so the slowest decode task
and per-file memory show. The seed changes the values only: file count and
row counts are fixed, so every seed does the same amount of work.

For each competência the generator records the row count and a value
checksum: the sum over rows of the first 32 bits of ``md5`` of the row's
values joined by ``|`` in column order (:func:`row_checksum`), which Spark
recomputes over the loaded table (:func:`spark_checksum`).
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass

from etl_lala_spark.sources.dbc import dbf_to_dbc, write_dbf

# PA (Produção Ambulatorial) column names, all character fields.
PA_COLUMNS = [
    "PA_CODUNI", "PA_GESTAO", "PA_CONDIC", "PA_UFMUN", "PA_TPUPS", "PA_MVM",
    "PA_CMP", "PA_PROC_ID", "PA_CBOCOD", "PA_SEXO", "PA_IDADE", "PA_VALAPR",
]
FIELD_LEN = 12
MONTHS = 6  # small-state competências, then one large-state competência
ROWS_PER_FILE = 1000
LARGE_FACTOR = 4
_UF_CODE = {"PE": "26", "SP": "35"}


@dataclass(frozen=True)
class PaFile:
    stem: str  # file name without ``.dbc`` (the engine's provenance key)
    competencia: str
    rows: int
    checksum: int
    path: str


def row_checksum(values: list[str]) -> int:
    return int(hashlib.md5("|".join(values).encode("ascii")).hexdigest()[:8], 16)


def spark_checksum(columns: list[str]):
    """Column expression computing :func:`row_checksum` per row in Spark."""
    from pyspark.sql import functions as F

    digest = F.md5(F.concat_ws("|", *[F.col(c) for c in columns]))
    return F.conv(F.substring(digest, 1, 8), 16, 10).cast("long")


def _row(rng: random.Random, uf: str, cmp: str) -> list[str]:
    code = _UF_CODE[uf]
    mvm = cmp if rng.random() < 0.8 else str(int(cmp) + 1)
    return [
        str(rng.randrange(2_000_000, 9_999_999)),
        code + f"{rng.randrange(0, 10_000):04d}",
        rng.choice(["EP", "PG", "MM", "MU"]),
        code + f"{rng.randrange(0, 10_000):04d}",
        f"{rng.randrange(1, 80):02d}",
        mvm,
        cmp,
        f"0{rng.randrange(101_010_010, 999_999_999)}",
        rng.choice(["225125", "322205", "515105", "2231F8", "251510"]),
        rng.choice("MF"),
        str(rng.randrange(0, 111)),
        f"{rng.randrange(0, 2_000_000) / 100:.2f}",
    ]


def layout() -> list[tuple[str, str, str, int]]:
    """(stem, uf, competência, rows) for every file of the landing dir; the
    same for every seed."""
    out = []
    for m in range(1, MONTHS + 2):
        uf = "SP" if m == MONTHS + 1 else "PE"
        rows = ROWS_PER_FILE * (LARGE_FACTOR if uf == "SP" else 1)
        out.append((f"PA{uf}24{m:02d}", uf, f"2024{m:02d}", rows))
    return out


def generate(seed: int, out_dir: str) -> list[PaFile]:
    """Write the landing directory for ``seed`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    files = []
    for stem, uf, cmp, n in layout():
        rng = random.Random(f"{seed}:{stem}")
        rows = [_row(rng, uf, cmp) for _ in range(n)]
        path = os.path.join(out_dir, f"{stem}.dbc")
        with open(path, "wb") as fh:
            fh.write(dbf_to_dbc(write_dbf(PA_COLUMNS, rows, FIELD_LEN)))
        files.append(PaFile(stem, cmp, n, sum(map(row_checksum, rows)), path))
    return files
