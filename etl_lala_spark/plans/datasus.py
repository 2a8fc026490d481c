"""Reference-parity queries: the DATASUS ETL semantics re-expressed as
declarative Spark plans (SURVEY.md §2.1/§2.4, FIXTURES.md §5).

The reference discovers files by crossing a 6-dimension filter with a rolling
month dimension (src/datasus/datasus.service.ts:73-158), decodes them into
wide all-string record tables keyed by competência
(ESTRUTURA_DADOS_PROCESSADOS.md:80-109), loads them idempotently
(competencias_existentes skip, src/datasus/datasus.service.ts:33), and
aggregates run manifests (src/scripts/run-etl.ts:26-54). Here each of those
behaviors is a DataFrame plan; the DATASUS-shaped table is derived
deterministically from `lineitem` so the DuckDB oracle can regenerate it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_lala_spark.io import load_table
from etl_lala_spark.plans import register

# Fixed anchor so the rolling window is deterministic (the reference anchors
# at now() — src/datasus/datasus.service.ts:75 — then hardcodes 2 months at
# :96, a quirk we do not replicate).
ANCHOR = "2025-01-01"
N_MONTHS = 12


@register(
    "datasus_competence_dim",
    oracle=f"""
SELECT strftime(m, '%m') AS mes,
       CAST(year(m) AS BIGINT) AS ano,
       strftime(m, '%Y%m') AS competencia
FROM (
  SELECT unnest(generate_series(
           DATE '{ANCHOR}' - INTERVAL 11 MONTH,
           DATE '{ANCHOR}', INTERVAL 1 MONTH))::DATE AS m
)
ORDER BY competencia DESC
""",
)
def datasus_competence_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 time-dimension generator: 12 rolling monthly competências
    (src/datasus/datasus.service.ts:73-97), newest first (O2)."""
    return (
        spark.range(1, numPartitions=1)
        .select(
            F.explode(
                F.sequence(
                    F.add_months(F.lit(ANCHOR).cast("date"), -(N_MONTHS - 1)),
                    F.lit(ANCHOR).cast("date"),
                    F.expr("interval 1 month"),
                )
            ).alias("m")
        )
        .select(
            F.date_format("m", "MM").alias("mes"),
            F.year("m").cast("long").alias("ano"),
            F.date_format("m", "yyyyMM").alias("competencia"),
        )
        .orderBy(F.col("competencia").desc())
    )


@register(
    "datasus_catalog_manifest",
    oracle=f"""
WITH tipos(tipo, fonte) AS (VALUES ('PA','SIASUS'), ('PS','SIASUS'), ('RD','SIHSUS')),
ufs(uf) AS (VALUES ('AL'), ('PE'), ('PB')),
meses AS (
  SELECT unnest(generate_series(
           DATE '{ANCHOR}' - INTERVAL 11 MONTH,
           DATE '{ANCHOR}', INTERVAL 1 MONTH))::DATE AS m
),
catalogo AS (
  SELECT t.tipo, t.fonte, u.uf,
         strftime(m.m, '%Y%m') AS competencia,
         concat(t.tipo, u.uf, strftime(m.m, '%y%m')) AS arquivo,
         concat('/dissemin/publicos/', t.fonte, '/',
                concat(t.tipo, u.uf, strftime(m.m, '%y%m')), '.dbc') AS endereco,
         concat('resp: https://datasus.gov.br/download/',
                concat(t.tipo, u.uf, strftime(m.m, '%y%m')), '.zip ok') AS resposta
  FROM tipos t CROSS JOIN ufs u CROSS JOIN meses m
)
SELECT arquivo, fonte, uf, competencia,
       trim(endereco) AS endereco,
       regexp_extract(resposta, 'https?://[^"\\s\\]]+\\.zip', 0) AS link,
       regexp_replace(arquivo, '\\.[^/.]+$', '') AS nome_sem_ext,
       regexp_extract(endereco, '[^/]+$', 0) AS basename
FROM catalogo
WHERE fonte = 'SIASUS' AND uf IN ('PE', 'AL') AND arquivo IS NOT NULL AND trim(arquivo) <> ''
ORDER BY arquivo
""",
)
def datasus_catalog_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S3+S4 catalog discovery as a manifest DataFrame: dimension cross
    join (tipo × uf × competência, src/datasus/datasus.service.ts:104-111),
    pushed-down fonte/uf predicates, per-month fan-out+union (:139-158) —
    expressed as one cross join so Catalyst prunes/pushes instead of the
    reference's sequential Promise loop — and link extraction via regex
    (:204-205) with P1 trim/not-empty projection (:162-168)."""
    from etl_lala_spark.sources.manifest import build_catalog_manifest

    return build_catalog_manifest(spark, anchor=ANCHOR, n_months=N_MONTHS)


# ---------------------------------------------------------------------------
# DATASUS-shaped record table derived from lineitem (FIXTURES.md §5): wide,
# all-string, competência-keyed — the reference's record data model.
# ---------------------------------------------------------------------------

DATASUS_PA_SQL = """
  SELECT
    strftime(l_shipdate, '%Y%m')                                        AS "AP_MVM",
    concat(l_returnflag, l_linestatus)                                  AS "AP_CONDIC",
    CAST(l_suppkey AS VARCHAR)                                          AS "AP_GESTAO",
    CAST(l_partkey AS VARCHAR)                                          AS "AP_CODUNI",
    CAST(CAST(round(l_extendedprice, 2) AS DECIMAL(14,2)) AS VARCHAR)   AS "AP_VL_TOTAL",
    concat('PA', 'PE', strftime(l_shipdate, '%y%m'))                    AS arquivo_origem,
    'SIASUS'                                                            AS fonte
  FROM lineitem
"""


def datasus_pa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the all-string DATASUS-shaped table from lineitem.

    Numeric-as-string goes through DECIMAL(14,2) so the string rendering is
    identical in Spark and DuckDB (double→string shortest-repr is riskier).
    """
    from etl_lala_spark.io import spread

    # Prune to the 5 source columns before the repartition so the spread
    # shuffle moves ~30 bytes/row, then compute the string projection with
    # full parallelism.
    li = spread(
        load_table(spark, sf_dir, "lineitem").select(
            "l_shipdate", "l_returnflag", "l_linestatus", "l_suppkey", "l_partkey",
            "l_extendedprice",
        ),
        # Hash-partition on the shipdate the groupBy keys derive from: no
        # sort-before-repartition (vs round-robin) and months arrive
        # pre-clustered, so the partial agg reduces harder.
        by="l_shipdate",
    )
    # yyyyMM via integer arithmetic, not date_format: the per-row formatter
    # is ~2× the cost of the whole remaining projection, and the second
    # format (yyMM) is a substring of the first.
    mvm = F.expr("cast(year(l_shipdate) * 100 + month(l_shipdate) as string)")
    return li.select(
        mvm.alias("AP_MVM"),
        F.concat("l_returnflag", "l_linestatus").alias("AP_CONDIC"),
        F.col("l_suppkey").cast("string").alias("AP_GESTAO"),
        F.col("l_partkey").cast("string").alias("AP_CODUNI"),
        F.round("l_extendedprice", 2).cast("decimal(14,2)").cast("string").alias("AP_VL_TOTAL"),
        F.concat(F.lit("PA"), F.lit("PE"), F.substring(mvm, 3, 4)).alias(
            "arquivo_origem"
        ),
        F.lit("SIASUS").alias("fonte"),
    )


@register(
    "datasus_pa_summary",
    oracle=f"""
WITH datasus_pa AS ({DATASUS_PA_SQL})
SELECT "AP_MVM" AS competencia,
       count(*) AS total_registros,
       count(DISTINCT arquivo_origem) AS total_arquivos,
       round(CAST(sum(CAST("AP_VL_TOTAL" AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_valor,
       round(CAST(sum(CAST("AP_VL_TOTAL" AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS media_valor,
       max("AP_CODUNI") AS max_coduni
FROM datasus_pa
GROUP BY 1
ORDER BY 1
""",
)
def datasus_pa_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-competência manifest aggregates over the all-string table
    (A5/A7 `_indice.json` stats, ESTRUTURA_DADOS_PROCESSADOS.md:38-72),
    exercising string→double typed-projection casts (SURVEY.md §1.2)."""
    pa = datasus_pa(spark, sf_dir)
    # Exact decimal sum (the strings carry exactly 2 decimals), THEN divide:
    # double partial sums depend on partition/merge order, so a round() at
    # the half-point boundary could disagree with the oracle run-to-run.
    # Decimal aggregation is order-independent; the single double division
    # afterwards is identical IEEE arithmetic in both engines.
    vl = F.col("AP_VL_TOTAL").cast("decimal(18,2)")
    return (
        pa.groupBy(F.col("AP_MVM").alias("competencia"))
        .agg(
            F.count("*").alias("total_registros"),
            F.countDistinct("arquivo_origem").alias("total_arquivos"),
            F.round(F.sum(vl).cast("double"), 2).alias("total_valor"),
            F.round(F.sum(vl).cast("double") / F.count("*"), 4).alias("media_valor"),
            F.max("AP_CODUNI").alias("max_coduni"),
        )
        .orderBy("competencia")
    )


@register(
    "datasus_incremental_insert",
    oracle=f"""
WITH datasus_pa AS ({DATASUS_PA_SQL}),
existentes AS (
  SELECT DISTINCT "AP_MVM" FROM datasus_pa WHERE "AP_MVM" < '199801'
)
SELECT p."AP_MVM" AS competencia, count(*) AS n_inseridos
FROM datasus_pa p
WHERE NOT EXISTS (SELECT 1 FROM existentes e WHERE e."AP_MVM" = p."AP_MVM")
GROUP BY 1
ORDER BY 1
""",
)
def datasus_incremental_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent competência load: rows inserted = batch minus months already
    present (T5 `competencias_existentes`, src/datasus/datasus.service.ts:33)
    — a left-anti join, the scalable version of the reference's skip-list."""
    pa = datasus_pa(spark, sf_dir)
    existing = pa.filter(F.col("AP_MVM") < "199801").select("AP_MVM").distinct()
    return (
        pa.join(existing, "AP_MVM", "left_anti")
        .groupBy(F.col("AP_MVM").alias("competencia"))
        .agg(F.count("*").alias("n_inseridos"))
        .orderBy("competencia")
    )


PER_FILE_STATS_SQL = f"""
WITH datasus_pa AS ({DATASUS_PA_SQL}),
per_file AS (
  SELECT arquivo_origem,
         concat('sia_', lower(substr(arquivo_origem, 1, 2))) AS tabela_nome,
         count(*) AS registros_inseridos
  FROM datasus_pa GROUP BY 1, 2
)
"""


@register(
    "datasus_run_summary",
    oracle=PER_FILE_STATS_SQL
    + """
SELECT CAST(sum(registros_inseridos) AS BIGINT) AS total_registros,
       count(*) AS total_arquivos,
       count(DISTINCT tabela_nome) AS tabelas_processadas,
       round(avg(registros_inseridos), 2) AS media_registros,
       CAST(max(registros_inseridos) AS BIGINT) AS max_registros
FROM per_file
""",
)
def datasus_run_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-level summary A1-A3+A5: global sum / file count / distinct tables /
    mean / max over per-file stats (src/scripts/run-etl.ts:26-46,
    ESTRUTURA_DADOS_PROCESSADOS.md:38-72) — one distributed agg instead of
    the reference's driver-side accumulator loop."""
    pa = datasus_pa(spark, sf_dir)
    per_file = (
        pa.groupBy(
            "arquivo_origem",
            F.concat(F.lit("sia_"), F.lower(F.substring("arquivo_origem", 1, 2))).alias(
                "tabela_nome"
            ),
        )
        .agg(F.count("*").alias("registros_inseridos"))
    )
    return per_file.agg(
        F.sum("registros_inseridos").alias("total_registros"),
        F.count("*").alias("total_arquivos"),
        F.countDistinct("tabela_nome").alias("tabelas_processadas"),
        F.round(F.avg("registros_inseridos"), 2).alias("media_registros"),
        F.max("registros_inseridos").alias("max_registros"),
    )


@register(
    "datasus_run_by_table",
    oracle=PER_FILE_STATS_SQL
    + """
SELECT tabela_nome,
       CAST(sum(registros_inseridos) AS BIGINT) AS total_registros,
       count(*) AS arquivos
FROM per_file
GROUP BY tabela_nome
ORDER BY tabela_nome
""",
)
def datasus_run_by_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-table run summary A4 (src/scripts/run-etl.ts:50-54) — the
    reference computes this with an O(n²) filter-in-loop; here it is a single
    hash aggregation."""
    pa = datasus_pa(spark, sf_dir)
    per_file = (
        pa.groupBy(
            "arquivo_origem",
            F.concat(F.lit("sia_"), F.lower(F.substring("arquivo_origem", 1, 2))).alias(
                "tabela_nome"
            ),
        )
        .agg(F.count("*").alias("registros_inseridos"))
    )
    return (
        per_file.groupBy("tabela_nome")
        .agg(
            F.sum("registros_inseridos").alias("total_registros"),
            F.count("*").alias("arquivos"),
        )
        .orderBy("tabela_nome")
    )


@register(
    "datasus_filename_parse",
    oracle=f"""
WITH tipos(tipo, fonte) AS (VALUES ('PA','SIASUS'), ('PS','SIASUS'), ('RD','SIHSUS')),
ufs(uf) AS (VALUES ('AL'), ('PE'), ('PB')),
meses AS (
  SELECT unnest(generate_series(
           DATE '{ANCHOR}' - INTERVAL 11 MONTH,
           DATE '{ANCHOR}', INTERVAL 1 MONTH))::DATE AS m
),
nomes AS (
  SELECT concat(t.tipo, u.uf, strftime(m.m, '%y%m')) AS arquivo
  FROM tipos t CROSS JOIN ufs u CROSS JOIN meses m
)
SELECT arquivo,
       regexp_extract(arquivo, '^([A-Z]+?)([A-Z]{{2}})([0-9]{{4}})', 1) AS tipo_parsed,
       regexp_extract(arquivo, '^([A-Z]+?)([A-Z]{{2}})([0-9]{{4}})', 2) AS uf_parsed,
       regexp_extract(arquivo, '^([A-Z]+?)([A-Z]{{2}})([0-9]{{4}})', 3) AS yymm_parsed
FROM nomes
ORDER BY arquivo
""",
)
def datasus_filename_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 filename provenance parsing: {TYPE}{UF}{YYMM} names split back into
    typed columns — the inverse of the catalog's name construction, the round
    trip the reference performs implicitly via its job payloads
    (src/datasus/datasus.processor.ts:12-21)."""
    from etl_lala_spark.sources.manifest import build_catalog, parse_datasus_filename

    cat = build_catalog(spark, anchor=ANCHOR, n_months=N_MONTHS)
    return (
        parse_datasus_filename(cat.select("arquivo"))
        .select("arquivo", "tipo_parsed", "uf_parsed", "yymm_parsed")
        .orderBy("arquivo")
    )


def render_dbc_fixtures(
    spark: SparkSession,
    sf_dir: str,
    gate: str,
    dbf_cols: list[str],
    splits: list[tuple[str, int, int]],
    n_rows: int,
) -> str:
    """Shared "ordered lineitem rows -> .dbc fixture files" builder for the
    three DBC gates (roundtrip, DataSource, limit pushdown): collect the
    first ``n_rows`` lineitem rows in (l_orderkey, l_linenumber) order,
    project them to the requested DATASUS column set, and render each
    ``(basename, lo, hi)`` slice as one ``.dbc`` under the gate's
    session-scoped workdir. Bounded driver collect (fixture generation,
    not an operator path); call inside ``fixture_region(gate)`` so the
    bench excludes the render time."""
    import os

    from etl_lala_spark.plans._gates import gate_workdir
    from etl_lala_spark.sources.dbc import dbf_to_dbc, write_dbf

    exprs = {
        "AP_CONDIC": F.concat("l_returnflag", "l_linestatus").alias(
            "AP_CONDIC"
        ),
        "AP_VL_TOTAL": F.round("l_extendedprice", 2)
        .cast("decimal(14,2)")
        .cast("string")
        .alias("AP_VL_TOTAL"),
    }
    li = (
        load_table(spark, sf_dir, "lineitem")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(n_rows)
    )
    rows = [
        [r[c] for c in dbf_cols]
        for r in li.select(*[exprs[c] for c in dbf_cols]).collect()
    ]
    fixture_dir = os.path.join(gate_workdir(spark, gate), "fixtures")
    os.makedirs(fixture_dir, exist_ok=True)
    for name, lo, hi in splits:
        with open(os.path.join(fixture_dir, name + ".dbc"), "wb") as fh:
            fh.write(dbf_to_dbc(write_dbf(dbf_cols, rows[lo:hi])))
    return fixture_dir


@register(
    "datasus_dbc_roundtrip",
    oracle="""
WITH base AS (
  SELECT concat(l_returnflag, l_linestatus) AS condic,
         CAST(CAST(round(l_extendedprice, 2) AS DECIMAL(14,2)) AS VARCHAR)
           AS vl_total
  FROM (SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 200)
)
SELECT condic, count(*) AS n,
       round(CAST(sum(CAST(vl_total AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
FROM base
GROUP BY 1
ORDER BY 1
""",
)
def datasus_dbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 end-to-end under the correctness gate: 200 deterministic lineitem
    rows are rendered to a dBase III table, compressed into a DATASUS
    ``.dbc`` with the pure-Python implode codec, read back through
    ``binaryFile`` → distributed ``read_dbc`` decode, and aggregated — the
    oracle computes the same aggregate straight from lineitem, so a codec
    or DBF-layout bug breaks the hash match.

    The driver-side fixture write is 200 rows (generation, not the operator
    path); the decode itself runs in executors via mapInArrow."""
    from etl_lala_spark.plans._gates import fixture_region
    from etl_lala_spark.sources.dbc import read_dbc

    # Fixture build (bounded 200-row collect + DBC render) runs under the
    # session-scoped gate workdir and is accounted as fixture time, so the
    # bench measures the decode path and concurrent sessions never race on
    # a shared temp path.
    with fixture_region("datasus_dbc_roundtrip"):
        fixture_dir = render_dbc_fixtures(
            spark, sf_dir, "datasus_dbc_roundtrip",
            ["AP_CONDIC", "AP_VL_TOTAL"], [("PAPE2501", 0, 200)], n_rows=200,
        )

    members = (
        spark.read.format("binaryFile")
        .load(fixture_dir)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("member_basename"),
            "content",
        )
    )
    records = read_dbc(members)
    return (
        records.groupBy(F.col("AP_CONDIC").alias("condic"))
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("AP_VL_TOTAL").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total"),
        )
        .orderBy("condic")
    )


@register(
    "datasus_dbc_source",
    oracle="""
WITH base AS (
  SELECT concat(l_returnflag, l_linestatus) AS condic,
         CAST(CAST(round(l_extendedprice, 2) AS DECIMAL(14,2)) AS VARCHAR)
           AS vl_total
  FROM (SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100)
)
SELECT 'PAPE2501' AS arquivo_origem, condic, count(*) AS n,
       round(CAST(sum(CAST(vl_total AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
FROM base
GROUP BY 2
ORDER BY 2
""",
)
def datasus_dbc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 as a first-class Spark 4 Python DataSource
    (``spark.read.format("dbc")``, SURVEY.md §4 "optionally a DSv2 source
    later"): 200 deterministic lineitem rows are split across two ``.dbc``
    files (two competências), and the query reads the format with an
    equality predicate on the ``arquivo_origem`` provenance column — Spark
    4.1 ``pushFilters`` prunes the second file at planning time, so only
    file 1 is ever decompressed. The oracle recomputes the same aggregate
    from the first 100 lineitem rows directly, pinning schema inference,
    the implode codec, partition planning, and the pruning logic under the
    hash gate."""
    from etl_lala_spark.plans._gates import fixture_region
    from etl_lala_spark.sources.dbc_datasource import register_dbc_source

    with fixture_region("datasus_dbc_source"):
        fixture_dir = render_dbc_fixtures(
            spark, sf_dir, "datasus_dbc_source",
            ["AP_CONDIC", "AP_VL_TOTAL"],
            [("PAPE2501", 0, 100), ("PAPE2502", 100, 200)], n_rows=200,
        )

    register_dbc_source(spark)
    records = (
        spark.read.format("dbc")
        .load(fixture_dir)
        .filter(F.col("arquivo_origem") == "PAPE2501")
    )
    return (
        records.groupBy("arquivo_origem", F.col("AP_CONDIC").alias("condic"))
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("AP_VL_TOTAL").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total"),
        )
        .orderBy("condic")
    )


@register(
    "pseudonymize_customers",
    oracle="""
WITH tok AS (
  SELECT c_custkey, c_nationkey,
         sha256('pepper::' || c_name) AS name_token,
         sha256('pepper::' || c_mktsegment) AS segment_token
  FROM customer
)
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(count(DISTINCT name_token) AS BIGINT) AS n_name_tokens,
       CAST(count(DISTINCT segment_token) AS BIGINT) AS n_segment_tokens,
       min(name_token) AS sample_token
FROM tok
GROUP BY c_nationkey
ORDER BY c_nationkey
""",
)
def pseudonymize_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR-pipeline pseudonymization (`functions/scalars.py:pseudonymize`,
    the load-path companion to the writer's targeted delete): PII columns
    replaced by deterministic keyed sha2-256 tokens, so analytic joins /
    distinct-counts still work on the pseudonymized table. The per-nation
    distinct-token counts equaling the distinct raw counts IS the
    join-preservation property, cross-checked exactly by the oracle."""
    from etl_lala_spark.functions.scalars import pseudonymize

    c = load_table(spark, sf_dir, "customer")
    tok = c.select(
        "c_nationkey",
        pseudonymize(F.col("c_name"), "pepper").alias("name_token"),
        pseudonymize(F.col("c_mktsegment"), "pepper").alias("segment_token"),
    )
    return (
        tok.groupBy("c_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.countDistinct("name_token").cast("bigint").alias("n_name_tokens"),
            F.countDistinct("segment_token").cast("bigint").alias("n_segment_tokens"),
            F.min("name_token").alias("sample_token"),
        )
        .orderBy("c_nationkey")
    )
