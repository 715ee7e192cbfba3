"""Ingest sources (SURVEY.md §2.1 S1-S5).

Reference: extension-dispatched pd.read_csv / pd.read_excel with full
schema inference (data_analysis.py:17-21). Engine policy: inference is
allowed at INGEST only; everything downstream sees an explicit schema
(the ingested parquet's). Excel funnels through the driver (xlsx caps
at ~1M rows by format, so driver-side parse → Arrow is the right
plan): pandas when an Excel engine is installed, else a stdlib
zipfile+ElementTree xlsx parser (_read_xlsx_stdlib) — no openpyxl
needed. Legacy binary .xls parses through the stdlib CFB+BIFF8
reader in sources/xls.py — no xlrd required.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from auto_ml_platform_with_timeseries_data_spark.registry import query
from auto_ml_platform_with_timeseries_data_spark.tables import load_table


def read_any(spark: SparkSession, path: str) -> DataFrame:
    """Extension-dispatched load, mirroring data_analysis.py:18."""
    ext = os.path.splitext(path)[1].lower()
    if ext == ".csv":
        return read_csv(spark, path)
    if ext in (".xlsx", ".xls"):
        return read_excel(spark, path)
    if ext == ".parquet":
        return spark.read.parquet(path)
    if ext in (".json", ".jsonl"):
        return spark.read.json(path)
    raise ValueError(f"unsupported extension: {ext}")


def read_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV scan with header + schema inference (ingest-only inference)."""
    return spark.read.csv(path, header=True, inferSchema=True)


def _xlsx_col_index(ref: str) -> int:
    """'A1' → 0, 'AB7' → 27 (0-based column from a cell reference)."""
    idx = 0
    for ch in ref:
        if not ch.isalpha():
            break
        idx = idx * 26 + (ord(ch.upper()) - ord("A") + 1)
    return idx - 1


def _first_sheet_part(z, names: set, local) -> str | None:
    """Resolve the FIRST sheet in workbook tab order (what
    pd.read_excel's sheet_name=0 reads): workbook.xml's first <sheet>
    r:id → its target in the workbook rels. Zip-entry names are NOT
    tab order — deleting/reordering tabs in Excel leaves sheetN.xml
    numbers shuffled. Falls back to the lexicographic heuristic for
    workbooks missing either part."""
    import xml.etree.ElementTree as ET

    try:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        first = next(el for el in wb.iter() if local(el.tag) == "sheet")
        rid = next(v for k, v in first.attrib.items() if k.endswith("}id"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        target = next(
            rel.get("Target") for rel in rels
            if rel.get("Id") == rid
        )
        part = target.lstrip("/")
        if not part.startswith("xl/"):
            part = "xl/" + part
        if part in names:
            return part
    except (KeyError, StopIteration, ET.ParseError):
        pass
    return next(
        (n for n in sorted(names)
         if n.startswith("xl/worksheets/") and n.endswith(".xml")),
        None)


def _read_xlsx_stdlib(path: str):
    """Dependency-free .xlsx reader (stdlib zipfile + ElementTree).

    xlsx is a zip of XML parts; this reads the first worksheet with the
    same defaults as pd.read_excel (first row = header, numbers inferred,
    shared/inline strings resolved, gaps = null). Closes the reference's
    Excel-ingest capability (data_analysis.py:18) without openpyxl —
    which this image lacks. Excel files are driver-small by construction
    (xlsx hard row cap is 1,048,576), so a driver-side parse feeding
    spark.createDataFrame via Arrow is the right physical plan; bulk
    columnar data enters through CSV/parquet/JSONL instead.

    Known divergence from the openpyxl path: DATE cells come back as
    raw Excel serial numbers (e.g. 45123.0) — date-ness lives in the
    cell's numFmt style record, which this parser does not resolve.
    Convert downstream (date_add('1899-12-30', serial)) or install
    openpyxl for native datetimes."""
    import xml.etree.ElementTree as ET
    import zipfile

    import pandas as pd

    def local(tag: str) -> str:
        return tag.rsplit("}", 1)[-1]

    with zipfile.ZipFile(path) as z:
        names = set(z.namelist())
        # shared strings (optional part)
        shared: list[str] = []
        if "xl/sharedStrings.xml" in names:
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in root:
                # plain <t> directly under <si>, or rich-text runs
                # <r><t>…</t></r>; SKIP <rPh> phonetic-guide runs
                # (furigana) — Excel/pandas exclude them, and joining
                # them would corrupt East-Asian key columns
                parts = []
                for child in si:
                    name = local(child.tag)
                    if name == "t":
                        parts.append(child.text or "")
                    elif name == "r":
                        parts.extend(t.text or "" for t in child.iter()
                                     if local(t.tag) == "t")
                shared.append("".join(parts))
        sheet_name = _first_sheet_part(z, names, local)
        if sheet_name is None:
            raise ValueError(f"no worksheet found in {path}")
        root = ET.fromstring(z.read(sheet_name))
        rows: dict[int, dict[int, object]] = {}
        # Walk <row>/<c> structurally, not c-elements globally: the r=
        # reference attributes are OPTIONAL in the spec (streaming
        # writers omit them; position is implied by document order), so
        # keep implied row/column counters as the fallback.
        implied_row = 0
        for rowel in (el for el in root.iter() if local(el.tag) == "row"):
            implied_row = int(rowel.get("r", implied_row + 1))
            implied_col = -1
            for c in (el for el in rowel if local(el.tag) == "c"):
                ref = c.get("r", "")
                col = _xlsx_col_index(ref) if ref else implied_col + 1
                implied_col = col
                ctype = c.get("t", "n")
                value = None
                for child in c:
                    name = local(child.tag)
                    if name == "v":
                        value = child.text
                    elif name == "is":
                        value = "".join(t.text or "" for t in child.iter()
                                        if local(t.tag) == "t")
                if value is None:
                    continue
                if ctype == "s":
                    value = shared[int(value)]
                elif ctype == "b":
                    value = bool(int(value))
                elif ctype in ("n", ""):  # numeric — int when exact
                    # Integer-looking text parses through int() directly:
                    # round-tripping via float would lose precision above
                    # 2^53 (the XML stores decimal text, so int() is exact
                    # at any magnitude). Scientific/decimal forms fall back
                    # to float, downgrading to int only when exact.
                    if not any(ch in value for ch in ".eE"):
                        try:
                            value = int(value)
                        except ValueError:
                            value = float(value)
                    else:
                        f = float(value)
                        value = int(f) if f.is_integer() else f
                rows.setdefault(implied_row, {})[col] = value
    return _cells_to_pdf(rows)


def _cells_to_pdf(rows: dict[int, dict[int, object]]):
    """Sparse {row: {col: value}} → DataFrame with pd.read_excel
    defaults (first populated row = header, gaps = null) — shared by the
    stdlib .xlsx and .xls parsers so their assembly cannot diverge."""
    import pandas as pd

    if not rows:
        return pd.DataFrame()
    ordered = [rows[k] for k in sorted(rows)]
    header_cells = ordered[0]
    ncols = max(max(r.keys(), default=-1) for r in ordered) + 1
    header = [str(header_cells.get(i, f"col_{i}")) for i in range(ncols)]
    data = [[r.get(i) for i in range(ncols)] for r in ordered[1:]]
    return pd.DataFrame(data, columns=header)


def read_excel(spark: SparkSession, path: str) -> DataFrame:
    """Excel scan (S2, data_analysis.py:18): pandas when an engine is
    present, else the stdlib parsers — zipfile+ElementTree for .xlsx,
    CFB+BIFF8 (sources/xls.py) for legacy binary .xls. No Excel
    dependency is required for either format."""
    import pandas as pd

    try:
        pdf = pd.read_excel(path)
    except ImportError:
        if path.lower().endswith(".xlsx"):
            pdf = _read_xlsx_stdlib(path)
        else:
            from auto_ml_platform_with_timeseries_data_spark.sources.xls import (
                read_xls_stdlib,
            )

            pdf = read_xls_stdlib(path)
    return spark.createDataFrame(pdf)


@query(
    "q56_jsonl_roundtrip",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,  -- HUGEINT→BIGINT
           count(DISTINCT source) AS n_sources
    FROM documents GROUP BY lang
    """,
)
def q56_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink + source round-trip — the lingua franca format of LLM
    data pipelines. documents → newline-delimited JSON (one shard per
    partition, JSON-escaped text survives embedded newlines/quotes) →
    read back with an EXPLICIT schema (no inference pass over 100 TB)
    → aggregate; the result must equal aggregating the original table."""
    from auto_ml_platform_with_timeseries_data_spark.staging import staging_dir

    docs = load_table(spark, sf_dir, "documents")
    stage = staging_dir("jsonl")
    docs.write.mode("overwrite").json(stage)
    back = spark.read.schema(docs.schema).json(stage)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


@query(
    "q146_xls_roundtrip",
    oracle="""
    SELECT doc_id, lang, n_chars,
           CAST(n_chars AS DOUBLE) / 100 AS score
    FROM documents WHERE doc_id < 50
    """,
)
def q146_xls_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy .xls sink + source round-trip through the stdlib CFB+BIFF8
    writer/reader (sources/xls.py — S2 with zero Excel dependencies):
    a 50-row slice of documents → a real OLE2 .xls file on disk →
    `read_excel` back → the values must equal selecting them straight
    off the parquet. Excel is a driver-side ingest format by
    construction (the BIFF grid caps at 65,536×256), so the roundtrip
    is deliberately small; bulk data takes CSV/parquet/JSONL."""
    from auto_ml_platform_with_timeseries_data_spark.sources.xls import (
        write_xls_minimal,
    )
    from auto_ml_platform_with_timeseries_data_spark.staging import staging_dir

    docs = load_table(spark, sf_dir, "documents")
    rows = (
        docs.filter(F.col("doc_id") < 50)
        .select("doc_id", "lang", "n_chars",
                (F.col("n_chars").cast("double") / 100).alias("score"))
        .orderBy("doc_id").collect()  # 50 rows — driver-small by contract
    )
    path = os.path.join(staging_dir("xls"), "t.xls")
    write_xls_minimal(
        [["doc_id", "lang", "n_chars", "score"]]
        + [[r["doc_id"], r["lang"], r["n_chars"], r["score"]] for r in rows],
        path)
    back = read_excel(spark, path)
    return back.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("score").cast("double").alias("score"),
    )


def ingest_bucketed(df: DataFrame, table: str, key: str,
                    num_buckets: int = 32, path: str | None = None,
                    sort: bool = True) -> None:
    """Persist a table bucketed (and per-bucket sorted) by its join key.

    Bucketing is THE big-big join lever at cluster scale: two tables
    bucketed by the same key into the same bucket count join with ZERO
    exchange — each task reads bucket i of both sides; with sortBy the
    per-bucket sort disappears too. Pre-paying one shuffle at ingest
    amortizes across every subsequent join/agg on that key (fact tables
    are written once, joined thousands of times)."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(num_buckets, key)
    if sort:
        w = w.sortBy(key)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


@query(
    "q80_partitioned_sink",
    oracle="""
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars  -- HUGEINT→BIGINT
    FROM documents WHERE lang = 'en' GROUP BY source
    """,
)
def q80_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet sink + partition-PRUNED re-read —
    the layout decision that matters most at 100 TB: a `lang` filter on
    a lang-partitioned table becomes a directory listing (PartitionFilters
    in the scan, zero data files of other langs opened), not a scan of
    everything. Write side: partitionBy controls layout; one output file
    per (task, lang) here — at scale you'd repartition("lang") first so
    each partition is written by one task (avoids the small-files
    explosion of tasks × partitions)."""
    from auto_ml_platform_with_timeseries_data_spark.staging import staging_dir

    docs = load_table(spark, sf_dir, "documents")
    stage = staging_dir("part")
    (docs.repartition("lang").write.mode("overwrite")
     .partitionBy("lang").parquet(stage))
    back = spark.read.parquet(stage).filter(F.col("lang") == "en")
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "q151_csv_roundtrip",
    oracle="""
    -- mirrors the adversarial rewrite: 'pre "q", \\n' || text || '\\npost'
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(length('pre "q", ' || chr(10) || text || chr(10)
                           || 'post')) AS BIGINT) AS text_len_sum
    FROM documents GROUP BY lang
    """,
)
def q151_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source round-trip under adversarial content (S1
    robustness): document text is rewritten to embed quotes, commas and
    NEWLINES before writing, then read back with multiLine + escape
    options; aggregating the recovered text must match the oracle's
    aggregation of the same transformation. Catches the classic CSV
    corruption failure (row split at an embedded newline) that silently
    drops/duplicates training documents at ingest. multiLine=true costs
    file-level parallelism (a quoted newline spans records, so Spark
    cannot split the file blindly) — the reason parquet/JSONL are the
    bulk formats and CSV is an ingest-edge format here."""
    from auto_ml_platform_with_timeseries_data_spark.staging import staging_dir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit('pre "q", \n'), "text", F.lit("\npost")).alias("text"),
        "lang", "n_chars",
    )
    stage = staging_dir("csv")
    (docs.write.mode("overwrite")
     .option("header", True).option("quoteAll", True)
     .option("escape", '"')
     .csv(stage))
    back = spark.read.schema(docs.schema).option("header", True) \
        .option("multiLine", True).option("escape", '"').csv(stage)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.length("text")).alias("text_len_sum"),
    )


def export_jsonl_shards(df: DataFrame, dest: str,
                        max_records_per_file: int = 10_000,
                        target_files: int | None = None) -> str:
    """Training-data shard exporter: JSONL shards with a hard per-shard
    row cap. `maxRecordsPerFile` is the Spark-native lever — each write
    task rolls to a new file at the cap, so shard sizing needs no extra
    shuffle; an optional `target_files` repartition first spreads rows
    when the upstream partitioning is skewed. Downstream trainers want
    bounded shards for shuffle-buffer and resume granularity."""
    w = df
    if target_files is not None:
        w = w.repartition(target_files)
    (w.write.mode("overwrite")
     .option("maxRecordsPerFile", max_records_per_file)
     .json(dest))
    return dest


@query(
    "q153_sharded_export",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           TRUE AS caps_ok
    FROM documents GROUP BY lang
    """,
)
def q153_sharded_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-capped shard export end-to-end: documents → JSONL shards of
    ≤100 rows each → read back with explicit schema → per-lang content
    aggregate must equal the source, and `caps_ok` asserts (via
    input_file_name counting) that NO shard exceeded the cap — the
    property a resume-granular training loader depends on."""
    from auto_ml_platform_with_timeseries_data_spark.staging import staging_dir

    docs = load_table(spark, sf_dir, "documents")
    dest = staging_dir("shards")
    export_jsonl_shards(docs, dest, max_records_per_file=100)
    back = spark.read.schema(docs.schema).json(dest)
    per_file_max = (
        back.groupBy(F.input_file_name().alias("__f"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.max("__n").alias("__mx"))
        .first()["__mx"]
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.lit(bool(per_file_max <= 100)).alias("caps_ok"),
    )


@query(
    "q211_orc_roundtrip",
    oracle="""
    SELECT doc_id, md5(text) AS text_md5, lang,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    """,
)
def q211_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round-trip (format breadth beyond parquet/
    CSV/JSONL/Excel: ORC is the other columnar format a lakehouse
    ingests from Hive-era estates): write the documents table as ORC,
    read it back, and emit a per-document content digest — every
    doc_id's md5 must equal the oracle's digest of the ORIGINAL
    parquet row, proving the round-trip is byte-lossless. ORC's
    stripe/footer statistics give the same predicate-pushdown contract
    as parquet at scale; Spark's native vectorized ORC reader keeps
    scans whole-stage-codegen."""
    from auto_ml_platform_with_timeseries_data_spark.staging import staging_dir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars")
    stage = staging_dir("orc")
    docs.write.mode("overwrite").orc(stage)
    back = spark.read.orc(stage)
    return back.select(
        "doc_id", F.md5("text").alias("text_md5"), "lang",
        F.col("n_chars").cast("long").alias("n_chars"))


# ---------------------------------------------------------------------------
# q222 — schema-evolution round-trip: a parquet directory whose early
# files PREDATE a column (the v1 crawl wrote no `lang`) must still read
# as one table under mergeSchema, with the missing column null-backfilled
# — the additive-evolution contract every long-lived lakehouse table
# depends on (Delta/Iceberg call it schema merging; plain Spark parquet
# supports it via per-file footers + mergeSchema)
# ---------------------------------------------------------------------------


@query(
    "q222_schema_evolution",
    oracle="""
    SELECT CASE WHEN doc_id < 250 THEN 1 ELSE 2 END AS batch,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN doc_id < 250 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_lang,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1
    """,
)
def q222_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents with doc_id < 250 WITHOUT the lang column (the
    pre-evolution files), append the rest with it, read the directory
    back with mergeSchema: v1 rows must surface lang = NULL (the
    null-backfill contract) while every row and byte survives — the
    per-batch row counts, null-lang counts, and exact character sums
    are value-hash-checked against the original table. Scale: schema
    merge is a FOOTER operation (one small read per file at planning
    time, or sampled); the data pages are never rewritten — which is
    the point: evolving a 100 TB table's schema costs metadata, not a
    rewrite."""
    from auto_ml_platform_with_timeseries_data_spark.staging import staging_dir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", F.col("n_chars").cast("long")
        .alias("n_chars"))
    d = staging_dir("schema_evo")
    (docs.filter(F.col("doc_id") < 250).drop("lang")
     .write.mode("append").parquet(d))
    (docs.filter(F.col("doc_id") >= 250)
     .write.mode("append").parquet(d))
    back = spark.read.option("mergeSchema", "true").parquet(d)
    return (back.groupBy(
        F.when(F.col("lang").isNull(), 1).otherwise(2).alias("batch"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
             F.sum(F.when(F.col("lang").isNull(), 1).otherwise(0))
             .cast("long").alias("n_null_lang"),
             F.sum("n_chars").cast("long").alias("total_chars")))
