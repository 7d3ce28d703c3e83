"""Sources S1–S4 (SURVEY.md §2.1).

The reference lists S3 objects and reads them one-by-one with pandas
(src/transform.py:32-41, src/data_extract.py:50-66). Spark's file
sources subsume the listing: a glob over a prefix is a distributed
scan with partition pruning and (for parquet/orc) predicate pushdown.
``s3a://`` URIs work unchanged when the hadoop-aws jars are on the
classpath; tests use ``file://`` paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..plans.session import tiny_df


def csv_source(spark: SparkSession, path: str, schema: StructType | None = None,
               with_provenance: bool = False, **options) -> DataFrame:
    """S1+S2 — CSV over a path/glob/prefix (header on; explicit schema
    preferred — schema inference is a full extra pass at scale).
    ``with_provenance`` adds the source file per row (the reference
    tracks per-file lineage for idempotency)."""
    reader = spark.read.option("header", True)
    reader = reader.schema(schema) if schema is not None else reader.option(
        "inferSchema", True
    )
    df = reader.options(**options).csv(path)
    if with_provenance:
        df = df.withColumn("_source_file", F.input_file_name())
    return df


def excel_source(spark: SparkSession, path: str, sheet: int = 0,
                 header: bool = True,
                 with_provenance: bool = False,
                 mode: str = "FAILFAST") -> DataFrame:
    """S3 — Excel ingest (src/data_extract.py:58, :64), Spark-native
    and dependency-free: the ``binaryFile`` source distributes the
    workbook bytes (one task per file — the right granularity, since
    XLSX is a ZIP and not byte-splittable), and an Arrow-batched
    ``mapInPandas`` runs the stdlib SpreadsheetML codec
    (sources/xlsx.py) per file. All cells surface as strings — the
    raw-edge convention shared with CSV; type with an explicit
    ``select(...cast...)`` downstream.

    Column names come from one driver-side parse of the first
    matching file's header (workbooks are small; the cost is one
    object read, same order as a parquet footer sniff). All files in
    the glob must share the header layout — mismatches surface as
    misaligned columns, the same contract pandas applies per-file.

    ``mode``: FAILFAST (default) raises on the first undecodable
    workbook; DROPMALFORMED skips corrupt files and keeps the load
    alive — the quarantine-and-continue contract a million-file drop
    zone needs (one truncated upload must not kill the daily ingest;
    pair with :func:`excel_scan_report` to list what was skipped)."""
    from .xlsx import parse_xlsx_bytes, rows_to_table

    if mode not in ("FAILFAST", "DROPMALFORMED"):
        raise ValueError(f"unsupported mode {mode!r}")
    bin_df = spark.read.format("binaryFile").load(path)
    # header sniff: PAGE the path listing (64 names at a time via a
    # TakeOrdered limit — column-pruned, metadata-only), then fetch
    # ONE workbook's bytes at a time via a single-file binaryFile
    # read until one parses. Driver traffic stays bounded regardless
    # of drop-zone size: a million-file zone puts 64 strings on the
    # driver, not a million, and pages further only if an entire
    # page is unparseable (DROPMALFORMED).
    first = None
    page_size, offset = 64, 0
    while first is None:
        page = [
            r["path"]
            for r in bin_df.select("path").orderBy("path")
            .offset(offset).limit(page_size).collect()
        ]
        if not page:
            break
        for p in page:
            try:
                content = (
                    spark.read.format("binaryFile").load(p)
                    .select("content").collect()[0]["content"]
                )
                rows, width = parse_xlsx_bytes(bytes(content), sheet=sheet)
                first = rows_to_table(rows, width, header=header)
                break
            except Exception:
                if mode == "FAILFAST":
                    raise
        offset += page_size
    if first is None:
        raise FileNotFoundError(
            f"no parseable files match {path} (mode={mode})"
        )
    cols, _ = first

    out_fields = ", ".join(f"`{c}` string" for c in cols)
    out_schema = f"{out_fields}, _source_file string"

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            for _, rec in pdf.iterrows():
                try:
                    rws, w = parse_xlsx_bytes(
                        bytes(rec["content"]), sheet=sheet
                    )
                except Exception:
                    if mode == "FAILFAST":
                        raise
                    continue  # DROPMALFORMED: quarantine the file
                _, body = rows_to_table(rws, w, header=header)
                table = [
                    (r + [None] * len(cols))[: len(cols)] for r in body
                ]
                out = pd.DataFrame(table, columns=cols, dtype=object)
                out["_source_file"] = rec["path"]
                yield out

    df = bin_df.select("path", "content").mapInPandas(parse, out_schema)
    return df if with_provenance else df.drop("_source_file")


def excel_scan_report(spark: SparkSession, path: str,
                      sheet: int = 0) -> DataFrame:
    """Per-workbook health ledger for a drop zone: (file, ok, n_rows,
    error). The audit half of DROPMALFORMED — run it on the same glob
    to know exactly which files were quarantined and why, instead of
    silently losing them. Same distributed shape as the read (one
    binaryFile task per workbook)."""
    from .xlsx import parse_xlsx_bytes

    def audit(batches):
        import pandas as pd

        for pdf in batches:
            recs = []
            for _, rec in pdf.iterrows():
                try:
                    rows, _w = parse_xlsx_bytes(
                        bytes(rec["content"]), sheet=sheet
                    )
                    recs.append((rec["path"], True, max(len(rows) - 1, 0), None))
                except Exception as e:
                    recs.append((rec["path"], False, 0, str(e)[:200]))
            yield pd.DataFrame(
                recs, columns=["file", "ok", "n_rows", "error"]
            )

    return (
        spark.read.format("binaryFile")
        .load(path)
        .select("path", "content")
        .mapInPandas(audit, "file string, ok boolean, n_rows long, error string")
    )


def hf_snapshot_source(spark: SparkSession, snapshot_path: str,
                       column_map: dict[str, str] | None = None,
                       with_provenance: bool = False) -> DataFrame:
    """S4 — HuggingFace dataset ingest from an offline snapshot
    (src/data_extract.py:73-79). HF datasets are distributed as
    parquet (or CSV export) files; at 100 TB you mirror the dataset
    onto shared storage once and scan it like any other source — the
    live ``datasets.load_dataset`` call is a single-node download the
    engine only needs at mirror time (see :func:`hf_dataset_source`).

    Reference contract, reproduced end-to-end:

    - ``load_dataset(...)`` failure → the pipeline CONTINUES with an
      empty frame (``hf_df = pd.DataFrame()``, src/data_extract.py:
      78-79). Here any unreadable/missing/empty snapshot returns an
      empty DataFrame instead of raising: 0 columns when no
      ``column_map`` is given (the exact ``pd.DataFrame()`` shape), or
      the mapped schema (all-string) when one is — so a downstream
      ``unionByName(allowMissingColumns=True)`` drops the source
      silently, exactly like the reference's ``pd.concat``.
    - P1 column mapping (src/data_extract.py:166-200): ``column_map``
      ``{dst: src}`` projects to the canonical schema with ``""`` for
      absent source columns (:func:`normalize.normalize_columns`).

    Snapshot layout: a directory (or glob) of ``*.parquet`` and/or
    ``*.csv`` files; parquet wins when both exist (columnar scan,
    pushdown). CSV is read with header + all-string schema inference
    disabled only for parquet-absent snapshots."""
    from .normalize import normalize_columns

    df = None
    for fmt in ("parquet", "csv"):
        try:
            if fmt == "parquet":
                cand = spark.read.parquet(snapshot_path)
            else:
                cand = (
                    spark.read.option("header", True)
                    .option("inferSchema", True).csv(snapshot_path)
                )
            if cand.columns:  # a readable snapshot with real columns
                df = cand
                break
        except Exception:
            continue  # fallback-to-empty: try the next format
    if df is None:
        empty = tiny_df(spark, [], StructType([]))
        if column_map:
            # project the empty frame to the mapped schema so callers
            # can union it with the other sources without branching
            return empty.select(
                *[F.lit("").alias(dst) for dst in column_map]
            ).limit(0)
        return empty
    if with_provenance:
        df = df.withColumn("_source_file", F.input_file_name())
    if column_map:
        keep = dict(column_map)
        if with_provenance:
            keep["_source_file"] = "_source_file"
        df = normalize_columns(df, keep)
    return df


def hf_dataset_source(spark: SparkSession, dataset_name: str) -> DataFrame:
    """S4 (live-network path) — HuggingFace dataset ingest via the
    `datasets` package (src/data_extract.py:73-79). Not available in
    this environment; production use mirrors the dataset to storage
    once and reads it with :func:`hf_snapshot_source` (same contract,
    distributed scan)."""
    try:
        from datasets import load_dataset  # type: ignore
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError(
            "hf_dataset_source requires the `datasets` package; mirror "
            "the dataset and use hf_snapshot_source instead"
        ) from e
    ds = load_dataset(dataset_name)["train"]
    return spark.createDataFrame(ds.to_pandas())
