"""Sinks S5–S6 (SURVEY.md §2.1).

The reference writes one CSV object per day to S3
(src/data_extract.py:239-248) and appends to SQL Server in 100-row
pyodbc batches (src/load_sqlserver.py:70-98). Spark-native versions:
single-file CSV only at the external boundary, the JDBC writer with
per-partition batched inserts, and small-file parquet compaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def csv_sink(df: DataFrame, path: str, single_file: bool = False,
             mode: str = "overwrite", **options) -> None:
    """S5 — CSV out (header, no index). ``single_file=True`` matches
    the reference's one-object-per-day layout via coalesce(1) — fine
    for daily extracts, wrong for big results (single-writer
    bottleneck); leave False to write one file per partition."""
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).option("header", True).options(**options).csv(path)


def jdbc_sink(df: DataFrame, url: str, table: str,
              properties: dict[str, str] | None = None,
              batchsize: int = 1000, num_partitions: int | None = None,
              mode: str = "append") -> None:
    """S6 — warehouse append (dbo.job_data). The reference commits
    100-row pyodbc batches single-threaded; Spark's JDBC writer runs
    one connection per partition with ``batchsize`` rows per round
    trip. ``num_partitions`` caps writer concurrency so the target DB
    isn't overwhelmed."""
    if num_partitions is not None:
        df = df.coalesce(num_partitions)
    (
        df.write.mode(mode)
        .option("batchsize", batchsize)
        .jdbc(url, table, properties=properties or {})
    )


def xlsx_sink(df: DataFrame, dir_path: str, num_files: int = 1) -> DataFrame:
    """Write ``df`` as ``num_files`` XLSX workbooks under ``dir_path``
    — the custom-distributed-sink pattern: round-robin repartition to
    the target file count, then a ``mapInPandas`` stage where each
    task encodes its partition with the stdlib codec (sources/xlsx.py)
    and writes one workbook as a side effect, emitting a one-row
    manifest (file, n_rows). Returning the manifest keeps the write
    inside the DataFrame program (the action that materializes it
    performs the write), mirroring how Spark's own file sinks report
    per-task commits. Values are stringified at the edge — XLSX is an
    interchange format here, same convention as the CSV sink."""
    import os

    from .xlsx import write_xlsx

    cols = df.columns

    def encode(batches):
        import pandas as pd
        from pyspark import TaskContext

        part_rows: list[tuple] = []
        for pdf in batches:
            part_rows.extend(tuple(r) for r in pdf.itertuples(index=False))
        if part_rows:
            pid = TaskContext.get().partitionId()
            name = f"part-{pid:05d}.xlsx"
            write_xlsx(os.path.join(dir_path, name), cols, part_rows)
            yield pd.DataFrame(
                [(name, len(part_rows))], columns=["file", "n_rows"]
            )

    os.makedirs(dir_path, exist_ok=True)
    return df.repartition(num_files).mapInPandas(
        encode, "file string, n_rows long"
    )


def jdbc_connect(spark, url: str,
                 properties: dict[str, str] | None = None):
    """A driver-side ``java.sql.Connection`` to the JDBC target; the
    caller closes it."""
    props = properties or {}
    jprops = spark._jvm.java.util.Properties()
    for k in ("user", "password"):
        if k in props:
            jprops.setProperty(k, props[k])
    if "driver" in props:
        # connect through a fresh driver instance, not DriverManager:
        # embedded engines (Derby) deregister their driver on shutdown,
        # after which DriverManager reports "no suitable driver" even
        # though the class loads fine.
        cls = spark._jvm.java.lang.Class.forName(props["driver"])
        return cls.newInstance().connect(url, jprops)
    return spark._jvm.java.sql.DriverManager.getConnection(url, jprops)


def jdbc_exec(spark, url: str, *statements: str,
              properties: dict[str, str] | None = None) -> None:
    """Run DDL/DML statements on the JDBC target from the driver.

    Spark's JDBC writer only appends/overwrites; upserts and staging
    merges need target-side SQL. ``foreachBatch`` functions run ON THE
    DRIVER, so a driver-side ``java.sql.DriverManager`` connection is
    the correct (and cluster-valid) place to issue them — the bulk
    rows still move through the distributed JDBC writer, only the
    set-based merge statements run here."""
    conn = jdbc_connect(spark, url, properties)
    try:
        st = conn.createStatement()
        for sql in statements:
            st.execute(sql)
        st.close()
    finally:
        conn.close()


def compact_parquet(spark, src_path: str, dst_path: str,
                    target_mb: int = 128) -> dict:
    """Small-files compaction — the table-maintenance pass every
    long-lived 100 TB lake needs: streaming micro-batches, per-day
    drops (the reference's one-CSV-per-day layout), and fine-grained
    partitioning all accrete files far below the efficient scan size,
    and every later query then pays a task + open + footer read per
    tiny file. Rewrite ``src_path`` into ``dst_path`` with
    ``ceil(total_bytes / target_mb)`` output files of even size.

    File sizes come from one driver-side listing through
    ``streaming.fsio.IndexFS`` (Hadoop FileSystem — metadata only).
    The source schema comes from ``plans.schemas.parquet_schema``, so
    a directory the package just wrote and recorded is read with no
    footer-inference job, and ``dst_path``'s schema is recorded the
    same way after the write. The rewrite is one round-robin
    repartition, which balances output files regardless of input
    skew and needs no data-dependent statistics. Returns
    {n_src_files, src_bytes, n_out_files} so callers can log the
    before/after. Compact per partition directory in a date-
    partitioned table to keep pruning intact."""
    from ..plans.schemas import parquet_schema, record_written
    from ..streaming.fsio import IndexFS

    schema = parquet_schema(spark, src_path)
    _, statuses = IndexFS(spark, src_path).statuses()
    sizes = [length for name, is_dir, length, _ in statuses
             if not is_dir and not name.startswith("_")]
    total = sum(sizes)
    n_out = max(1, -(-total // (target_mb * 1024 * 1024)))
    spark.read.schema(schema).parquet(src_path).repartition(
        n_out).write.mode("overwrite").parquet(dst_path)
    record_written(spark, dst_path, schema)
    return {
        "n_src_files": len(sizes),
        "src_bytes": int(total),
        "n_out_files": int(n_out),
    }
