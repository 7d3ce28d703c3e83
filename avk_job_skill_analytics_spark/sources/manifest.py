"""S7/S8 — idempotent-load manifest (SURVEY.md §2.1, §2.9).

The reference tracks loaded files in a one-column SQL table /
SQLite db (`dbo.etl_loaded_files`, src/load_sqlserver.py:37-56;
`loaded_files.db`) and diffs raw-vs-processed S3 listings
(src/transform.py:186-198). Engine version: a parquet manifest table;
membership is a broadcast anti-join (J1), marking is an append.
Structured Streaming's file-source checkpoint subsumes this for the
streaming path (streaming/incremental.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.schemas import MANIFEST
from ..plans.session import tiny_df


class Manifest:
    """Exactly-once file-load bookkeeping over a parquet directory."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        # resolved through the Hadoop FS of the path's own scheme: an
        # os.path probe would return False for every hdfs:/s3a: path
        # and silently reset the manifest to empty — the exact failure
        # idempotent loading exists to prevent
        from ..streaming.fsio import IndexFS

        return IndexFS(self.spark, self.path).exists()

    def loaded(self) -> DataFrame:
        """All file names marked loaded (empty frame if none yet).

        Defensively de-duplicated: :meth:`mark_loaded`'s
        check-then-append is not atomic (see its docstring), so a
        retried/concurrent writer can double-append a name; consumers
        must still see each file at most once."""
        if self._exists():
            try:
                return (
                    self.spark.read.schema(MANIFEST)
                    .parquet(self.path)
                    .dropDuplicates(["file_name"])
                )
            except Exception:
                pass
        return tiny_df(self.spark, [], MANIFEST)

    def is_loaded(self, file_name: str) -> bool:
        """S7 point lookup (`SELECT 1 FROM tracker WHERE file_name=?`,
        src/load_sqlserver.py:37-44).

        Launches one Spark job per call — faithful to the reference's
        per-file probe and fine for a handful of files, but bulk
        callers must use the set-based :meth:`new_files` (one
        anti-join for the whole candidate list) instead of looping
        over this."""
        return (
            self.loaded().filter(F.col("file_name") == file_name).limit(1).count()
            > 0
        )

    def new_files(self, candidates: DataFrame) -> DataFrame:
        """S8 — set-difference of candidate vs loaded names as a
        broadcast anti-join (src/transform.py:186-196). `candidates`
        must carry a `file_name` column."""
        return candidates.join(
            F.broadcast(self.loaded()), "file_name", "left_anti"
        )

    def filter_new_rows(self, df: DataFrame,
                        file_col: str = "_source_file") -> DataFrame:
        """Row-level variant: keep rows whose provenance file is not in
        the manifest (pairs with readers' ``with_provenance``)."""
        manifest = self.loaded().withColumnRenamed("file_name", file_col)
        return df.join(F.broadcast(manifest), file_col, "left_anti")

    def mark_loaded(self, file_names: list[str]) -> None:
        """S7 conditional insert (`IF NOT EXISTS ... INSERT`,
        src/load_sqlserver.py:51-54): append names not already present.

        SINGLE-WRITER assumption: the anti-join-then-append is not
        atomic (plain parquet has no transaction log), so two
        concurrent drivers — or a job retried after a partial append —
        can both pass the check and double-append a name. That matches
        the reference's single ETL driver; under concurrency, route
        appends through one writer (or an ACID table format) and note
        that :meth:`loaded` de-duplicates reads defensively either
        way, so downstream idempotency holds even if a double-append
        slips in."""
        new = tiny_df(
            self.spark, [(f,) for f in file_names], MANIFEST
        ).join(F.broadcast(self.loaded()), "file_name", "left_anti")
        new.write.mode("append").parquet(self.path)
