"""Table-format shim: Iceberg on a real cluster, parquet dirs locally.

The reference reads plain/gzip/bzip2 log files sequentially
[webalizer.c ƒour_gzgets] and writes HTML/tab/state files. Here sources
and sinks are tables. In production the engine targets Iceberg
(``catalog.db.table`` identifiers — partition pruning on ts-bucketed
partitions is the resume filter, SURVEY §2.1 S8/P6); in the sandbox there
is no Iceberg runtime jar and no network, so the same calls fall back to
parquet directories. The CLI reads its input and dimension tables and
upserts its history through this shim, so for those the difference is a
constructor flag, not a code path. Three places read or write parquet
paths directly instead: plans/pipeline.write_sinks (sinks and reports),
plans/checkpoint (the state tables) and the CLI's history step (its
read of the daily state).

At 100 TB: writes are partitioned by day(ts) + bucket(conv_id), giving
both the month-rollover grain (the reference's monthly report boundary)
and co-located conv_id access for sessionization re-reads.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


# the temp view TableIO.merge registers its rows under for MERGE INTO
_MERGE_SRC = "_merge_src"


def merge_sql(target: str, keys: list[str]) -> str:
    """The MERGE INTO statement the Iceberg branch executes — factored
    out so the generated SQL is unit-testable in-sandbox, where no
    Iceberg runtime jar exists to run it live."""
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    return (f"MERGE INTO {target} t USING {_MERGE_SRC} s ON {on}\n"
            "WHEN MATCHED THEN UPDATE SET *\n"
            "WHEN NOT MATCHED THEN INSERT *")


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark._jvm  # noqa: SLF001
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


@dataclass
class TableIO:
    """Reads of the input and dimension tables, upserts of the history
    table."""

    spark: SparkSession
    base_path: str | None = None        # parquet mode root
    catalog: str | None = None          # iceberg mode: e.g. "lake.analytics"

    def __post_init__(self) -> None:
        self.use_iceberg = (
            self.catalog is not None
            and _iceberg_available(self.spark)
        )

    def _path(self, name: str) -> str:
        assert self.base_path is not None, "parquet mode requires base_path"
        p = os.path.join(self.base_path, name)
        # accept both dir-table (name/) and single-file (name.parquet) layouts
        return p if os.path.exists(p) else p + ".parquet"

    def read(self, name: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.read.table(f"{self.catalog}.{name}")
        return self.spark.read.parquet(self._path(name))

    def merge(self, df: DataFrame, name: str, keys: list[str]) -> None:
        """Upsert by key (S9 history-table semantics): rows in `df`
        replace same-key rows; other rows survive.

        Iceberg: a real MERGE INTO (UPDATE * / INSERT *). Parquet shim:
        read -> anti-join old on keys -> union -> write to a temp dir ->
        atomic-ish directory swap (the temp write MATERIALIZES the merge
        before the old dir is touched, so a crash never leaves a
        half-merged table — the same write-then-rename discipline as the
        checkpoint manifest).
        """
        if self.use_iceberg:
            target = f"{self.catalog}.{name}"
            if not self.spark.catalog.tableExists(target):
                df.writeTo(target).create()
                return
            df.createOrReplaceTempView(_MERGE_SRC)
            self.spark.sql(merge_sql(target, keys))
            return
        assert self.base_path is not None
        path = os.path.join(self.base_path, name)
        if not os.path.exists(path):
            df.write.mode("overwrite").parquet(path)
            return
        import shutil

        old = self.spark.read.parquet(path)
        merged = old.join(df.select(*keys), keys, "left_anti").unionByName(df)
        tmp = path + "__merge_tmp"
        merged.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(path)
        os.replace(tmp, path)

