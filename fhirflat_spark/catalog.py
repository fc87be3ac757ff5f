"""SQL-catalog surface for encoded datasets — the Iceberg-style "table +
metadata tables" pattern (Iceberg exposes `db.table.files` /
`db.table.manifests`; here the same shapes come from the chunk store's
own lineage, reference analog: the fhirflat bundle's ``fhirflat.toml`` +
``sha256sums.txt``, reference fhirflat/ingest.py:381-432).

``register_dataset(spark, out_dir, name)`` publishes four views:

- ``{name}``           — the decoded table (lazy: decode happens at query
                         time, column pruning/zone filters still apply
                         through the DataFrame surface for callers that
                         need them);
- ``{name}_manifest``  — per-partition lineage (rows, bytes, checksums,
                         key zone spans, status);
- ``{name}_chunks``    — per-(chunk, column) codec/bytes/zone-span stats;
- ``{name}_summary``   — the one-row dataset summary;
- ``{name}_snapshots`` — the snapshot log (version, totals, dataset
                         checksum, is_current — Iceberg's
                         `db.table.snapshots` analog; pair with
                         ``decode_table(snapshot=N)`` for time travel);
- ``{name}_deletes``   — the active row-level delete entries (file,
                         key column, partition scope — empty when none).

Views are session-scoped temp views: no Hive metastore or external
catalog is assumed (none exists in this sandbox); on a deployment with a
real catalog the same DataFrames feed ``saveAsTable``/``writeTo``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def register_dataset(spark: SparkSession, out_dir: str, name: str) -> dict[str, DataFrame]:
    from fhirflat_spark.decode import decode_table
    from fhirflat_spark.manifest import (
        list_snapshots,
        read_chunk_stats,
        read_manifest,
        read_summary,
        table_view,
    )

    if not name.isidentifier():
        raise ValueError(f"{name!r} is not a valid SQL view name")
    view = table_view(out_dir)
    views = {
        name: decode_table(spark, out_dir, snapshot=view),
        f"{name}_manifest": read_manifest(spark, out_dir, view),
        f"{name}_chunks": read_chunk_stats(spark, out_dir),
        f"{name}_summary": spark.createDataFrame([read_summary(spark, out_dir)]),
        f"{name}_snapshots": list_snapshots(spark, out_dir),
        f"{name}_deletes": spark.createDataFrame(
            [
                (e["file"], e["column"], e.get("below_part"))
                for e in view.deletes
            ],
            "file STRING, column STRING, below_part INT",
        ),
    }
    for vname, df in views.items():
        df.createOrReplaceTempView(vname)
    return views
