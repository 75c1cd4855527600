"""spark-submit entry point for training-shard export.

    spark-submit --py-files data_pipeline_spark.zip jobs/export_job.py \
      --table /tables/token_sequences --out /exports/run1 \
      [--order-col doc_id] [--shard-rows 4096] [--tokens-col tokens] \
      [--overwrite]          # full export (atomic replace if out exists)
      [--append]             # O(delta) export: only rows whose order key
                             # sorts after the manifest's last exported key
                             # become NEW shards; published shards are
                             # never rewritten

``--append`` composes with ``write.stats-columns``: when the order column
is a stats column, the delta scan prunes every already-exported file at
PLANNING time, so a cron'd incremental export costs O(new data) end to end
— scan, shuffle, and write.  Prints one JSON line.

Reference analog: the reference's loader step re-ships query results
wholesale each run (transformations/load.py load_to_bigquery); here the
steady-state export is proportional to what changed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True, help="icehouse table root")
    ap.add_argument("--out", required=True, help="shard dataset directory")
    ap.add_argument("--order-col", default="doc_id")
    ap.add_argument("--shard-rows", type=int, default=None,
                    help="rows per shard (default 4096; in --append mode the "
                    "manifest's value is authoritative and a conflicting "
                    "explicit value is an error)")
    ap.add_argument("--tokens-col", default="tokens")
    ap.add_argument("--no-tokens", action="store_true")
    ap.add_argument("--overwrite", action="store_true")
    ap.add_argument("--append", action="store_true")
    args = ap.parse_args()

    from data_pipeline_spark.operators.shards import (
        append_training_shards,
        last_exported_key,
        read_shard_manifest,
        write_training_shards,
    )
    from data_pipeline_spark.table.icehouse import IcehouseTable

    spark = SparkSession.builder.appName("shard_export").getOrCreate()
    table = IcehouseTable.load(args.table)
    tokens_col = None if args.no_tokens else args.tokens_col

    if args.append and args.overwrite:
        raise SystemExit("--append and --overwrite contradict: append never "
                         "rewrites published shards, overwrite replaces the "
                         "whole dataset — pick one")
    if args.append:
        manifest = read_shard_manifest(args.out)
        if manifest["order_col"] != args.order_col:
            raise SystemExit(
                f"manifest order_col {manifest['order_col']!r} != --order-col"
            )
        if args.shard_rows is not None and args.shard_rows != int(manifest["shard_rows"]):
            raise SystemExit(
                f"--shard-rows {args.shard_rows} conflicts with the manifest's "
                f"{manifest['shard_rows']} (append always continues the "
                "published shard size)"
            )
        last = last_exported_key(
            manifest,
            decimal_keys=isinstance(
                table.schema[args.order_col].dataType, T.DecimalType
            ),
        )
        if last is None:
            rows = table.read(spark)
        elif args.order_col in table.stats_columns:
            # planning-time skip of every already-exported file
            rows = table.read(
                spark, stats_filters={args.order_col: (last, None)}
            ).where(F.col(args.order_col) > F.lit(last))
        else:
            rows = table.read(spark).where(F.col(args.order_col) > F.lit(last))
        manifest = append_training_shards(rows, args.out, tokens_col=tokens_col)
        action = "append"
    else:
        manifest = write_training_shards(
            table.read(spark),
            args.out,
            order_col=args.order_col,
            shard_rows=args.shard_rows if args.shard_rows is not None else 4096,
            tokens_col=tokens_col,
            overwrite=args.overwrite,
        )
        action = "full"

    print(
        json.dumps(
            {
                "action": action,
                "out": os.path.abspath(args.out),
                "table_version": table.version,
                "n_shards": manifest["n_shards"],
                "n_rows": manifest["n_rows"],
                **(
                    {"n_tokens": manifest["n_tokens"]}
                    if "n_tokens" in manifest
                    else {}
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
