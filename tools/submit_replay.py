"""spark-submit entry point for the CDC replay engine.

Cluster usage (north rule: spark-submit --py-files on multi-executor):

    zip -r engine.zip debezium_connector_spanner_spark
    spark-submit --py-files engine.zip tools/submit_replay.py \
        --events /data/change_log --table /lake/repos \
        --checkpoint /ckpt/repos --start-us ... --end-us ... \
        --n-batches 64 --n-buckets 4096

Local smoke (same code path):

    python tools/submit_replay.py --fixture .fixtures/sf0.01
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from debezium_connector_spanner_spark.sources.event_schema import REPOS_SCHEMA_V1
from debezium_connector_spanner_spark.streaming.engine import CdcReplayEngine


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--fixture", help="fixture dir (sets events/base/start/end)")
    p.add_argument("--events")
    p.add_argument("--table", default=None)
    p.add_argument("--checkpoint", default=None)
    p.add_argument("--start-us", type=int)
    p.add_argument("--end-us", type=int)
    p.add_argument("--n-batches", type=int, default=8)
    p.add_argument("--n-buckets", type=int, default=64)
    args = p.parse_args()

    # on a cluster, master/executors come from spark-submit; locally this
    # falls back to local[*]
    spark = SparkSession.builder.appName("spanner-cdc-replay").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    if args.fixture:
        with open(os.path.join(args.fixture, "manifest.json")) as f:
            m = json.load(f)
        events = args.fixture
        start_us = m["epoch_micros"]
        end_us = start_us + m["duration_s"] * 1_000_000
        base = spark.read.parquet(os.path.join(args.fixture, "base_repos.parquet"))
        table = args.table or os.path.join(args.fixture, "submit-run", "table")
        ckpt = args.checkpoint or os.path.join(args.fixture, "submit-run", "ckpt")
    else:
        events, start_us, end_us = args.events, args.start_us, args.end_us
        base, table, ckpt = None, args.table, args.checkpoint

    eng = CdcReplayEngine(
        spark,
        events,
        table,
        ckpt,
        start_us=start_us,
        end_us=end_us,
        n_batches=args.n_batches,
        initial_schema=REPOS_SCHEMA_V1,
        base_df=base if not os.path.exists(table or "") else None,
        n_buckets=args.n_buckets,
    )
    totals = eng.run()
    print(json.dumps({"totals": totals, "final_rows": eng.final_state().count()}))


if __name__ == "__main__":
    main()
