"""Last-writer-wins fold + bucketed MERGE (SURVEY.md §2.3 O5/O12, §2.4 K1).

The fold is a SINGLE aggregation per batch built only from
max/max-of-struct aggregates (associative + idempotent). Two physical
shapes, chosen by workload:

- **fused** (``fold_changes(n_buckets=...)``, default): the fold's
  exchange IS the sink's bucket exchange — one shuffle per batch, output
  pre-clustered for the write. Because the explicit bucket repartition
  satisfies the grouping distribution, Catalyst plans the aggregate
  entirely post-shuffle (no map-side combine) — optimal when keys repeat
  little within a batch (high key cardinality).
- **salted** (``fold_changes_salted``): explicit two-phase
  (key, salt)->key combine for hot keys — the north rule's "hot-key
  repos salted before the merge-apply shuffle". A mega-key's events
  spread over n_salts reducers and are pre-reduced before the final
  per-key combine. Identical results (property-tested).

No window functions (a window would shuffle the full event set
un-combined and cannot pre-reduce at all). Measured
(tools/bench_fold_alternatives.py, 4.1M events / 504k keys, local[32],
3 reps): agg fold best 8.8s vs window fold best 8.5s — a wash at this
scale (overlapping rep ranges), so the deciding factor is the shape at
100x: the agg fold's max-of-struct aggregates admit partial aggregation
when the input is NOT pre-bucketed (map-side combine shrinks the
shuffle by the intra-batch key-repeat factor), while the window variant
always ships every event row and materializes the full frame per key.
The SortAggregate (struct-typed max has no hash-agg buffer) costs one
in-memory per-partition sort, which spills safely; accepted.

Fold semantics per key over a batch of decoded mods, ordered by
seq = (commit_ts, record_sequence, mod_number):

- ``_last``     max(struct(seq, op))                  -> was the final event a DELETE?
- ``_del``      max(seq) where op = 'd'               -> the delete barrier
- per column c  max(struct(seq, c)) where c non-null  -> latest written value

Reconstruction: a column's folded value survives iff its seq is after the
delete barrier; otherwise the delete wiped it. Existing table rows rank
before every batch event (batches are applied in commit-ts order by the
engine's partition-DAG gate), so on MERGE an existing value survives only
if the batch had no delete for that key. Exact duplicate records (O12)
are absorbed because every aggregate is max-based (idempotent) — the
explicit dropDuplicates shuffle is reserved for the envelope-emission
path (operators/decode.py dedup_identity).

MERGE is merge-on-read per key-bucket: the folded batch is appended as
delta files on the buckets holding changed keys (sources/lake.py), and
the table's read fold and compaction apply it — batch cost stays
O(delta), not O(table), at 10^10-event scale.

Reference parity: replaces the Kafka emit + commit-callback machinery
(/root/reference processor/SpannerChangeRecordEmitter.java:54-129,
FinishingPartitionManager.java:45-153) with an equivalent
happens-before: a partition's state may move to FINISHED only after the
snapshot containing its records commits (engine.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from debezium_connector_spanner_spark.sources.lake import LakeTable, bucket_expr

CDC_TS_COL = "__cdc_ts"  # last applied commit_ts (epoch micros) per row


def fold_changes(
    decoded: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    n_buckets: int | None = None,
) -> DataFrame:
    """One row per key: post-fold values + delete flags (single agg pass).

    Input: decode_mods output (key cols flattened, seq struct, op, vals).

    With ``n_buckets`` set, the fold shuffle doubles as the sink's bucket
    shuffle: rows are explicitly repartitioned on the key-bucket and the
    bucket joins the grouping keys, so the folded output comes out
    already clustered by bucket — the downstream delta/merge write needs
    NO second shuffle. (bucket = f(key), so grouping by (bucket, key) is
    per-key grouping.)
    """
    if n_buckets is not None:
        decoded = decoded.withColumn("_b", bucket_expr(key_cols, n_buckets))
        decoded = decoded.repartition(n_buckets, F.col("_b"))
        group_cols = ["_b", *key_cols]
    else:
        group_cols = list(key_cols)
    return _fold(decoded, group_cols, key_cols, value_cols)


def fold_changes_salted(
    decoded: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    n_salts: int = 16,
) -> DataFrame:
    """Explicit two-phase hot-key salting (north rule: "hot-key repos are
    salted before the merge-apply shuffle").

    Phase 1 groups by (key, salt) where salt = hash(record identity) % S,
    so a mega-key's millions of events spread over S reducers; phase 2
    combines the S partial folds per key (all aggregates are max-based,
    hence associative). Spark's map-side partial aggregation already gives
    fold_changes this property implicitly; the explicit variant exists for
    the case where partials alone can't save you — e.g. one key's events
    spanning thousands of input partitions — and as the documented skew
    strategy. Results are identical to fold_changes (property-tested).
    """
    salt = F.pmod(
        F.xxhash64(F.col("seq.ts"), F.col("seq.rs"), F.col("seq.mod")), F.lit(n_salts)
    ).alias("_salt")
    partial = _fold(decoded.withColumn("_salt", salt), ["_salt", *key_cols], key_cols, value_cols, project=False)
    # combine partial folds: same max-based aggregates one level up
    aggs = [
        F.max("_last").alias("_last"),
        F.max("_del").alias("_del"),
        F.sum("_n_mods").alias("_n_mods"),
    ]
    for c in value_cols:
        aggs.append(F.max(f"_m_{c}").alias(f"_m_{c}"))
    g = partial.groupBy(*key_cols).agg(*aggs)
    return _project_fold(g, key_cols, value_cols)


def _fold(
    decoded: DataFrame,
    group_cols: list[str],
    key_cols: list[str],
    value_cols: list[str],
    project: bool = True,
) -> DataFrame:
    # written = key present in the new-values JSON (wrt flags from
    # decode_mods) so an explicit-null write participates in the fold;
    # frames without wrt (hand-built test inputs) fall back to value
    # non-null, which conflates explicit null with 'not written'.
    has_wrt = "wrt" in decoded.columns

    def written(c: str) -> F.Column:
        return F.col(f"wrt.{c}") if has_wrt else F.col(f"vals.{c}").isNotNull()

    aggs = [
        F.max(F.struct(F.col("seq"), F.col("op"))).alias("_last"),
        F.max(F.when(F.col("op") == "d", F.col("seq"))).alias("_del"),
        F.count(F.lit(1)).alias("_n_mods"),
    ]
    for c in value_cols:
        aggs.append(
            F.max(
                F.when(
                    written(c),
                    F.struct(F.col("seq").alias("s"), F.col(f"vals.{c}").alias("v")),
                )
            ).alias(f"_m_{c}")
        )
    g = decoded.groupBy(*group_cols).agg(*aggs)
    if not project:
        return g
    return _project_fold(g, group_cols, value_cols)


def _project_fold(g: DataFrame, group_cols: list[str], value_cols: list[str]) -> DataFrame:
    """Project the fold aggregates to output columns.

    Per column: ``c`` = the surviving value (may be an explicit NULL) and
    ``_w_c`` = whether the batch wrote the column at all post-barrier —
    the MERGE needs the flag to distinguish 'set to NULL' (apply) from
    'not written' (keep target value)."""
    cols = [F.col(c) for c in group_cols]
    for c in value_cols:
        survives = F.col(f"_m_{c}").isNotNull() & (
            F.col("_del").isNull() | (F.col(f"_m_{c}.s") > F.col("_del"))
        )
        cols.append(F.when(survives, F.col(f"_m_{c}.v")).alias(c))
        cols.append(survives.alias(f"_w_{c}"))
    cols += [
        (F.col("_last.op") == "d").alias("_is_delete"),
        F.col("_del").isNotNull().alias("_had_delete"),
        F.col("_last.seq.ts").alias("_ts"),
        F.col("_n_mods"),
    ]
    return g.select(*cols)


def merge_into(
    table: LakeTable,
    folded: DataFrame,
    target_schema=None,
    summary: dict | None = None,
    assume_all_buckets: bool = False,
) -> tuple[int, list[int]]:
    """MERGE a folded batch into the table.

    Equivalent to:
        MERGE INTO t USING s ON <keys>
        WHEN MATCHED AND s._is_delete THEN DELETE
        WHEN MATCHED THEN UPDATE SET <fold-aware column merge>
        WHEN NOT MATCHED AND NOT s._is_delete THEN INSERT

    Merge-on-read: the folded batch (tombstones included) is appended as
    delta files on the touched buckets — O(batch) bytes written, no
    reads; the key fold happens at read/compaction time
    (sources/lake.py fold_ranked). Per-batch IO is proportional to the
    delta, with rewrite amplification paid only at compaction cadence.

    ``target_schema`` (StructType) may extend/widen the table schema —
    online additive schema evolution applied with the same commit.
    Returns (new_snapshot_id, touched_buckets).
    """
    key_cols = table.key_cols()
    schema = target_schema or table.schema()
    value_cols = [
        f.name for f in schema.fields if f.name not in key_cols and f.name != CDC_TS_COL
    ]
    n = table.n_buckets()

    pre_bucketed = "_b" in folded.columns
    if not pre_bucketed:
        folded = folded.withColumn("_b", bucket_expr(key_cols, n))

    persisted = False
    if assume_all_buckets:
        # large batch: statistically every bucket is touched — skip the
        # probe job entirely; empty buckets just contribute no files
        touched = list(range(n))
    else:
        # touched-bucket set is tiny (<= n_buckets): cheap driver collect
        # that buys O(delta) instead of O(table) per batch. Persist so the
        # decode+fold shuffle isn't recomputed by the write.
        folded = folded.persist()
        persisted = True
        touched = sorted(r["_b"] for r in folded.select("_b").distinct().collect())
        if not touched:
            folded.unpersist()
            return table.current_snapshot_id(), []

    from pyspark.sql import types as T

    write_schema = schema
    if CDC_TS_COL not in schema.fieldNames():
        write_schema = T.StructType(
            list(schema.fields) + [T.StructField(CDC_TS_COL, T.LongType(), True)]
        )

    has_flags = any(c.startswith("_w_") for c in folded.columns)

    def wflag(c: str) -> F.Column:
        # written-flag per column; legacy folds without flags fall back to
        # value-non-null (explicit nulls then read as 'not written')
        return (
            F.coalesce(F.col(f"_w_{c}"), F.lit(False))
            if has_flags and f"_w_{c}" in folded.columns
            else F.col(c).isNotNull()
        )

    delta = folded.select(
        *key_cols,
        *[F.col(c) for c in value_cols],
        F.col("_ts").cast("long").alias(CDC_TS_COL),
        "_is_delete",
        "_had_delete",
        *[wflag(c).alias(f"__set_{c}") for c in value_cols],
    )
    try:
        sid = table.commit_delta(
            delta,
            touched,
            schema=write_schema,
            summary=summary,
            pre_bucketed=pre_bucketed,
        )
    finally:
        if persisted:
            folded.unpersist()
    return sid, touched
