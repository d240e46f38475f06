"""Engine configuration validation (collected errors, not fail-fast).

Mirrors the reference's up-front validation layer
(/root/reference config/validation/ConfigurationValidator.java:33-59,
StartEndTimeValidator.java:21-66, FieldValidator.java:40-160,
ChangeStreamValidator.java): every rule runs, every violation is
collected with its field name + offending value, and construction fails
ONCE with the full list — misconfiguration is the first thing a real
user hits, and one-error-per-restart debugging is the failure mode this
layer exists to prevent.

The reference validates Kafka-Connect properties (connection JSON,
heartbeat interval bounds, capture mode, start/end instants, table
regexes, change-stream existence); the Spark engine's analogues are the
constructor parameters validated here (log path + wire-format stream
presence, replay window, fold/compaction/GC/scaler knobs, table filters,
checkpoint-resume compatibility).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

# FieldValidator.java message constants, kept verbatim where the rule
# maps one-to-one
FIELD_NOT_SPECIFIED_MSG = "The field is not specified"
PATH_FIELD_INCORRECT_MSG = "path field is incorrect"
END_AFTER_START_MSG = "End time must be after start time"

WIRE_FORMATS = ("struct", "pg_json", "proto")
WIRE_LOG_DIR = {"struct": "events", "pg_json": "events_pg", "proto": "events_proto"}
SKEW_MODES = ("adaptive", "fused", "salted")
STUCK_POLICIES = ("metric", "requery", "fail")


@dataclass(frozen=True)
class ConfigError:
    field: str
    value: object
    message: str

    def __str__(self) -> str:  # the line format users read in the raise
        return f"{self.field}={self.value!r}: {self.message}"


class ConfigValidationError(ValueError):
    """All violations at once (ConfigurationValidator collects results
    per field into one Config object rather than raising on the first)."""

    def __init__(self, errors: list[ConfigError]):
        self.errors = errors
        lines = "\n  ".join(str(e) for e in errors)
        super().__init__(f"{len(errors)} invalid engine config value(s):\n  {lines}")


def _enum(errors, field, value, allowed):
    if value not in allowed:
        errors.append(ConfigError(field, value, f"must be one of {allowed}"))


def _at_least(errors, field, value, floor, allow_none=False):
    if value is None:
        if not allow_none:
            errors.append(ConfigError(field, value, FIELD_NOT_SPECIFIED_MSG))
        return
    if not isinstance(value, int) or isinstance(value, bool) or value < floor:
        errors.append(ConfigError(field, value, f"must be an integer >= {floor}"))


def _regex(errors, field, value):
    if value is None:
        return
    try:
        re.compile(value)
    except re.error as e:
        errors.append(ConfigError(field, value, f"not a valid regex: {e}"))


def validate_engine_config(
    *,
    events_path: str,
    checkpoint_dir: str,
    start_us,
    end_us,
    n_batches,
    n_buckets,
    wire_format: str,
    compact_every,
    skew_mode: str,
    skew_threshold,
    stuck_policy: str,
    table_include,
    table_exclude,
    max_events_per_batch,
    gc_every,
    gc_keep,
    grow_bucket_bytes,
    scaler_min,
    scaler_max,
    desired_tokens_per_task,
    events_per_task_target,
    tables: dict | None,
    checkpoint: dict | None,
) -> list[ConfigError]:
    """Every rule, every violation; [] means the config is valid.

    ``checkpoint`` is the latest persisted engine state if the
    checkpoint_dir already holds one (resume), else None (fresh start).
    """
    errors: list[ConfigError] = []

    # --- paths / stream existence (ConnectionValidator +
    # ChangeStreamValidator: the stream must exist before streaming) ---
    if not events_path:
        errors.append(ConfigError("events_path", events_path, FIELD_NOT_SPECIFIED_MSG))
    elif not os.path.isdir(events_path):
        errors.append(ConfigError("events_path", events_path, PATH_FIELD_INCORRECT_MSG))
    if not checkpoint_dir:
        errors.append(
            ConfigError("checkpoint_dir", checkpoint_dir, FIELD_NOT_SPECIFIED_MSG)
        )

    _enum(errors, "wire_format", wire_format, WIRE_FORMATS)
    if (
        events_path
        and os.path.isdir(events_path)
        and wire_format in WIRE_LOG_DIR
        and not os.path.isdir(os.path.join(events_path, WIRE_LOG_DIR[wire_format]))
    ):
        errors.append(
            ConfigError(
                "events_path",
                events_path,
                f"no '{WIRE_LOG_DIR[wire_format]}/' log for "
                f"wire_format={wire_format!r} (change stream does not exist)",
            )
        )

    # --- replay window (StartEndTimeValidator.java:44) ---
    for f, v in (("start_us", start_us), ("end_us", end_us)):
        if not isinstance(v, int) or isinstance(v, bool):
            errors.append(ConfigError(f, v, "must be an integer epoch-microseconds"))
        elif v < 0:
            errors.append(ConfigError(f, v, "must be >= 0 (pre-1970 not supported)"))
    if (
        isinstance(start_us, int)
        and isinstance(end_us, int)
        and end_us <= start_us
    ):
        errors.append(ConfigError("end_us", end_us, END_AFTER_START_MSG))

    # --- enums ---
    _enum(errors, "skew_mode", skew_mode, SKEW_MODES)
    _enum(errors, "stuck_policy", stuck_policy, STUCK_POLICIES)

    # --- numeric bounds ---
    _at_least(errors, "n_batches", n_batches, 1)
    _at_least(errors, "n_buckets", n_buckets, 1)
    _at_least(errors, "compact_every", compact_every, 1)
    _at_least(errors, "max_events_per_batch", max_events_per_batch, 1, allow_none=True)
    _at_least(errors, "gc_every", gc_every, 1)
    # gc_keep >= 2: the resume target (latest durable checkpoint) must
    # survive a crash with the newest checkpoint write still in flight
    _at_least(errors, "gc_keep", gc_keep, 2)
    _at_least(errors, "grow_bucket_bytes", grow_bucket_bytes, 1, allow_none=True)
    _at_least(errors, "scaler_min", scaler_min, 1)
    _at_least(errors, "scaler_max", scaler_max, 1, allow_none=True)
    if (
        isinstance(scaler_min, int)
        and isinstance(scaler_max, int)
        and scaler_max < scaler_min
    ):
        errors.append(
            ConfigError("scaler_max", scaler_max, "must be >= scaler_min")
        )
    _at_least(errors, "desired_tokens_per_task", desired_tokens_per_task, 1)
    _at_least(errors, "events_per_task_target", events_per_task_target, 1)
    if not isinstance(skew_threshold, (int, float)) or not (0 < skew_threshold <= 1):
        errors.append(
            ConfigError("skew_threshold", skew_threshold, "must be in (0, 1]")
        )

    # --- table filters (SpannerTableFilter regex config) ---
    _regex(errors, "table_include", table_include)
    _regex(errors, "table_exclude", table_exclude)

    # --- fresh vs resume ---
    if checkpoint is None:
        if not tables:
            errors.append(
                ConfigError(
                    "tables",
                    tables,
                    "initial_schema or tables required for a fresh engine",
                )
            )
    else:
        # checkpoint-dir compatibility: resuming under a different wire
        # dialect would replay different byte logs against committed
        # offsets; refuse up front (older checkpoints lack the field)
        ck_wire = checkpoint.get("wire_format")
        if ck_wire is not None and ck_wire != wire_format:
            errors.append(
                ConfigError(
                    "wire_format",
                    wire_format,
                    f"checkpoint at {checkpoint_dir!r} was written with "
                    f"wire_format={ck_wire!r}",
                )
            )
        if tables:
            ck_tables = set(checkpoint.get("tables", {}))
            extra = sorted(set(tables) - ck_tables)
            if extra:
                errors.append(
                    ConfigError(
                        "tables",
                        extra,
                        "not present in the resumed checkpoint "
                        f"(checkpointed tables: {sorted(ck_tables)})",
                    )
                )
    return errors
