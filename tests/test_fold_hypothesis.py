"""Hypothesis property: for ARBITRARY event streams (random ops, partial
column writes, explicit nulls, duplicate records, multi-mod records,
random base rows), decode -> fold -> MERGE must reproduce a direct
pandas state-machine simulation — in BOTH fold shapes (fused and
salted), through the merge-on-read delta sink.

Complements the targeted semantics tests with shrinking random
coverage of the delete-barrier / written-flag / identity-dedup
interactions (operators/merge.py fold semantics block).
"""

import json
import os
import tempfile

from hypothesis import given, settings
from hypothesis import strategies as st

from debezium_connector_spanner_spark.operators.decode import decode_mods
from debezium_connector_spanner_spark.operators.merge import (
    fold_changes,
    fold_changes_salted,
    merge_into,
)
from debezium_connector_spanner_spark.sources.event_schema import (
    EVENT_LOG_SCHEMA,
    REPOS_SCHEMA_V1,
)
from debezium_connector_spanner_spark.sources.lake import LakeTable

KEYS = [("r1", "p1"), ("r1", "p2"), ("r2", "p1")]
COLS = ["commit", "lang", "content"]

# one event: key index, op, written-column mask, value seed, dup flag
event_st = st.tuples(
    st.integers(0, len(KEYS) - 1),
    st.sampled_from(["INSERT", "UPDATE", "DELETE"]),
    st.integers(1, 7),  # non-empty subset of COLS as a bitmask
    st.integers(0, 5),  # value seed (0 -> explicit null for that column)
    st.booleans(),  # emit an exact duplicate record
)
stream_st = st.lists(event_st, min_size=1, max_size=14)
base_st = st.integers(0, 7)  # bitmask: which KEYS pre-exist in the base


def _mk_rows(stream):
    rows = []
    for i, (ki, op, mask, seed, dup) in enumerate(stream):
        repo, path = KEYS[ki]
        key = {"repo": repo, "path": path}
        if op == "DELETE":
            new = None
        else:
            new = {}
            for b, c in enumerate(COLS):
                if mask >> b & 1:
                    new[c] = None if (seed + b) % 6 == 0 else f"{c}{i}s{seed}"
        mods = [
            {
                "keys": json.dumps(key, sort_keys=True),
                "new_values": None if new is None else json.dumps(new, sort_keys=True),
                "old_values": None,
            }
        ]
        base = {c: None for c in EVENT_LOG_SCHEMA.fieldNames()}
        base.update(
            record_type="data_change",
            partition_token="t",
            commit_ts=(1 + i // 3) * 1_000,  # ts ties every ~3 events
            record_sequence=str(i),  # unique -> total order deterministic
            server_txn_id=f"x{i}",
            is_last_in_txn_in_partition=True,
            table_name="repos",
            column_types=REPOS_SCHEMA_V1.column_types_json(),
            mods=mods,
            mod_type=op,
            value_capture_type="OLD_AND_NEW_VALUES",
        )
        rows.append(base)
        if dup:
            rows.append(dict(base))  # exact duplicate (O12 identity dedup)
    return rows


def _simulate(rows, base_rows):
    """Direct state machine in (ts, int(rs), mod_number) order with
    identity dedup — independent of every Spark code path."""
    state = {(r["repo"], r["path"]): {c: r[c] for c in COLS} for r in base_rows}
    seen = set()
    flat = []
    for r in rows:
        for mn, m in enumerate(r["mods"]):
            flat.append((r["commit_ts"], int(r["record_sequence"]), mn, r, m))
    flat.sort(key=lambda t: t[:3])
    for ts, rs, mn, r, m in flat:
        ident = (r["partition_token"], ts, r["server_txn_id"], rs, mn)
        if ident in seen:
            continue
        seen.add(ident)
        k = tuple(json.loads(m["keys"])[c] for c in ("repo", "path"))
        if m["new_values"] is None:
            state.pop(k, None)
            continue
        vals = json.loads(m["new_values"])
        if k in state:
            state[k].update(vals)
        else:
            state[k] = {c: vals.get(c) for c in COLS}
    return {
        k: {c: v.get(c) for c in COLS} for k, v in sorted(state.items())
    }


@settings(max_examples=12, deadline=None)
@given(stream=stream_st, base_mask=base_st, salted=st.booleans())
def test_fold_merge_matches_state_machine(spark, stream, base_mask, salted):
    rows = _mk_rows(stream)
    base_rows = [
        {"repo": KEYS[i][0], "path": KEYS[i][1], "commit": f"b{i}", "lang": None, "content": f"bc{i}"}
        for i in range(len(KEYS))
        if base_mask >> i & 1
    ]
    want = _simulate(rows, base_rows)

    import pandas as pd

    pdf = pd.DataFrame(rows)
    pdf["commit_ts"] = pd.to_datetime(pdf["commit_ts"], unit="us")
    ev = spark.createDataFrame(pdf, EVENT_LOG_SCHEMA)
    decoded = decode_mods(ev, REPOS_SCHEMA_V1)
    if salted:
        folded = fold_changes_salted(decoded, ["repo", "path"], COLS, n_salts=4)
    else:
        folded = fold_changes(decoded, ["repo", "path"], COLS)

    root = tempfile.mkdtemp(prefix="fold-hyp-")
    base_df = (
        spark.createDataFrame(
            [(r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in base_rows],
            REPOS_SCHEMA_V1.spark_struct(),
        )
        if base_rows
        else None
    )
    t = LakeTable.create(
        spark,
        os.path.join(root, "t"),
        REPOS_SCHEMA_V1.spark_struct(),
        ["repo", "path"],
        n_buckets=2,
        initial_df=base_df,
    )
    merge_into(t, folded, target_schema=REPOS_SCHEMA_V1.spark_struct())
    got = {
        (r["repo"], r["path"]): {c: r[c] for c in COLS}
        for r in t.read().drop("__cdc_ts").collect()
    }
    assert got == want, (salted, rows)
